"""cachectl.clear_computed_caches: what a cold benchmark run drops
before it is timed — Spark's CacheManager and the trained-model
memos — so the next build of a trained query trains again."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE, jobs_run
from wilayah_aceh_etl_spark.cachectl import clear_computed_caches
from wilayah_aceh_etl_spark.operators import ml_train as M
from wilayah_aceh_etl_spark.operators import similarity as S
from wilayah_aceh_etl_spark.plans.registry import all_specs
from wilayah_aceh_etl_spark.sources.tables import load_table


def test_clear_computed_caches_forces_retraining(spark):
    fn = all_specs()["similarity_ivf_trained_topk"].fn

    def build():
        return fn(spark, SF_SMOKE)

    build().collect()  # trains, or finds the memo
    assert jobs_run(spark, build)[1] == 0  # a memo hit trains nothing
    emb = load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id",
        "embedding",
        F.when(F.col("label") < 5, 1).otherwise(0).alias("y"),
    )
    M.logreg_fit_trajectory_cached(emb, cache_key="cachectl", n_iter=1)
    spark.range(3).cache().count()
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    memos = (
        S._TRAINED_CENTROID_CACHE,
        S._TRAINED_CENTROID_DF_CACHE,
        M._TRAJECTORY_CACHE,
    )
    assert all(memos) and not cache_manager.isEmpty()

    clear_computed_caches(spark)

    assert not any(memos) and cache_manager.isEmpty()
    # Lloyd's seed scan, then a map and a result stage per iteration
    assert jobs_run(spark, build)[1] >= 5
