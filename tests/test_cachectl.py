"""cachectl: the one trained-model memo, and what a cold benchmark
run drops before it is timed — Spark's CacheManager and that memo —
so the next build of a trained query trains again."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE, jobs_run
from wilayah_aceh_etl_spark import cachectl as C
from wilayah_aceh_etl_spark.cachectl import clear_computed_caches
from wilayah_aceh_etl_spark.operators import ml_train as M
from wilayah_aceh_etl_spark.operators import similarity as S
from wilayah_aceh_etl_spark.plans.registry import all_specs
from wilayah_aceh_etl_spark.sources.tables import load_table


def _labelled_embeddings(spark):
    return load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id",
        "embedding",
        F.when(F.col("label") < 5, 1).otherwise(0).alias("y"),
    )


def test_clear_computed_caches_forces_retraining(spark):
    fn = all_specs()["similarity_ivf_trained_topk"].fn

    def build():
        return fn(spark, SF_SMOKE)

    build().collect()  # trains, or finds the memo
    assert jobs_run(spark, build)[1] == 0  # a memo hit trains nothing
    M.logreg_fit_trajectory_cached(
        _labelled_embeddings(spark), cache_key="cachectl", n_iter=1
    )
    spark.range(3).cache().count()
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    assert C._MODEL_MEMO and not cache_manager.isEmpty()

    clear_computed_caches(spark)

    assert not C._MODEL_MEMO and cache_manager.isEmpty()
    # Lloyd's seed scan, then a map and a result stage per iteration
    assert jobs_run(spark, build)[1] >= 5


def test_trainers_share_one_memo(spark):
    """A KMeans entry and a logreg entry over the same corpus and
    cache_key coexist in the one memo: the trainer's name in `params`
    keeps them apart, so neither evicts the other. One
    clear_computed_caches empties both."""
    emb = _labelled_embeddings(spark)
    S.kmeans_centroids_cached(emb, "one-memo", n_centroids=2, n_iter=1)
    M.logreg_fit_trajectory_cached(emb, cache_key="one-memo", n_iter=1)
    ours = [k for k in C._MODEL_MEMO if k[0][1] == "one-memo"]
    assert {k[0][0] for k in ours} == {
        "kmeans_centroids",
        "logreg_fit_trajectory",
    }
    assert len({k[1:] for k in ours}) == 1  # one corpus identity

    clear_computed_caches(spark)

    assert not C._MODEL_MEMO
