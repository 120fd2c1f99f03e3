"""Cache control for honest (cold) benchmarking.

The engine's computed-result state is Spark's CacheManager entries
for the `persist()`ed intermediates inside query functions, plus the
trained-model float memos (`_TRAINED_CENTROID_CACHE` /
`_TRAINED_CENTROID_DF_CACHE` in operators.similarity and
`_TRAJECTORY_CACHE` in operators.ml_train). It is derived from data.
A timed run that reads it measures a cache read, not execution, so
cold benchmarking must drop it first.

`clear_computed_caches(spark)` clears all of it. bench.py calls it
before every cold-timed iteration so each cold figure pays the full
computation from the parquet inputs (kmeans training included).
"""

from __future__ import annotations


def clear_computed_caches(spark) -> None:
    """Drop every computed-result cache: the session's CacheManager
    entries and the trained-model float memos."""
    spark.catalog.clearCache()

    from wilayah_aceh_etl_spark.operators import ml_train, similarity

    similarity._TRAINED_CENTROID_CACHE.clear()
    similarity._TRAINED_CENTROID_DF_CACHE.clear()
    ml_train._TRAJECTORY_CACHE.clear()
