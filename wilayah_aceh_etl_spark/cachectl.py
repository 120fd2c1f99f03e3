"""Cache control for honest (cold) benchmarking.

The engine keeps two kinds of module-level state:

1. **Metadata memos** — parquet-footer schemas
   (`sources.tables._SCHEMA_MEMO`) and RDD-partition-count probes
   (`sources.tables._SPREAD_MEMO`). These hold *StructType / int*
   objects, never rows and never anything derived from data values.
   They are what a manifest-backed catalog provides for free and
   are NOT cleared for cold timing.

2. **Computed-result state** — Spark's CacheManager entries for the
   `persist()`ed intermediates inside query functions, plus the
   trained-model float memos (`_TRAINED_CENTROID_CACHE` /
   `_TRAINED_CENTROID_DF_CACHE` in operators.similarity and
   `_TRAJECTORY_CACHE` in operators.ml_train). These ARE derived
   from data. A timed run that reads them measures a cache read,
   not execution, so cold benchmarking must drop them first.

`clear_computed_caches(spark)` clears category 2 only. bench.py
calls it before every cold-timed iteration so each cold figure pays
the full computation from the parquet inputs (kmeans training
included).
"""

from __future__ import annotations


def clear_computed_caches(spark) -> None:
    """Drop every computed-result cache: the session's CacheManager
    entries and the trained-model float memos. Metadata memos
    (schemas, partition-count probes) survive — they cannot hold
    results."""
    spark.catalog.clearCache()

    from wilayah_aceh_etl_spark.operators import ml_train, similarity

    similarity._TRAINED_CENTROID_CACHE.clear()
    similarity._TRAINED_CENTROID_DF_CACHE.clear()
    ml_train._TRAJECTORY_CACHE.clear()
