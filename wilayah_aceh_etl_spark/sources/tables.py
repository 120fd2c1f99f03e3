"""Parquet table sources for the driver's star schema.

Analog of the reference's relational scan (SURVEY S6,
reference server.js:415-419): here a columnar Parquet scan that
Catalyst can push filters/projections into (check `.explain` for
PushedFilters / ReadSchema — the 100 TB contract is that a 2-column
query reads 2 columns).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from wilayah_aceh_etl_spark.session import ensure_session_defaults

STAR_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Parquet-footer schema memo, keyed by PATH with the validity stamp
# (mtime_ns, size) stored in the VALUE (r12 advice): a rewrite
# replaces the old entry instead of leaving superseded generations
# behind, so a long-lived driver that rewrites tables holds exactly
# one entry per path, and st_mtime_ns gives the finest invalidation
# granularity the filesystem offers. Metadata only — never rows:
# the first scan of a table in a process pays the footer read
# (schema inference is a JVM job: measured 67-80 ms per call at
# sf0.1), every later scan passes the schema explicitly (11 ms).
# This is what a manifest-backed catalog (Iceberg/Delta) provides
# for free at scale (optimization guide §6); bench-wise it moves
# ~60 ms × n_tables out of every timed DataFrame build while the
# cold path (fresh process, first touch — i.e. the warm-up run)
# still reads the footer from the parquet input.
_SCHEMA_MEMO: dict[str, tuple[int, int, "object"]] = {}

# spread()'s partition-count probe memo: (plan semanticHash, goal)
# → (SparkContext, observed scan partition count). Metadata only
# (see spread's docstring); a stale entry can only change a
# repartition decision. The context rides in the VALUE (r12 advice)
# so a restarted driver — whose new context may have a different
# defaultParallelism and different scan splits — never reuses
# counts probed under the old one;
# dead-context entries are swept whenever a rebuild happens.
_SPREAD_MEMO: dict[tuple[int, int], tuple[object, int]] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one star-schema table. Plain parquet scan — no caching,
    no collect; filters/pruning compose on top declaratively.

    Nanosecond timestamp columns (events.ts) arrive as long nanos
    (see session._RUNTIME_CONF) and are normalized to micros with
    integer division — the same truncation DuckDB applies, so both
    engines see identical values.
    """
    ensure_session_defaults(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        import stat as _stat

        st = os.stat(path)
        # memoize REGULAR FILES only: a directory's mtime/size does
        # not change when files inside nested partition subdirs are
        # rewritten or appended, so a directory-backed dataset could
        # be served a stale schema — directories skip the memo and
        # pay per-call inference (r12 review finding)
        stamp = (
            (st.st_mtime_ns, st.st_size)
            if _stat.S_ISREG(st.st_mode)
            else None
        )
    except OSError:
        stamp = None
    hit = _SCHEMA_MEMO.get(path) if stamp is not None else None
    if hit is not None and (hit[0], hit[1]) == stamp:
        df = spark.read.schema(hit[2]).parquet(path)
    else:
        df = spark.read.parquet(path)
        if stamp is not None:
            _SCHEMA_MEMO[path] = (*stamp, df.schema)
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    if name == "events" and isinstance(df.schema["ts"].dataType, LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def spread(df: DataFrame, target: int | None = None) -> DataFrame:
    """Round-robin repartition IFF the scan has fewer partitions than
    the cluster has cores.

    Remedy for the small-input trap: a table stored as one parquet
    file scans as ONE partition, so any explode-heavy derivation
    (shingles, token explodes, embedding unnests) runs on one core
    no matter how wide the cluster. At real scale the scan already
    has ≥cores partitions and this is a no-op — the shuffle only
    happens when the input is small enough that shuffling it is
    cheap by construction.

    Under Spark Connect the partition probe (RDD API) does not
    exist; the helper then returns the input unchanged — the
    conservative choice, since the alternative (unconditional
    repartition) would shuffle a full-size scan, and on a real
    cluster input splitting already provides the parallelism this
    guard exists to recover.

    The probe (plan → RDD conversion) costs ~55 ms of driver time
    per call, so its RESULT is memoized by the plan's semanticHash
    (analysis-only, ~9 ms): re-building the same query in one
    process — e.g. bench.py's warm-up + 3 timed runs — probes once.
    A hash collision or a file mutated mid-process could only
    return a stale partition COUNT, which steers the repartition
    heuristic, never the rows. Both staleness directions are
    perf-only and process-scoped: a table rewritten into FEWER files
    mid-process keeps the old, higher count and the spread is
    suppressed until the process restarts (r12 review finding —
    accepted; pipelines that rewrite their own inputs mid-flight
    should pass an explicit `target`)."""
    try:
        sc = df.sparkSession.sparkContext
    except Exception:  # Spark Connect: no sparkContext / RDD surface
        return df
    goal = target or sc.defaultParallelism
    try:
        key = (df.semanticHash(), goal)
    except Exception:
        key = None
    hit = _SPREAD_MEMO.get(key) if key is not None else None
    n_parts = hit[1] if hit is not None and hit[0] is sc else None
    if n_parts is None:
        try:
            n_parts = df.rdd.getNumPartitions()
        except Exception:
            return df
        if key is not None:
            # rebuilding: sweep entries bound to dead contexts so a
            # driver that cycles sessions neither reuses counts
            # probed under another context nor grows this dict
            # unboundedly (r12 advice)
            for k in [k for k, v in _SPREAD_MEMO.items() if v[0] is not sc]:
                del _SPREAD_MEMO[k]
            _SPREAD_MEMO[key] = (sc, n_parts)
    if n_parts < goal:
        return df.repartition(goal)
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so `spark.sql` queries can
    bind by name (mirrors the driver's DuckDB-side view registry)."""
    for name in STAR_TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
