"""Parquet table sources for the driver's star schema.

Analog of the reference's relational scan (SURVEY S6,
reference server.js:415-419): here a columnar Parquet scan that
Catalyst can push filters/projections into (check `.explain` for
PushedFilters / ReadSchema — the 100 TB contract is that a 2-column
query reads 2 columns).
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from wilayah_aceh_etl_spark.session import ensure_session_defaults

# The declared star schema: one DDL per table, written out as the
# parquet files store it. The three date columns are TIMESTAMP_NTZ
# because the files hold isAdjustedToUTC=false microseconds.
STAR_SCHEMAS = {
    "region": "r_regionkey INT, r_name STRING",
    "nation": "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer": (
        "c_custkey BIGINT, c_name STRING, c_nationkey INT, "
        "c_acctbal DOUBLE, c_mktsegment STRING"
    ),
    "supplier": (
        "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE"
    ),
    "part": (
        "p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, "
        "p_size INT, p_retailprice DOUBLE"
    ),
    "orders": (
        "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
        "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, "
        "o_orderpriority STRING"
    ),
    "lineitem": (
        "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, "
        "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, "
        "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, "
        "l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"
    ),
    "events": (
        "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, "
        "event_type STRING, value DOUBLE, props STRING"
    ),
    "documents": (
        "doc_id BIGINT, text STRING, lang STRING, source STRING, "
        "n_chars BIGINT"
    ),
    "embeddings": "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
}

STAR_TABLES = tuple(STAR_SCHEMAS)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _footer_columns(path: str) -> list[str]:
    """The column names in the parquet footer of `path`, or of its
    first part file when `path` is a directory of them (Spark's
    output layout). A directory without part files has none."""
    if os.path.isdir(path):
        parts = sorted(
            f for f in os.listdir(path) if not f.startswith(("_", "."))
        )
        if not parts:
            return []
        path = os.path.join(path, parts[0])
    return pq.read_schema(path).names


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one star-schema table under its declared schema. Plain
    parquet scan — no caching, no collect, no Spark job; filters and
    pruning compose on top declaratively.

    A declared schema reads a column the file lacks as NULLs, so the
    file's column names (one pyarrow footer read, no Spark job) must
    be the declared ones, or this raises a ValueError naming the
    table and the columns."""
    ensure_session_defaults(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.schema(STAR_SCHEMAS[name]).parquet(path)
    found = _footer_columns(path)
    missing = [c for c in df.columns if c not in found]
    extra = [c for c in found if c not in df.columns]
    if missing or extra:
        raise ValueError(
            f"{path}: table {name} lacks declared columns {missing} "
            f"and has undeclared columns {extra}"
        )
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

    The probe (plan → RDD conversion) runs no Spark job; it costs
    ~50-110 ms per call (sf0.1 documents scan, local[3])."""
    try:
        sc = df.sparkSession.sparkContext
    except Exception:  # Spark Connect: no sparkContext / RDD surface
        return df
    goal = target or sc.defaultParallelism
    try:
        n_parts = df.rdd.getNumPartitions()
    except Exception:
        return df
    if n_parts < goal:
        return df.repartition(goal)
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so `spark.sql` queries can
    bind by name (mirrors the driver's DuckDB-side view registry)."""
    for name in STAR_TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
