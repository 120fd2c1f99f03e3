"""SparkSession construction with scale-appropriate defaults.

The reference amortizes connection cost with a pg pool
(reference lib/postgres.js:9-14); our analog is one long-lived
SparkSession with AQE enabled so runtime statistics re-plan joins,
coalesce post-shuffle partitions, and split skewed partitions.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# Conf that must be set before JVM start.
#
# shuffle.partitions is scale-parameterised (r12 optimization
# round): default = the session's core count (SPARK_GRAFT_CPUS,
# falling back to the historical 32), overridable with
# SPARK_GRAFT_SHUFFLE_PARTITIONS. On a real cluster the production
# value is sized so post-shuffle partitions land in the 100 MB–1 GB
# range (guide §2.2) — e.g. ~100k for a 100 TB shuffle at 1 GB — and
# AQE's coalescePartitions (enabled below) adapts the effective
# count downward per query, so the static value is a ceiling, not a
# tuning knob. Locally CPUS=32 keeps the driver's bench comparable
# with rounds 1–11 (which ran a constant 32).
def _env_int(value: str | None, fallback: int) -> int:
    """Validated env-int: an empty or non-numeric value falls back
    instead of flowing verbatim into the build-time conf and failing
    at JVM start with an opaque error (r12 advice). Note the parity
    battery's oracle hash checks were validated at the default
    partition count (32) and at 7 (local[7]/CPUS=7 sweeps); other
    values change float-sum aggregation order, which the queries'
    deterministic-aggregation contracts are designed to tolerate,
    but 32 stays the validated default."""
    try:
        return int(value)  # type: ignore[arg-type]
    except (TypeError, ValueError):
        return fallback


def _shuffle_partitions() -> int:
    """SPARK_GRAFT_SHUFFLE_PARTITIONS, else SPARK_GRAFT_CPUS, else 32;
    each variable is validated on its own, so a bad first one falls
    back to a valid second one."""
    return _env_int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS"),
        _env_int(os.environ.get("SPARK_GRAFT_CPUS"), 32),
    )


_BUILD_TIME_CONF = {
    "spark.sql.shuffle.partitions": str(_shuffle_partitions()),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    "spark.sql.parquet.compression.codec": "snappy",
    # 128 MB input splits — the right granularity for TB-scale scans;
    # harmless at test scale.
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}

# Conf that is runtime-settable; applied to *any* session we are
# handed (the driver builds its own session for verify runs).
_RUNTIME_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # 64 MB broadcast threshold: every dim table in the star schema
    # broadcasts; at 100 TB only the fact tables shuffle.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # events.parquet carries TIMESTAMP(NANOS) which Spark rejects by
    # default; read as long nanos, normalized to micros in load_table.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # let Python DataSources (sources/geojson_datasource.py) receive
    # pushFilters during planning
    "spark.sql.python.filterPushdown.enabled": "true",
}


_DEFAULTED_SESSIONS: set[int] = set()


def ensure_session_defaults(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable defaults to an existing session.

    Safe to call repeatedly; used at the top of every public query
    function so driver-owned sessions get deterministic timezone and
    AQE behavior. Memoized per session object — load_table calls this
    on every scan, and each conf.set is a py4j round-trip.
    """
    key = id(spark)
    if key in _DEFAULTED_SESSIONS:
        return spark
    for k, v in _RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # immutable in this session build; accept its value
    _DEFAULTED_SESSIONS.add(key)
    return spark


def get_spark(
    app_name: str = "wilayah-aceh-etl-spark",
    master: str | None = None,
    **extra_conf: str,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults."""
    builder = SparkSession.builder.appName(app_name)
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None and cpus:
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    env_conf = {}
    extra = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    for pair in extra.split(";"):
        if "=" in pair:
            k, v = pair.split("=", 1)
            env_conf[k.strip()] = v.strip()
    for k, v in {**_BUILD_TIME_CONF, **extra_conf, **env_conf}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return ensure_session_defaults(spark)


def local_frame(
    spark: SparkSession, rows, schema: str | StructType
) -> DataFrame:
    """A DataFrame over driver-held rows (tuples or Rows in schema
    order) as a JVM-local relation. `createDataFrame(<list>)` makes a
    LogicalRDD over a PythonRDD: reading it starts Python workers,
    and two such frames over the same values never compare equal in
    a plan. An Arrow table becomes a LocalRelation (below
    `spark.sql.execution.arrow.localRelationThreshold`, 48 MB):
    collected or read by a scalar subquery without a Spark job, with
    no Python worker, and exact for -0.0, subnormals and the largest
    double."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if not isinstance(schema, StructType):
        schema = StructType.fromDDL(schema)
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows],
        schema=to_arrow_schema(schema),
    )
    return spark.createDataFrame(table, schema)
