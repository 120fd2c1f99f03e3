from __future__ import annotations

import os
import sys
from contextlib import contextmanager

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


def pytest_addoption(parser):
    parser.addoption(
        "--full",
        action="store_true",
        default=False,
        help="run the FULL battery (the complete 511-query parity "
        "sweep and the other full-marked slow tests). Equivalent: "
        "SPARK_GRAFT_FULL_TESTS=1.",
    )


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "full: full-battery tests (complete parity sweep, slow "
        "end-to-end batteries). Deselected by default so the "
        "driver's verify window can finish; run with --full or "
        "SPARK_GRAFT_FULL_TESTS=1 (the pre-commit battery).",
    )


def _run_full(config) -> bool:
    """--full, or SPARK_GRAFT_FULL_TESTS set to a truthy word: "0",
    "false" and the like leave the full battery off."""
    env = os.environ.get("SPARK_GRAFT_FULL_TESTS", "").strip().lower()
    return bool(config.getoption("--full")) or env in ("1", "true", "yes", "on")


def pytest_collection_modifyitems(config, items):
    # The r12 driver verify was cut off mid-suite: 1337 tests at
    # ~27 min no longer fit the verify window (VERDICT r12, ask #2).
    # Default collection DESELECTS full-marked items (they still run
    # in the pre-commit battery via --full); the default set keeps
    # every focused operator test plus a parity core (driver gate
    # window + bench set + this round's touched families).
    if _run_full(config):
        return
    selected = [i for i in items if "full" not in i.keywords]
    deselected = [i for i in items if "full" in i.keywords]
    if deselected:
        config.hook.pytest_deselected(items=deselected)
        items[:] = selected


@pytest.fixture(scope="session")
def spark():
    from wilayah_aceh_etl_spark.session import get_spark

    spark = get_spark("tests", master="local[8]")
    yield spark


def jobs_run(spark, fn):
    """(fn(), the number of Spark jobs it ran, read from statusTracker
    under a job group of its own)."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs_run_{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@contextmanager
def split_layout(spark):
    """Staged table writes inside this block split into up to 8 range
    files, as a table that outgrew one file per range does: AQE
    partition coalescing is off and the shuffle width is fixed at 8,
    whatever the core count. Both settings are restored on exit."""
    conf = {
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.shuffle.partitions": "8",
    }
    old = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def write_star_table(df, sf_dir, name):
    """Write `df` as star table `name` under `sf_dir` in its declared
    schema: each column cast to its declared type, each declared
    column `df` lacks written as NULLs and any other column dropped.
    A planted table then carries only what its test reads, and
    `load_table` still accepts it."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    from wilayah_aceh_etl_spark.sources.tables import STAR_SCHEMAS

    df.select(
        *[
            (F.col(f.name) if f.name in df.columns else F.lit(None))
            .cast(f.dataType)
            .alias(f.name)
            for f in StructType.fromDDL(STAR_SCHEMAS[name]).fields
        ]
    ).write.mode("overwrite").parquet(os.path.join(sf_dir, f"{name}.parquet"))


@pytest.fixture(scope="session")
def duck():
    import duckdb

    from wilayah_aceh_etl_spark.sources.tables import STAR_TABLES

    con = duckdb.connect()
    for t in STAR_TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{SF_SMOKE}/{t}.parquet')"
        )
    yield con
    con.close()
