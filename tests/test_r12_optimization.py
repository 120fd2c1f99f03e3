"""Focused tests for operator-internal plan choices: the declared
star-table scan and the `spread` small-input guard in
sources/tables.py, the array-form MinHash pipeline and the map-side
IVF serve.

`load_table` reads each star table under its declared DDL
(`STAR_SCHEMAS`), so the tests pin that the DDL is what Spark infers
from the files, that a scan runs no Spark job, and that a file which
does not carry the declared columns is refused.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql.types import StructType, TimestampNTZType

from tests.conftest import SF_CORRECT, SF_SMOKE, jobs_run
from wilayah_aceh_etl_spark.sources import tables as T

SF = "/root/testdata/sf0.001"
SCALE_FACTORS = (SF_SMOKE, SF_CORRECT, T.DEFAULT_SF_DIR)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_declared_schemas_equal_inferred_schemas(spark, tmp_path):
    """Every DDL is the schema Spark infers from the files: all ten
    tables at three scale factors (sf0.001, sf0.01 and the default
    sf0.1), and the `documents`/`embeddings`
    files the benchmark's input generator writes with pyarrow."""
    from perfbench import inputs

    inputs.write_tables(inputs.make_tables(1), str(tmp_path))
    paths = [(sf, name) for sf in SCALE_FACTORS for name in T.STAR_TABLES]
    paths += [(str(tmp_path), name) for name in inputs.SIZES]
    for sf, name in paths:
        inferred = spark.read.parquet(os.path.join(sf, f"{name}.parquet"))
        declared = StructType.fromDDL(T.STAR_SCHEMAS[name])
        assert declared == inferred.schema, (sf, name)
        assert T.load_table(spark, sf, name).schema == declared, (sf, name)


def test_load_table_runs_no_job_and_repeats_rows(spark):
    for name in T.STAR_TABLES:
        _df, jobs = jobs_run(spark, lambda: T.load_table(spark, SF, name))
        assert jobs == 0, name
    inferred = spark.read.parquet(os.path.join(SF, "nation.parquet"))
    first = _rows(T.load_table(spark, SF, "nation"))
    assert first == _rows(inferred)
    assert _rows(T.load_table(spark, SF, "nation")) == first


def _write_nation(spark, src: str, exprs: list[str]) -> None:
    """nation.parquet under `src` as ONE regular file, the layout of
    the testdata tables."""
    import glob
    import shutil
    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        spark.range(5).selectExpr(*exprs).coalesce(1).write.parquet(
            os.path.join(tmp, "out")
        )
        part = glob.glob(os.path.join(tmp, "out", "part-*.parquet"))[0]
        shutil.copyfile(part, os.path.join(src, "nation.parquet"))


def test_load_table_serves_a_rewrite_not_a_stale_copy(spark, tmp_path):
    src = str(tmp_path)
    cols = ["CAST(id AS INT) AS n_nationkey", "'n' || id AS n_name"]
    _write_nation(spark, src, [*cols, "CAST(id AS INT) AS n_regionkey"])
    first = T.load_table(spark, src, "nation")
    assert [r.n_regionkey for r in first.orderBy("n_nationkey").collect()] \
        == [0, 1, 2, 3, 4]
    _write_nation(spark, src, [*cols, "CAST(id * 2 AS INT) AS n_regionkey"])
    second = T.load_table(spark, src, "nation")
    assert [r.n_regionkey for r in second.orderBy("n_nationkey").collect()] \
        == [0, 2, 4, 6, 8]


@pytest.mark.parametrize(
    "exprs, named",
    [
        # renamed: the undeclared name and the declared one it replaced
        (["CAST(id AS INT) AS n_nationkey", "'n' || id AS n_name",
          "CAST(id AS INT) AS n_region"], ["n_regionkey", "n_region"]),
        # missing: a declared scan would read it as NULLs
        (["CAST(id AS INT) AS n_nationkey", "'n' || id AS n_name"],
         ["n_regionkey"]),
    ],
)
def test_load_table_rejects_renamed_or_missing_column(
    spark, tmp_path, exprs, named
):
    _write_nation(spark, str(tmp_path), exprs)

    def load():
        with pytest.raises(ValueError) as err:
            T.load_table(spark, str(tmp_path), "nation")
        return err

    err, jobs = jobs_run(spark, load)
    assert jobs == 0
    assert "nation" in str(err.value)
    for col in named:
        assert repr(col) in str(err.value)


def test_load_table_reads_a_spark_written_directory(spark, tmp_path):
    """A table written by Spark as a directory of part files (the
    layout of `tools/make_sf1.py` output) loads with no job and the
    source rows."""
    src = T.load_table(spark, SF, "orders")
    src.repartition(3).write.parquet(str(tmp_path / "orders.parquet"))
    df, jobs = jobs_run(
        spark, lambda: T.load_table(spark, str(tmp_path), "orders")
    )
    assert jobs == 0
    assert _rows(df) == _rows(src)


def test_events_ts_is_timestamp_and_nanos_ts_raises_on_collect(
    spark, tmp_path
):
    """events.ts is declared TIMESTAMP_NTZ, the microseconds the
    files store. A file holding TIMESTAMP(NANOS) is not read as
    anything else: its scan fails when it runs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    assert T.load_table(spark, SF, "events").schema["ts"].dataType \
        == TimestampNTZType()
    events = pa.table({
        "event_id": pa.array([1], pa.int64()),
        "ts": pa.array([1_700_000_000_000_000_123], pa.timestamp("ns")),
        "user_id": pa.array([1], pa.int64()),
        "event_type": ["click"],
        "value": [1.0],
        "props": ["{}"],
    })
    pq.write_table(events, str(tmp_path / "events.parquet"),
                   coerce_timestamps=None, version="2.6")
    df = T.load_table(spark, str(tmp_path), "events")
    with pytest.raises(Exception, match="PARQUET_COLUMN_DATA_TYPE_MISMATCH"):
        df.collect()


def test_spread_repartitions_a_small_scan_to_target(spark):
    df = T.load_table(spark, SF, "nation").select("n_nationkey")
    assert df.rdd.getNumPartitions() == 1
    out = T.spread(df, target=4)
    assert out.rdd.getNumPartitions() == 4
    assert _rows(out) == _rows(df)


def test_spread_leaves_a_wide_scan_alone(spark):
    df = T.load_table(spark, SF, "nation").select("n_nationkey")
    assert T.spread(df, target=1) is df
    wide = df.repartition(8)
    assert T.spread(wide, target=4) is wide


def test_minhash_array_form_matches_exploded_pipeline(spark):
    """verified_near_dup_pairs runs on per-doc shingle arrays
    (map-side array_min signatures, array_intersect verify). Pin
    bit-identity against the exploded pipeline, built here from the
    still-exported helpers."""
    from pyspark.sql import functions as F

    import wilayah_aceh_etl_spark.operators.dedup as D

    docs = T.load_table(spark, SF, "documents")
    new = sorted(
        map(tuple, D.verified_near_dup_pairs(docs, threshold=0.5).collect())
    )
    sh = D.distinct_shingles(docs, "doc_id")
    cands = D.lsh_candidate_pairs(
        D.lsh_band_hashes(D.minhash_signatures(sh, D.DEFAULT_K))
    )
    old = sorted(
        map(
            tuple,
            D.jaccard_for_pairs(cands, sh)
            .filter(F.col("jaccard") >= 0.5)
            .select("doc_a", "doc_b", "jaccard")
            .collect(),
        )
    )
    assert new == old and len(new) > 0


def test_array_form_signatures_match_oracle_family(spark):
    """Pin the SIGNATURES (not just the verified pairs) of the
    array-persisted pipeline to md5(seed#shingle) — the family the
    DuckDB oracle re-derives. Regression guard for the PySpark
    lambda-arity trap: a transform() lambda with a second (even
    defaulted) parameter silently receives the ELEMENT INDEX column
    instead of the closed-over seed, producing a different-but-
    plausible hash family whose candidate set only coincidentally
    agrees with the oracle's. The lambda-built components are the
    independent reference for the pipeline's SQL-text `_mh_comp`."""
    from pyspark.sql import functions as F

    import wilayah_aceh_etl_spark.operators.dedup as D
    from wilayah_aceh_etl_spark.functions.text import (
        minhash_component,
        word_shingles,
    )

    docs = T.load_table(spark, SF, "documents")
    oracle_family = sorted(
        map(
            tuple,
            D.minhash_signatures(
                D.distinct_shingles(docs, "doc_id"), D.DEFAULT_K
            ).collect(),
        )
    )
    arr = docs.select(
        "doc_id",
        F.array_distinct(word_shingles("text", 3)).alias("_sh"),
    ).filter(F.size("_sh") > 0)
    comps = [
        F.array_min(
            F.transform(F.col("_sh"), lambda s: minhash_component(s, seed))
        ).alias(f"mh{seed}")
        for seed in range(D.DEFAULT_K)
    ]
    array_family = sorted(
        map(tuple, arr.select("doc_id", *comps).collect())
    )
    assert array_family == oracle_family
    sql_family = sorted(
        map(
            tuple,
            arr.select(
                "doc_id", *[D._mh_comp(seed) for seed in range(D.DEFAULT_K)]
            ).collect(),
        )
    )
    assert sql_family == array_family


def test_minhash_repeat_runs_reuse_cache_entries(spark):
    """Repeated verified_near_dup_pairs builds must canonicalize to
    the same plan — CacheManager keeps its one entry (the shingle
    array relation), not +1 per call."""
    import wilayah_aceh_etl_spark.operators.dedup as D

    docs = T.load_table(spark, SF, "documents")
    D.verified_near_dup_pairs(docs, threshold=0.5).collect()
    before = len(spark._jsc.sc().getRDDStorageInfo())
    D.verified_near_dup_pairs(docs, threshold=0.5).collect()
    after = len(spark._jsc.sc().getRDDStorageInfo())
    assert after == before


def test_minhash_lsh_pairs_job_count(spark):
    """dedup_minhash_lsh_pairs at sf0.01 from an empty cache runs at
    most 11 Spark jobs (statusTracker): one shingle-array cache
    build, one band grouping, no shingle explode in the verify."""
    from wilayah_aceh_etl_spark.plans.registry import all_specs

    spark.catalog.clearCache()
    fn = all_specs()["dedup_minhash_lsh_pairs"].fn
    try:
        rows, jobs = jobs_run(spark, lambda: fn(spark, SF_CORRECT).collect())
    finally:
        spark.catalog.clearCache()
    assert len(rows) == 25
    assert jobs <= 11


def test_ivf_trained_topk_serves_map_side(spark):
    """A warm similarity_ivf_trained_topk serve (sf0.001): the trained
    centroids are a LocalRelation, not a LogicalRDD over a PythonRDD;
    assignment runs map-side, with no exchange on vec_id; and the
    serve runs at most 5 Spark jobs (statusTracker) — 8 when the
    centroids were broadcast, the assignment a groupBy(vec_id) and
    the probe a window."""
    import re

    from wilayah_aceh_etl_spark.plans.registry import all_specs

    fn = all_specs()["similarity_ivf_trained_topk"].fn
    fn(spark, SF).collect()  # trains, or finds the memo
    df = fn(spark, SF)
    rows, jobs = jobs_run(spark, df.collect)
    assert len(rows) == 50
    qe = df._jdf.queryExecution()
    assert "LogicalRDD" not in qe.optimizedPlan().toString()
    assert not re.search(
        r"Exchange hashpartitioning\(vec_id", qe.executedPlan().toString()
    )
    assert jobs <= 5


def test_trained_centroid_df_memo_dedupes_cache_entries(spark):
    """r12: kmeans_centroids_cached builds its centroid LocalRelation
    from the memo's floats on every call, and two such relations are
    the same plan to Spark, so repeated semantic_dedup calls
    canonicalize to one plan and CacheManager holds ONE
    ranked-relation entry instead of leaking (and re-materializing)
    one per call."""
    import wilayah_aceh_etl_spark.operators.similarity as S

    emb = T.load_table(spark, SF, "embeddings")
    c1 = S.kmeans_centroids_cached(emb, SF + "#memo-test", 8, 1)
    c2 = S.kmeans_centroids_cached(emb, SF + "#memo-test", 8, 1)
    assert c1.sameSemantics(c2)
    before = len(spark._jsc.sc().getRDDStorageInfo())
    r1 = S.semantic_dedup(
        emb, threshold=0.35, n_centroids=8, n_iter=1,
        cache_key=SF + "#memo-test2",
    )
    rows1 = sorted(map(tuple, r1.collect()))
    r2 = S.semantic_dedup(
        emb, threshold=0.35, n_centroids=8, n_iter=1,
        cache_key=SF + "#memo-test2",
    )
    rows2 = sorted(map(tuple, r2.collect()))
    after = len(spark._jsc.sc().getRDDStorageInfo())
    assert rows1 == rows2
    assert after - before <= 1  # one entry for both runs, not one each
    r1._ranked_cache.unpersist()
