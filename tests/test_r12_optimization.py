"""Round-12 optimization round: focused tests for operator-internal
changes (schema memo + spread probe memo in sources/tables.py).

Each optimization here is metadata-only; these tests pin the
invariants that make it safe: identical schemas/rows with and
without the memo, and memo invalidation when the file changes.
"""

from __future__ import annotations

import os

from wilayah_aceh_etl_spark.sources import tables as T

SF = "/root/testdata/sf0.001"


def test_schema_memo_returns_identical_schema_and_rows(spark):
    T._SCHEMA_MEMO.clear()
    cold = T.load_table(spark, SF, "nation")
    assert len(T._SCHEMA_MEMO) == 1  # cold path populated the memo
    warm = T.load_table(spark, SF, "nation")
    assert warm.schema == cold.schema
    assert sorted(map(tuple, warm.collect())) == sorted(
        map(tuple, cold.collect())
    )


def _write_parquet_file(spark, dest: str, expr: list[str]) -> None:
    """Write a REGULAR parquet file at `dest` (not a directory): the
    memoized path in load_table only engages for regular files — the
    layout the real sf data uses — so the test must produce one
    (r12 advice: the earlier directory-based version bypassed the
    memo entirely and passed trivially)."""
    import glob
    import shutil
    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        spark.range(5).selectExpr(*expr).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(tmp, "out"))
        part = glob.glob(os.path.join(tmp, "out", "part-*.parquet"))[0]
        shutil.copyfile(part, dest)


def test_schema_memo_invalidates_on_rewrite(spark, tmp_path):
    src = str(tmp_path)
    dest = os.path.join(src, "nation.parquet")
    _write_parquet_file(spark, dest, ["id AS a"])
    T._SCHEMA_MEMO.clear()
    first = T.load_table(spark, src, "nation")
    assert first.columns == ["a"]
    # the regular-file path must actually populate the memo — this is
    # the warm path the real sf layout exercises
    assert dest in T._SCHEMA_MEMO
    assert [f.name for f in T._SCHEMA_MEMO[dest][2].fields] == ["a"]
    # rewrite with a different schema: the (mtime_ns, size) stamp
    # must miss, so the new schema is inferred, not served stale —
    # and the entry is REPLACED, not duplicated (path-keyed memo)
    _write_parquet_file(spark, dest, ["id AS a", "id * 2 AS b"])
    second = T.load_table(spark, src, "nation")
    assert second.columns == ["a", "b"]
    assert [f.name for f in T._SCHEMA_MEMO[dest][2].fields] == ["a", "b"]
    assert len(T._SCHEMA_MEMO) == 1


def test_events_ts_normalization_survives_schema_memo(spark):
    """The nanos→micros ts fixup keys on the INFERRED dtype; the memo
    must hand back the same pre-fixup schema so the fixup still
    fires on the warm path."""
    T._SCHEMA_MEMO.clear()
    cold = T.load_table(spark, SF, "events")
    warm = T.load_table(spark, SF, "events")
    assert cold.schema["ts"].dataType == warm.schema["ts"].dataType
    assert "Timestamp" in str(cold.schema["ts"].dataType)


def test_spread_memo_same_decision_as_probe(spark):
    T._SPREAD_MEMO.clear()
    df = T.load_table(spark, SF, "nation").select("n_nationkey")
    cold = T.spread(df, target=4)
    assert len(T._SPREAD_MEMO) == 1
    warm = T.spread(T.load_table(spark, SF, "nation").select("n_nationkey"), target=4)
    # same plan → same memoized count → same repartition decision
    assert cold.rdd.getNumPartitions() == warm.rdd.getNumPartitions()
    assert sorted(r[0] for r in warm.collect()) == sorted(
        r[0] for r in df.collect()
    )


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
    from tests.conftest import SF_CORRECT, jobs_run
    from wilayah_aceh_etl_spark.plans.registry import all_specs

    T.load_table(spark, SF_CORRECT, "documents")  # schema outside the count
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

    from tests.conftest import jobs_run
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
    """r12: kmeans_centroids_cached returns the SAME DataFrame per
    (key, session), so repeated semantic_dedup calls canonicalize to
    one plan and CacheManager holds ONE ranked-relation entry instead
    of leaking (and re-materializing) one per call."""
    import wilayah_aceh_etl_spark.operators.similarity as S

    emb = T.load_table(spark, SF, "embeddings")
    c1 = S.kmeans_centroids_cached(emb, SF + "#memo-test", 8, 1)
    c2 = S.kmeans_centroids_cached(emb, SF + "#memo-test", 8, 1)
    assert c1 is c2
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


def test_spread_memo_keyed_by_goal(spark):
    T._SPREAD_MEMO.clear()
    df = T.load_table(spark, SF, "nation").select("n_nationkey")
    T.spread(df, target=2)
    T.spread(df, target=8)
    assert len(T._SPREAD_MEMO) == 2  # (hash, goal) pairs are distinct
