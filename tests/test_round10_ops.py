"""Round-10 operators: the influence×dedup audit and the streaming
IMI admission twin — the properties their oracles cannot express
(non-vacuity, replay idempotency, cell-local rejection)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE, write_star_table


def test_influence_dedup_audit_nonvacuous(spark):
    """The 2×2 contingency must actually be 2×2 at the tested SF
    (every influence class × keep verdict populated — a degenerate
    corpus would silently collapse cells), the class shares must sum
    to 1 within each influence class, and the counts must cover the
    corpus exactly once."""
    from wilayah_aceh_etl_spark.plans.round10_queries import (
        data_curation_influence_dedup_audit,
    )
    from wilayah_aceh_etl_spark.sources.tables import load_table

    rows = data_curation_influence_dedup_audit(spark, SF_SMOKE).collect()
    cells = {(r.high_influence, r.keep) for r in rows}
    assert cells == {(0, 0), (0, 1), (1, 0), (1, 1)}, cells
    n_corpus = load_table(spark, SF_SMOKE, "embeddings").count()
    assert sum(r.n_docs for r in rows) == n_corpus
    for hi in (0, 1):
        share = sum(r.class_share for r in rows if r.high_influence == hi)
        assert abs(share - 1.0) < 2e-6, (hi, share)
        assert all(
            r.n_docs > 0 for r in rows if r.high_influence == hi
        )


def _cent(spark, rows):
    return spark.createDataFrame(rows, "cid long, cvec array<double>")


def test_imi_admission_batch_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: replaying a batch whose writes
    already landed must converge to identical tables — per-batch
    partition overwrite, and the existing side excludes the batch's
    own prior admissions (the dedup_admission contract, verified
    here for the IMI frame). Also pins the cell-local verdicts: an
    identical vector in the same cell is rejected; a vector in a
    DIFFERENT cell is admitted even at cosine 1 to a stored vector
    (the documented cell-scoped approximation)."""
    from wilayah_aceh_etl_spark.streaming.imi_admission import (
        apply_imi_admission_batch,
    )

    # 4-d vectors → halves of 2; quantizer A splits on dim 0 sign,
    # quantizer B on dim 2 sign
    cent_a = _cent(spark, [(0, [1.0, 0.0]), (1, [-1.0, 0.0])])
    cent_b = _cent(spark, [(0, [0.0, 1.0]), (1, [0.0, -1.0])])
    admitted = str(tmp_path / "admitted")
    verdicts = str(tmp_path / "verdicts")

    b0 = spark.createDataFrame(
        [(1, [1.0, 0.1, 0.0, 1.0]), (2, [-1.0, 0.0, 0.2, -1.0])],
        "vec_id long, embedding array<double>",
    )
    b1 = spark.createDataFrame(
        [
            # identical to vec 1 → same cell, cos 1 → rejected
            (3, [1.0, 0.1, 0.0, 1.0]),
            # same direction as vec 1 in half A but OPPOSITE half B
            # → different cb cell → admitted despite high similarity
            (4, [1.0, 0.1, 0.0, -1.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    args = (cent_a, cent_b, admitted, verdicts)
    apply_imi_admission_batch(b0, 0, *args)
    apply_imi_admission_batch(b1, 1, *args)

    def snapshot():
        v = {
            (r.vec_id, r.ca, r.cb, r.n_cell_candidates, r.n_near_dups, r.admit)
            for r in spark.read.option("basePath", verdicts)
            .parquet(verdicts)
            .collect()
        }
        a = {
            r.vec_id
            for r in spark.read.option("basePath", admitted)
            .parquet(admitted)
            .collect()
        }
        return v, a

    before = snapshot()
    apply_imi_admission_batch(b1, 1, *args)
    apply_imi_admission_batch(b1, 1, *args)
    assert snapshot() == before

    v, a = before
    assert a == {1, 2, 4}
    by_id = {t[0]: t for t in v}
    # batch 0 faces an empty index: zero candidates, admitted
    assert by_id[1][3:] == (0, 0, 1)
    assert by_id[2][3:] == (0, 0, 1)
    # vec 3: one same-cell candidate (vec 1), cos 1 → rejected
    assert by_id[3][3:] == (1, 1, 0)
    # vec 4: different cb cell → no candidates → admitted
    assert by_id[4][3:] == (0, 0, 1)
    # cells actually differ between 3 and 4 on the B side only
    assert by_id[3][1] == by_id[4][1]
    assert by_id[3][2] != by_id[4][2]


def test_imi_admission_streamed_matches_batch_replay(spark, tmp_path):
    """Driving the same batches through the module-level batch
    function must equal re-running it — and the admitted table must
    only ever contain admitted vectors (no verdict row, no
    admission)."""
    from wilayah_aceh_etl_spark.streaming.imi_admission import (
        apply_imi_admission_batch,
    )

    cent_a = _cent(spark, [(0, [1.0, 0.0]), (1, [-1.0, 0.0])])
    cent_b = _cent(spark, [(0, [0.0, 1.0]), (1, [0.0, -1.0])])
    a1, v1 = str(tmp_path / "a1"), str(tmp_path / "v1")
    a2, v2 = str(tmp_path / "a2"), str(tmp_path / "v2")
    batches = [
        spark.createDataFrame(
            [
                (
                    10 * k + j,
                    [
                        1.0 if (k + j) % 2 == 0 else -1.0,
                        0.1 * j,
                        0.05 * k,
                        1.0 if j % 2 == 0 else -1.0,
                    ],
                )
                for j in range(3)
            ],
            "vec_id long, embedding array<double>",
        )
        for k in range(3)
    ]
    for k, b in enumerate(batches):
        apply_imi_admission_batch(b, k, cent_a, cent_b, a1, v1)
        apply_imi_admission_batch(b, k, cent_a, cent_b, a2, v2)

    r1 = sorted(
        (r.vec_id, r.admit)
        for r in spark.read.option("basePath", v1).parquet(v1).collect()
    )
    r2 = sorted(
        (r.vec_id, r.admit)
        for r in spark.read.option("basePath", v2).parquet(v2).collect()
    )
    assert r1 == r2 and len(r1) == 9
    admitted_ids = {
        r.vec_id
        for r in spark.read.option("basePath", a1).parquet(a1).collect()
    }
    assert admitted_ids == {vid for vid, adm in r1 if adm == 1}


def test_isotropy_audit_recovers_planted_direction(spark, tmp_path):
    """A corpus with one planted dominant direction must yield
    top_pc_share near the planted energy fraction — on a PEAKED
    spectrum the 2-step Rayleigh quotient is accurate (it is only a
    loose lower bound when the spectrum is flat, as the docstring
    documents)."""
    from wilayah_aceh_etl_spark.plans.round10_queries import (
        embedding_isotropy_audit,
    )

    d, n = 64, 200
    rows = []
    for i in range(n):
        # strong signal along dim 0, weak deterministic noise elsewhere
        sig = 5.0 if i % 2 == 0 else -5.0
        vec = [sig] + [
            ((i * 13 + j * 7) % 11 - 5) / 50.0 for j in range(d - 1)
        ]
        rows.append((i, vec, i % 10))
    write_star_table(
        spark.createDataFrame(
            rows, "vec_id long, embedding array<double>, label int"
        ),
        str(tmp_path),
        "embeddings",
    )
    got = embedding_isotropy_audit(spark, str(tmp_path)).collect()[0]
    assert got.n_vectors == n
    # dim-0 variance is 25; the rest contribute ~64*0.003 — the top
    # PC holds >95% of the trace and two power steps find it
    assert got.top_pc_share > 0.95, got
    assert abs(got.lambda1 - 25.0) < 1.0, got


def test_gns_zero_variance_corpus(spark, tmp_path):
    """Identical examples ⇒ per-example gradients identical ⇒
    tr(Σ) = 0 ⇒ B_simple ≈ 0 (up to the 2^-24 quantization grid)."""
    from wilayah_aceh_etl_spark.plans.round10_queries import (
        training_gradient_noise_scale,
    )

    vec = [0.3] * 16 + [-0.2] * 48
    rows = [(i, list(vec), 2) for i in range(50)]
    write_star_table(
        spark.createDataFrame(
            rows, "vec_id long, embedding array<double>, label int"
        ),
        str(tmp_path),
        "embeddings",
    )
    got = training_gradient_noise_scale(spark, str(tmp_path)).collect()[0]
    assert got.n_examples == 50
    assert abs(got.b_simple) < 0.01, got


def test_token_savings_attributes_dup_to_later_source(spark, tmp_path):
    """Global keep-first: a copy in source B of a doc first seen (by
    doc_id) in source A is charged to B — and unique docs cost
    nothing."""
    from wilayah_aceh_etl_spark.plans.round10_queries import (
        dedup_token_savings_by_source,
    )

    rows = [
        (0, "alpha beta gamma", "en", "srcA", 16),
        (1, "delta epsilon", "en", "srcA", 13),
        (10, "alpha beta gamma", "en", "srcB", 16),  # dup of doc 0
        (11, "zeta eta theta iota", "en", "srcB", 19),
    ]
    write_star_table(
        spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string,"
            " length long",
        ),
        str(tmp_path),
        "documents",
    )
    got = {
        r.source: r
        for r in dedup_token_savings_by_source(
            spark, str(tmp_path)
        ).collect()
    }
    assert got["srcA"].n_dropped == 0
    assert got["srcA"].tokens_dropped == 0
    assert got["srcB"].n_dropped == 1
    assert got["srcB"].tokens_dropped == 3  # "alpha beta gamma"
    assert got["srcB"].savings_ppm == round(1e6 * 3 / 7)


def test_scaling_curve_more_data_lowers_nll(spark):
    """The measured scaling curve must go the right way: the full
    training split's holdout NLL is below the 1/16-prefix's, and
    train-token counts grow monotonically along the grid."""
    from wilayah_aceh_etl_spark.plans.round10_queries import (
        data_scaling_unigram_nll_curve,
    )

    rows = data_scaling_unigram_nll_curve(spark, SF_SMOKE).collect()
    assert [r.prefix_width for r in rows] == [1, 2, 4, 8, 16]
    toks = [r.n_train_tokens for r in rows]
    assert toks == sorted(toks) and toks[0] < toks[-1]
    assert rows[-1].avg_nll < rows[0].avg_nll
    assert all(r.n_holdout_tokens == rows[0].n_holdout_tokens for r in rows)


def test_reliability_bins_cover_holdout(spark):
    """The band split must stay non-vacuous (more than one band) and
    cover every holdout doc exactly once."""
    from wilayah_aceh_etl_spark.plans.round10_queries import (
        corpus_classifier_reliability_bins,
    )
    from wilayah_aceh_etl_spark.sources.tables import load_table

    rows = corpus_classifier_reliability_bins(spark, SF_SMOKE).collect()
    assert len(rows) > 1
    n_holdout = (
        load_table(spark, SF_SMOKE, "documents")
        .filter(F.col("doc_id") % 5 == 0)
        .count()
    )
    assert sum(r.n_docs for r in rows) == n_holdout
    assert all(0 <= r.bin <= 9 for r in rows)


def test_chain_audit_consistent_with_dedup(spark):
    """The audit's per-cluster arithmetic must reconcile with the
    dedup operator's own keep verdicts, and the blame split must
    partition the removed set."""
    from wilayah_aceh_etl_spark.operators import similarity as S
    from wilayah_aceh_etl_spark.plans.round10_queries import (
        dedup_semantic_chain_audit,
    )
    from wilayah_aceh_etl_spark.sources.tables import load_table

    rows = dedup_semantic_chain_audit(spark, SF_SMOKE).collect()
    sd = S.semantic_dedup(
        load_table(spark, SF_SMOKE, "embeddings"),
        threshold=0.35,
        n_centroids=16,
        n_iter=2,
    )
    agg = sd.groupBy().agg(
        F.count(F.lit(1)).alias("n"), F.sum("keep").alias("k")
    ).collect()[0]
    assert sum(r.n_members for r in rows) == agg.n
    assert sum(r.n_kept for r in rows) == agg.k
    for r in rows:
        assert r.n_removed == r.n_removed_via_kept + r.n_removed_chain_only
        assert r.n_removed_via_kept >= 0 and r.n_removed_chain_only >= 0


def test_imi_admission_empty_batch_survives(spark, tmp_path):
    """An EMPTY micro-batch must write an empty verdict partition
    and leave the admitted table untouched, not kill the stream
    (r10 review: the dimension probe used to TypeError on empty
    input; the stream-build-time d makes empties flow through)."""
    from wilayah_aceh_etl_spark.streaming.imi_admission import (
        apply_imi_admission_batch,
    )

    cent_a = _cent(spark, [(0, [1.0, 0.0]), (1, [-1.0, 0.0])])
    cent_b = _cent(spark, [(0, [0.0, 1.0]), (1, [0.0, -1.0])])
    admitted = str(tmp_path / "admitted")
    verdicts = str(tmp_path / "verdicts")
    b0 = spark.createDataFrame(
        [(1, [1.0, 0.1, 0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<double>"
    )
    apply_imi_admission_batch(
        b0, 0, cent_a, cent_b, admitted, verdicts, d=4
    )
    apply_imi_admission_batch(
        empty, 1, cent_a, cent_b, admitted, verdicts, d=4
    )
    v = spark.read.option("basePath", verdicts).parquet(verdicts)
    assert v.count() == 1  # only batch 0's row
    a = spark.read.option("basePath", admitted).parquet(admitted)
    assert {r.vec_id for r in a.collect()} == {1}


def test_derived_c_departs_from_fixed_c(spark):
    """The derived-C registered query must actually run a DIFFERENT
    quantizer size than the fixed-C sibling at the gate SF (C = 32
    vs 16 at sf0.001 with target_cluster_size=16) — otherwise the
    driver row would silently re-verify the fixed form."""
    from wilayah_aceh_etl_spark.plans.round10_queries import (
        dedup_semantic_clusters_derived_c,
    )
    from wilayah_aceh_etl_spark.plans.ext_queries import (
        dedup_semantic_clusters,
    )

    derived = dedup_semantic_clusters_derived_c(spark, SF_SMOKE)
    fixed = dedup_semantic_clusters(spark, SF_SMOKE)
    c_derived = derived.select("cid").distinct().count()
    c_fixed = fixed.select("cid").distinct().count()
    assert c_fixed <= 16
    assert c_derived > 16, (c_derived, "expected C=32 cluster ids")
    # same corpus, same coverage
    assert derived.count() == fixed.count()


def test_scurve_monotone_properties(spark):
    """The s-curve table must satisfy the textbook shape: for a
    fixed (b, r) config P(candidate) is non-decreasing in s; at a
    fixed s, splitting the K=8 signature into more bands (fewer
    rows per band) can only RAISE the candidate probability."""
    from wilayah_aceh_etl_spark.plans.round10_queries import (
        dedup_lsh_scurve_table,
    )

    rows = dedup_lsh_scurve_table(spark, SF_SMOKE).collect()
    by_cfg = {}
    for r in rows:
        by_cfg.setdefault((r.bands, r.rows_per_band), []).append(
            (r.jaccard_s, r.p_candidate)
        )
    assert set(by_cfg) == {(8, 1), (4, 2), (2, 4), (1, 8)}
    for cfg, pts in by_cfg.items():
        pts.sort()
        ps = [p for _, p in pts]
        assert ps == sorted(ps), cfg  # monotone in s
        assert len(pts) == 19
    # band ordering at every s: more bands => looser (higher p)
    order = [(8, 1), (4, 2), (2, 4), (1, 8)]
    for i in range(19):
        s_vals = [dict(by_cfg[c])[by_cfg[order[0]][i][0]] for c in order]
        assert s_vals == sorted(s_vals, reverse=True), s_vals


def test_packing_packed_never_worse(spark):
    """Concatenated packing can never waste more than per-doc
    padding (ceil(sum) <= sum(ceil)) — and both wastes are
    non-negative and below one context length times the doc count /
    one context length respectively."""
    from wilayah_aceh_etl_spark.plans.round10_queries import (
        training_packing_efficiency,
    )

    rows = training_packing_efficiency(spark, SF_SMOKE).collect()
    assert len(rows) == 3
    for r in rows:
        assert 0 <= r.waste_packed_tokens <= r.waste_padded_tokens
        assert r.waste_packed_tokens < r.ctx_len
        assert r.n_seq_packed <= r.n_seq_padded
        assert (
            r.n_seq_padded * r.ctx_len
            == r.total_tokens + r.waste_padded_tokens
        )


def test_alignment_closed_form_matches_bruteforce(spark, tmp_path):
    """The no-pair-join identity E||x-y||^2 = 2(E||x||^2 - ||mu||^2)
    must equal the brute-force mean over all ordered pairs (iid with
    replacement) on a planted corpus."""
    from wilayah_aceh_etl_spark.plans.round10_queries import (
        embedding_alignment_by_label,
    )

    d, n = 64, 40
    vecs = []
    for i in range(n):
        vecs.append(
            [((i * 7 + j * 3) % 9 - 4) / 4.0 for j in range(d)]
        )
    rows = [(i, vecs[i], 3) for i in range(n)]
    write_star_table(
        spark.createDataFrame(
            rows, "vec_id long, embedding array<double>, label int"
        ),
        str(tmp_path),
        "embeddings",
    )
    got = embedding_alignment_by_label(spark, str(tmp_path)).collect()
    assert len(got) == 1 and got[0].label == 3

    brute = sum(
        sum((a - b) ** 2 for a, b in zip(vecs[i], vecs[j]))
        for i in range(n)
        for j in range(n)
    ) / (n * n)
    assert abs(got[0].alignment_sq - brute) < 1e-4, (
        got[0].alignment_sq,
        brute,
    )
    # single label => class centroid IS the global mean
    assert got[0].centroid_offset_sq == 0.0


def test_vocab_coverage_monotone(spark):
    """Coverage must be non-decreasing in vocab size, bounded by the
    corpus total, and hit 100% once the vocab exceeds the type
    count (this corpus has ~31 types < 32)."""
    from wilayah_aceh_etl_spark.plans.round10_queries import (
        tokenizer_vocab_coverage_curve,
    )

    rows = tokenizer_vocab_coverage_curve(spark, SF_SMOKE).collect()
    assert [r.vocab_size for r in rows] == [4, 8, 16, 32]
    cov = [r.tokens_covered for r in rows]
    assert cov == sorted(cov)
    for r in rows:
        assert r.tokens_covered <= r.tokens_total
        assert r.coverage_ppm + r.oov_ppm in (999999, 1000000, 1000001)
    assert rows[-1].oov_ppm == 0  # 32 >= full type inventory
