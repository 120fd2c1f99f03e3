"""Round-9 additions: model-based quality scoring at serving shape
(the fastText-style classifier-inference pass) and the inverted
multi-index two-level quantizer."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_quality_classifier_separates_planted_vocab(spark, tmp_path):
    """Disjoint planted vocabularies must land every document on the
    right side of the keep threshold — including the doc_id%5==0
    HOLDOUT docs the trainer never saw (the serving pass scores the
    whole corpus). This is the separability pin the registered
    query's oracle can't express (the oracle pins arithmetic
    equality; this pins that the classifier actually classifies)."""
    from wilayah_aceh_etl_spark.plans.round9_queries import (
        corpus_quality_classifier_serving,
    )

    good = "lucid cogent narrative prose exposition rigorous"
    junk = "zzz9 qqq7 xxx4 kkk2 vvv8 jjj1"
    rows = []
    for i in range(50):
        if i % 2 == 0:
            text = " ".join(good.split()[j % 6] for j in range(i % 7 + 8))
            rows.append((i, text, "en", f"src{i % 3}", len(text)))
        else:
            text = " ".join(junk.split()[j % 6] for j in range(i % 5 + 8))
            rows.append((i, text, "de", f"src{i % 3}", len(text)))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{tmp_path}/documents.parquet"
    )

    got = corpus_quality_classifier_serving(spark, str(tmp_path)).collect()
    assert len(got) == 50
    by_id = {r.doc_id: r for r in got}
    for i in range(50):
        want_keep = 1 if i % 2 == 0 else 0
        assert by_id[i].keep == want_keep, (i, by_id[i])
    # margins actually separate (not all hovering at 0): the lowest
    # kept logit clears the highest dropped logit
    min_keep = min(r.logit_q for r in got if r.keep == 1)
    max_drop = max(r.logit_q for r in got if r.keep == 0)
    assert min_keep > 0 > max_drop
    # and the holdout specifically (never seen by the trainer)
    holdout = [r for r in got if r.doc_id % 5 == 0]
    assert holdout and all(
        (r.keep == 1) == (r.doc_id % 2 == 0) for r in holdout
    )


def test_imi_cell_grid_and_recall(spark):
    """The inverted multi-index's defining properties: (a) the cell
    GRID is the product of two small quantizers — distinct (ca, cb)
    pairs can exceed either half-quantizer's C, while only C₁+C₂
    centroids were ever trained; (b) candidate-scoped exact rerank
    keeps meaningful recall vs brute force on seed-disjoint queries;
    (c) every returned neighbor really lives in one of the query's
    probed cells (the structural pruning claim)."""
    from wilayah_aceh_etl_spark.operators import similarity as S
    from wilayah_aceh_etl_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    queries = emb.filter(F.col("vec_id").between(200, 219))
    got = S.imi_topk(
        emb, queries, k=10, c_half=4, n_probe_half=2, n_iter=2
    )
    rows = got.collect()
    assert {r.query_id for r in rows} == set(range(200, 220))
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r)
    for q, rs in per_q.items():
        assert [r.rk for r in sorted(rs, key=lambda r: r.rk)] == list(
            range(1, len(rs) + 1)
        )
        assert all(r.vec_id != q for r in rs)

    # (b) recall@10 vs exact brute force on the same queries
    bf = S.brute_force_topk(emb, queries, k=10).collect()
    bf_sets = {}
    for r in bf:
        bf_sets.setdefault(r.query_id, set()).add(r.vec_id)
    hits = sum(
        len(bf_sets[q] & {r.vec_id for r in rs}) for q, rs in per_q.items()
    )
    recall = hits / sum(len(s) for s in bf_sets.values())
    # 2x2 of 16 cells probes ~25% of the corpus; cosine-correlated
    # cells make recall far better than the 0.25 random floor
    assert recall >= 0.35, recall

    # (a) + (c): rebuild the cell assignment the operator uses and
    # check grid width and probe membership
    from pyspark.sql import functions as Fx

    full = emb.select("vec_id", Fx.col("embedding").alias("vec"))
    d = len(full.select("vec").first()["vec"])
    dh = d // 2
    va = full.select(
        "vec_id", Fx.slice("vec", 1, dh).cast("array<double>").alias("vec")
    )
    vb = full.select(
        "vec_id",
        Fx.slice("vec", dh + 1, d - dh).cast("array<double>").alias("vec"),
    )
    ca = S._assign_nearest(
        va, S.kmeans_centroids(va, 4, 2, "vec_id", "vec")
    ).select("vec_id", Fx.col("centroid").alias("ca"))
    cb = S._assign_nearest(
        vb, S.kmeans_centroids(vb, 4, 2, "vec_id", "vec")
    ).select("vec_id", Fx.col("centroid").alias("cb"))
    cells = {
        (r.ca, r.cb): None for r in ca.join(cb, "vec_id").collect()
    }
    assert len(cells) > 4, "grid must exceed either half-quantizer's C"


def test_ccnet_buckets_are_language_terciles(spark):
    """NTILE(3) partitioned by language must split each language into
    near-equal buckets (sizes differ by at most 1), and keep must be
    exactly head+middle."""
    from tests.conftest import SF_SMOKE
    from wilayah_aceh_etl_spark.plans.round9_queries import (
        corpus_perplexity_buckets_ccnet,
    )

    rows = corpus_perplexity_buckets_ccnet(spark, SF_SMOKE).collect()
    assert rows
    sizes = {}
    for r in rows:
        assert r.keep == (1 if r.bucket <= 2 else 0)
        sizes.setdefault(r.lang, {1: 0, 2: 0, 3: 0})[r.bucket] += 1
    for lang, by_bucket in sizes.items():
        counts = list(by_bucket.values())
        assert max(counts) - min(counts) <= 1, (lang, by_bucket)


def test_el2n_prune_boundary_exact(spark):
    """The histogram-threshold prune set must be EXACTLY the bottom
    floor(0.3n) of the (hardness, doc_id) lexicographic order — the
    definitional global rank the oracle uses."""
    from tests.conftest import SF_SMOKE
    from wilayah_aceh_etl_spark.plans.round9_queries import (
        data_pruning_el2n_margin,
    )

    rows = data_pruning_el2n_margin(spark, SF_SMOKE).collect()
    n = len(rows)
    k = (3 * n) // 10
    pruned = [(r.hardness_q, r.doc_id) for r in rows if r.pruned == 1]
    kept = [(r.hardness_q, r.doc_id) for r in rows if r.pruned == 0]
    assert len(pruned) == k
    assert max(pruned) < min(kept)
    # and the pruned set is the easiest ones: global re-sort agrees
    assert sorted(pruned) == sorted((r.hardness_q, r.doc_id) for r in rows)[:k]


def test_confident_learning_flags_planted_flips(spark, tmp_path):
    """On a separable planted-vocabulary corpus the confident-learning
    audit must flag EXACTLY the doc_id%17 planted flips, each with
    the clean label suggested — and never flag a clean doc. (On the
    real corpus the flagged set is larger — the audit is only as
    sharp as the proxy classifier, the paper's own caveat — so the
    semantics pin lives here, on data where the model is sharp.)"""
    from wilayah_aceh_etl_spark.plans.round9_queries import (
        labels_confident_learning_noise,
    )

    good = "lucid cogent narrative prose exposition rigorous"
    junk = "zzz9 qqq7 xxx4 kkk2 vvv8 jjj1"
    rows = []
    for i in range(50):
        if i % 2 == 0:
            text = " ".join(good.split()[j % 6] for j in range(i % 7 + 8))
            rows.append((i, text, "en", f"src{i % 3}", len(text)))
        else:
            text = " ".join(junk.split()[j % 6] for j in range(i % 5 + 8))
            rows.append((i, text, "de", f"src{i % 3}", len(text)))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{tmp_path}/documents.parquet"
    )

    got = labels_confident_learning_noise(spark, str(tmp_path)).collect()
    flagged = {r.doc_id: r for r in got}
    planted = {i for i in range(50) if i % 17 == 0}  # {0, 17, 34}
    assert set(flagged) == planted, (set(flagged), planted)
    for i in planted:
        r = flagged[i]
        clean = 1 if i % 2 == 0 else 0
        assert r.planted == 1
        assert r.y_noisy == 1 - clean
        assert r.suggested == clean


# ---------------------------------------------------------------------------
# Training-dynamics curation family (round 9, fourth sitting)
# ---------------------------------------------------------------------------


def test_trajectory_last_equals_fit(spark):
    """logreg_fit_trajectory[-1] must be EXACTLY logreg_fit's return
    (same _gd_step composition — the bit-identity every dynamics
    query's oracle relies on)."""
    from tests.conftest import SF_SMOKE
    from wilayah_aceh_etl_spark.operators.ml_train import (
        logreg_fit,
        logreg_fit_trajectory,
    )
    from wilayah_aceh_etl_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id",
        "embedding",
        F.when(F.col("label") < 5, 1).otherwise(0).alias("y"),
    )
    traj = logreg_fit_trajectory(emb, n_iter=3, lr=2.0)
    w, b = logreg_fit(emb, n_iter=3, lr=2.0)
    assert len(traj) == 3
    assert traj[-1][0] == w and traj[-1][1] == b
    # iterates actually move (the trajectory is not degenerate)
    assert traj[0][0] != traj[1][0] != traj[2][0]


def _planted_flip_corpus(d: int = 8, n: int = 64):
    """Separable corpus with label flips planted at i%16==5 — shared
    by the cartography and TracIn tests (both pin that flips land in
    the method's suspicious tail)."""
    rows = []
    for i in range(n):
        sign = 1.0 if i % 2 == 0 else -1.0
        vec = [sign] + [
            ((i * 7 + j * 3) % 13 - 6) / 60.0 for j in range(d - 1)
        ]
        clean_label = 0 if sign > 0 else 9
        label = 9 - clean_label if i % 16 == 5 else clean_label
        rows.append((i, vec, label))
    return rows


def _write_embeddings(spark, tmp_path, rows):
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{tmp_path}/embeddings.parquet"
    )


def test_cartography_flipped_labels_are_hard(spark, tmp_path):
    """The paper's headline use: on a separable corpus with planted
    label flips, the flips concentrate in the LOW-confidence region
    — every flipped example's confidence lands strictly below every
    clean example's (and the clean majority is 'easy')."""
    from wilayah_aceh_etl_spark.plans.round9_queries import (
        data_cartography_regions,
    )

    _write_embeddings(spark, tmp_path, _planted_flip_corpus())

    got = data_cartography_regions(spark, str(tmp_path)).collect()
    assert len(got) == 64
    flipped = [r for r in got if r.vec_id % 16 == 5]
    clean = [r for r in got if r.vec_id % 16 != 5]
    assert len(flipped) == 4
    assert max(r.conf_q for r in flipped) < min(r.conf_q for r in clean)
    # flips are never 'easy'; the clean majority is learnt every epoch
    # (on a separable corpus margins GROW each epoch, so variability
    # is high and the fixed grid calls rows 'ambiguous' — the
    # easy/hard split is exercised on the real near-noise corpus
    # below, where the constants were probed)
    assert all(r.region != "easy" for r in flipped)
    assert all(r.n_correct == 0 for r in flipped)
    assert (
        sum(1 for r in clean if r.n_correct == 3) > len(clean) // 2
    )


def test_cartography_regions_nonvacuous_on_corpus(spark):
    """All three regions of the fixed conf/var grid are populated on
    the real sf0.001 corpus (the thresholds were probed exactly for
    this — a one-region map would pin nothing)."""
    from wilayah_aceh_etl_spark.plans.round9_queries import (
        data_cartography_regions,
    )

    from tests.conftest import SF_SMOKE

    got = data_cartography_regions(spark, SF_SMOKE).collect()
    regions = {r.region for r in got}
    assert regions == {"easy", "ambiguous", "hard"}
    # and the derived columns stay consistent with n_correct extremes
    assert all(
        r.n_correct == 3 for r in got if r.region == "easy"
    )


def test_forgetting_events_consistency_and_nonvacuous(spark):
    """On the real sf0.001 corpus: the derived columns must be pure
    functions of (acc1, acc2, acc3), and the gate row is non-vacuous
    (the lr=2.0 probe measured 36 forgetting events here — at least
    SOME must exist, else the query pins nothing)."""
    from wilayah_aceh_etl_spark.plans.round9_queries import (
        data_pruning_forgetting_events,
    )

    from tests.conftest import SF_SMOKE

    got = data_pruning_forgetting_events(spark, SF_SMOKE).collect()
    assert len(got) == 500
    total_forgets = 0
    for r in got:
        accs = (r.acc1, r.acc2, r.acc3)
        n_forget = sum(
            1 for a, b in zip(accs, accs[1:]) if a == 1 and b == 0
        )
        assert r.n_forget == n_forget, r
        first = next((e for e, a in enumerate(accs, 1) if a == 1), 0)
        assert r.first_learned == first, r
        assert r.unforgettable == int(first > 0 and n_forget == 0), r
        total_forgets += n_forget
    assert total_forgets > 0
    assert any(r.unforgettable == 1 for r in got)


def test_rho_loss_selects_learnable_not_noise(spark, tmp_path):
    """RHO-loss's defining discrimination: planted LABEL-NOISE points
    (reference model confidently contradicts the label -> low
    holdout probability) must rank strictly below clean points, so
    the top-20 selection contains none of them — and clean points
    score ratio > 1 (the noise-diluted main model is less confident
    than the clean-holdout-trained reference)."""
    from wilayah_aceh_etl_spark.plans.round9_queries import (
        data_selection_rho_loss,
    )

    d = 8
    rows = []
    noise_ids = set()
    for i in range(100):
        sign = 1.0 if i % 2 == 0 else -1.0
        vec = [sign] + [((i * 11 + j * 5) % 17 - 8) / 80.0 for j in range(d - 1)]
        clean_label = 0 if sign > 0 else 9
        label = clean_label
        # plant noise in the TRAIN split only (vec_id%5 != 0)
        if i % 5 != 0 and i % 9 == 3:
            label = 9 - clean_label
            noise_ids.add(i)
        rows.append((i, vec, label))
    _write_embeddings(spark, tmp_path, rows)
    assert len(noise_ids) >= 5

    got = data_selection_rho_loss(spark, str(tmp_path)).collect()
    assert len(got) == 20
    selected = {r.vec_id for r in got}
    assert not (selected & noise_ids)
    assert all(r.vec_id % 5 != 0 for r in got)  # candidates = train split
    assert all(r.rho_ratio_q > 16777216 for r in got)  # ratio > 1


def test_ssl_prototypes_prunes_cluster_cores(spark, tmp_path):
    """Prototype pruning's semantics: tight cluster CORES (cosine to
    their centroid ~ 1) are pruned first; scattered outliers — the
    atypical, informative examples the paper says to keep when data
    is abundant — survive. Seeds (first 16 ids) are all core
    members, so no outlier gets to be its own prototype."""
    from wilayah_aceh_etl_spark.plans.round9_queries import (
        data_pruning_ssl_prototypes,
    )

    d = 8
    rows = []
    outlier_ids = set()
    for i in range(200):
        if i >= 180:
            # outliers: rotating off-axis directions, far from cores
            k = i - 180
            vec = [0.0] * d
            vec[2 + k % (d - 2)] = 1.0
            vec[(3 + k * 2) % d] += 0.7
            vec[0] = -0.2 if k % 2 == 0 else 0.2
            outlier_ids.add(i)
        else:
            # two tight cores on +dim0 / +dim1, tiny deterministic jitter
            core = 0 if i % 2 == 0 else 1
            vec = [0.0] * d
            vec[core] = 1.0
            vec[(i * 3) % d] += ((i % 7) - 3) / 200.0
        rows.append((i, vec, i % 10))
    _write_embeddings(spark, tmp_path, rows)

    got = data_pruning_ssl_prototypes(spark, str(tmp_path)).collect()
    assert len(got) == 200
    pruned = {r.vec_id for r in got if r.pruned == 1}
    assert len(pruned) == 40  # (2*200) div 10
    assert not (pruned & outlier_ids)
    # outliers really are less prototypical than every pruned core row
    proto = {r.vec_id: r.proto_q for r in got}
    assert max(proto[i] for i in outlier_ids) < min(
        proto[i] for i in pruned
    )


def test_qc_train_sql_stable():
    """_qc_features_sql with default extra_cols composes back into
    the exact pre-factoring _qc_train_sql text shape (the three
    verified qc oracles must not drift under the refactor)."""
    from wilayah_aceh_etl_spark.plans.round9_queries import (
        _QC_Y_CLEAN,
        _qc_train_sql,
    )

    s = _qc_train_sql(_QC_Y_CLEAN, "x0.doc_id % 5 != 0")
    assert s.startswith("\nWITH docs0 AS MATERIALIZED (")
    assert "AS y\n  FROM documents" in s  # no stray extra_cols
    for cte in ("toks", "ntok", "binned", "xv", "v", "nn", "u", "w0",
                "w1", "w2", "w3"):
        assert f"{cte} AS" in s, cte


def test_doremi_upweights_learnable_domain(spark, tmp_path):
    """Group-DRO's defining behavior: the domain where the proxy
    LAGS the reference most — the separable, learnable one — gains
    weight; a pure label-noise domain (reference itself can't beat
    chance there, so there is no excess loss to chase) does not.
    Also pins the DRO invariants: weights are a distribution (sum
    ~ 2^24) and every alpha_q is positive."""
    from wilayah_aceh_etl_spark.plans.round9_queries import (
        data_mixture_doremi_weights,
    )

    good = "lucid cogent narrative prose exposition rigorous"
    junk = "zzz9 qqq7 xxx4 kkk2 vvv8 jjj1"
    rows = []
    for i in range(80):
        if i % 2 == 0:
            # learnable domain: vocabulary perfectly predicts lang
            text = " ".join(good.split()[j % 6] for j in range(i % 7 + 8))
            rows.append((i, text, "en", "learnable", len(text)))
        else:
            # noise domain: same junk vocabulary, labels alternate —
            # no model can separate it, reference included
            lang = "en" if i % 4 == 1 else "de"
            text = " ".join(junk.split()[j % 6] for j in range(i % 5 + 8))
            rows.append((i, text, lang, "noise", len(text)))
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{tmp_path}/documents.parquet"
    )

    got = data_mixture_doremi_weights(spark, str(tmp_path)).collect()
    assert len(got) == 2
    by = {r.source: r for r in got}
    assert by["learnable"].n_docs == 40 and by["noise"].n_docs == 40
    # the learnable domain ends (and averages) strictly above noise
    assert by["learnable"].alpha3_q > by["noise"].alpha3_q
    assert by["learnable"].alpha_bar_q > by["noise"].alpha_bar_q
    # distribution invariant at every step (quantization slack ±2)
    for t in ("alpha1_q", "alpha2_q", "alpha3_q"):
        s = sum(getattr(r, t) for r in got)
        assert abs(s - 16777216) <= 2, (t, s)
        assert all(getattr(r, t) > 0 for r in got)


def test_kneser_ney_continuation_beats_raw_frequency(spark, tmp_path):
    """KN's defining property: the continuation probability scores a
    word by HOW MANY contexts it follows, not how often it occurs.
    Plant two tail words with equal unigram frequency — one always
    follows the same word ('francisco'-style), one follows many
    different words — and the versatile word must score the higher
    KN probability in a NOVEL context (a bigram both words complete
    exactly once)."""
    from wilayah_aceh_etl_spark.plans.round9_queries import (
        text_bigram_kneser_ney,
    )
    import math

    # docs 0..7: "san francisco" repeated (francisco: 8 occurrences,
    # ONE distinct context). docs 8..15: "<ctx_i> about" (about: 8
    # occurrences, EIGHT distinct contexts). docs 16/17: the probe
    # bigrams "probe francisco" / "probe about", each once.
    rows = []
    for i in range(8):
        rows.append((i, "san francisco", "en", "src0", 13))
    ctx = ["talk", "think", "walk", "read", "write", "care", "ask", "joke"]
    for i in range(8):
        rows.append((8 + i, f"{ctx[i]} about", "en", "src0", 10))
    rows.append((16, "probe francisco", "en", "src0", 15))
    rows.append((17, "probe about", "en", "src0", 11))
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{tmp_path}/documents.parquet"
    )

    got = {r.doc_id: r for r in
           text_bigram_kneser_ney(spark, str(tmp_path)).collect()}
    assert got[16].n_bigrams == 1 and got[17].n_bigrams == 1
    # both probe bigrams have c=1, same c(probe ·) and N1+(probe, ·),
    # so the score difference is PURELY the continuation probability:
    # N1+(·, about)=9 contexts vs N1+(·, francisco)=2
    assert got[17].kn_avg_logprob > got[16].kn_avg_logprob
    # sanity: the repeated high-count bigram scores near certainty
    assert got[0].kn_avg_logprob > math.log(0.5)


def test_fertility_identity_with_apply_counts(spark):
    """Fertility must be exactly Σtokens/Σwords of the apply query's
    per-doc counts, per language — one division, no drift."""
    from wilayah_aceh_etl_spark.plans.round8_queries import (
        tokenizer_bpe_apply_counts,
    )
    from wilayah_aceh_etl_spark.plans.round9_queries import (
        tokenizer_fertility_by_lang,
    )
    from wilayah_aceh_etl_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    base = {r.doc_id: r for r in
            tokenizer_bpe_apply_counts(spark, SF_SMOKE).collect()}
    langs = {
        r.doc_id: r.lang
        for r in load_table(spark, SF_SMOKE, "documents")
        .select("doc_id", "lang")
        .collect()
    }
    agg = {}
    for did, r in base.items():
        a = agg.setdefault(langs[did], [0, 0, 0])
        a[0] += r.n_words
        a[1] += r.n_tokens
        a[2] += 1
    got = tokenizer_fertility_by_lang(spark, SF_SMOKE).collect()
    assert {r.lang for r in got} == set(agg)
    for r in got:
        words, toks, docs = agg[r.lang]
        assert (r.n_words, r.n_tokens, r.n_docs) == (words, toks, docs)
        assert r.fertility == round(toks / words, 6)
        # BPE with 3 merges can only shorten: 1 <= fertility < chars/word
        assert 1.0 <= r.fertility


def test_kcenter_greedy_properties(spark, tmp_path):
    """Greedy k-center's defining properties on a planted corpus:
    (a) the coverage radius is NON-INCREASING in k (each new center
    can only shrink the max-min distance); (b) a far outlier is
    captured within the first picks (farthest-point traversal finds
    isolated mass immediately); (c) all selected ids are distinct
    and the seed is the lowest vec_id."""
    from wilayah_aceh_etl_spark.plans.round9_queries import (
        data_selection_kcenter_coreset,
    )

    d = 8
    rows = []
    for i in range(100):
        if i == 77:
            vec = [50.0] * d  # the far outlier
        else:
            core = 0 if i % 2 == 0 else 1
            vec = [0.0] * d
            vec[core] = 1.0
            vec[(i * 3) % d] += ((i % 7) - 3) / 100.0
        rows.append((i, vec, i % 10))
    _write_embeddings(spark, tmp_path, rows)

    got = data_selection_kcenter_coreset(spark, str(tmp_path)).collect()
    assert [r.step for r in got] == list(range(1, 9))
    ids = [r.vec_id for r in got]
    assert len(set(ids)) == 8
    assert ids[0] == 0  # seed = lowest vec_id
    assert 77 in ids[:2][1:] or ids[1] == 77  # outlier is pick #2
    radii = [r.radius for r in got[1:]]
    assert all(a >= b for a, b in zip(radii, radii[1:]))
    assert radii[0] > 100  # the outlier's distance dominates step 2


def test_unimax_allocation_invariants(spark, tmp_path):
    """UniMax's contract on a planted skewed corpus: low-resource
    languages are FULLY allocated (exactly E=1 epoch), every capped
    language gets the SAME uniform share (that is the fairness
    claim), no language exceeds the epoch cap, and the shares
    conserve the budget B = (4*total)//5 exactly."""
    from wilayah_aceh_etl_spark.plans.round9_queries import (
        data_mixture_unimax_allocation,
    )

    # token counts per lang: tiny=8, small=40, big=400
    rows, did = [], 0
    for lang, ndocs, wlen in (("tiny", 2, 4), ("small", 10, 4),
                              ("big", 50, 8)):
        for _ in range(ndocs):
            text = " ".join(f"w{j % 5}" for j in range(wlen))
            rows.append((did, text, lang, "src0", len(text)))
            did += 1
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{tmp_path}/documents.parquet"
    )

    got = {r.lang: r for r in
           data_mixture_unimax_allocation(spark, str(tmp_path)).collect()}
    total = sum(r.n_tokens for r in got.values())
    b = (4 * total) // 5
    assert got["tiny"].fully_allocated == 1
    assert got["tiny"].epochs == 1.0
    assert got["big"].fully_allocated == 0
    assert got["big"].epochs < 1.0
    # capped languages share ONE waterline value
    capped = [r for r in got.values() if r.fully_allocated == 0]
    assert len({r.alloc_tokens for r in capped}) == 1
    # budget conservation (display rounding slack)
    assert abs(sum(r.alloc_tokens for r in got.values()) - b) < 1e-3
    assert all(r.epochs <= 1.0 for r in got.values())


def test_renyi_efficiency_orders_token_uniformity(spark, tmp_path):
    """The Rényi-efficiency claim: a language whose token usage is
    UNIFORM scores efficiency near 1; one dominated by a single
    token scores far lower — and both stay in (0, 1]."""
    from wilayah_aceh_etl_spark.plans.round9_queries import (
        tokenizer_renyi_efficiency,
    )

    uni_words = ["gold", "silk", "iron", "wood", "salt", "corn",
                 "wool", "lime"]
    rows, did = [], 0
    for _ in range(10):
        rows.append((did, " ".join(uni_words), "uni", "src0", 40))
        did += 1
    for _ in range(10):
        # one dominant word plus a thin tail
        text = " ".join(["zz"] * 20 + ["qq", "vv"])
        rows.append((did, text, "skew", "src0", len(text)))
        did += 1
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{tmp_path}/documents.parquet"
    )

    got = {r.lang: r for r in
           tokenizer_renyi_efficiency(spark, str(tmp_path)).collect()}
    assert 0.0 < got["skew"].efficiency < got["uni"].efficiency <= 1.0
    assert got["uni"].efficiency > 0.9
    assert got["skew"].efficiency < 0.6


def test_tracin_flags_flipped_labels(spark, tmp_path):
    """TracIn's headline use (Pruthi et al. 2020 §4): mislabeled
    examples concentrate in the HIGH self-influence tail — on a
    separable corpus with planted flips, every flipped example's
    self-influence exceeds every clean example's."""
    from wilayah_aceh_etl_spark.plans.round9_queries import (
        data_attribution_tracin_self,
    )

    _write_embeddings(spark, tmp_path, _planted_flip_corpus())

    got = data_attribution_tracin_self(spark, str(tmp_path)).collect()
    assert len(got) == 64
    flipped = [r.tracin_self_q for r in got if r.vec_id % 16 == 5]
    clean = [r.tracin_self_q for r in got if r.vec_id % 16 != 5]
    assert len(flipped) == 4
    assert min(flipped) > max(clean)
    assert all(s >= 0 for s in flipped + clean)


def test_trajectory_memo_bit_identity(spark):
    """logreg_fit_trajectory_cached: warm == cold bit-identical, the
    memo holds one entry per logical corpus, and a DIFFERENT logical
    corpus over the same files (extra filter) trains its own entry
    rather than aliasing (the kmeans_centroids_cached contract)."""
    from tests.conftest import SF_SMOKE
    from wilayah_aceh_etl_spark import cachectl as C
    from wilayah_aceh_etl_spark.operators import ml_train as M
    from wilayah_aceh_etl_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id",
        "embedding",
        F.when(F.col("label") < 5, 1).otherwise(0).alias("y"),
    )
    C._MODEL_MEMO.clear()
    cold = M.logreg_fit_trajectory_cached(
        emb, cache_key="t", n_iter=3, lr=2.0
    )
    assert len(C._MODEL_MEMO) == 1
    warm = M.logreg_fit_trajectory_cached(
        emb, cache_key="t", n_iter=3, lr=2.0
    )
    assert warm == cold
    assert len(C._MODEL_MEMO) == 1
    plain = M.logreg_fit_trajectory(emb, n_iter=3, lr=2.0)
    assert plain == cold
    # a filtered corpus over the same files must NOT alias
    sub = emb.filter(F.col("vec_id") % 2 == 0)
    other = M.logreg_fit_trajectory_cached(
        sub, cache_key="t", n_iter=3, lr=2.0
    )
    assert len(C._MODEL_MEMO) == 2
    assert other != cold
    C._MODEL_MEMO.clear()


def test_mutual_information_control_and_ordering(spark):
    """MI invariants on the real corpus: the constant feature's MI
    is EXACTLY 0 (negative control), every MI is non-negative, and
    an informative feature strictly beats the control."""
    from tests.conftest import SF_SMOKE
    from wilayah_aceh_etl_spark.plans.round9_queries import (
        feature_mutual_information_rank,
    )

    got = {r.feature: r for r in
           feature_mutual_information_rank(spark, SF_SMOKE).collect()}
    assert set(got) == {"priority", "month", "price_band", "const"}
    assert got["const"].mi_micronats == 0
    assert got["const"].n_cells <= 3  # one cell per label value
    assert all(r.mi_micronats >= 0 for r in got.values())


def test_streaming_classifier_matches_batch_serving(spark):
    """The streamed verdicts must be EXACTLY the batch serving
    query's (per-doc scoring has no cross-batch state — that is the
    deployment claim), and every doc must land in its doc_id%4
    micro-batch."""
    from tests.conftest import SF_SMOKE
    from wilayah_aceh_etl_spark.plans.round9_queries import (
        corpus_quality_classifier_serving,
        streaming_quality_classifier_filter,
    )

    streamed = streaming_quality_classifier_filter(
        spark, SF_SMOKE
    ).collect()
    batch = {
        r.doc_id: r
        for r in corpus_quality_classifier_serving(spark, SF_SMOKE).collect()
    }
    assert len(streamed) == len(batch)
    for r in streamed:
        assert r.batch == r.doc_id % 4
        assert (r.logit_q, r.keep) == (
            batch[r.doc_id].logit_q,
            batch[r.doc_id].keep,
        )


def test_best_of_n_estimator_properties(spark):
    """BoN invariants: n=1 recovers the plain mean of the 12 sampled
    rewards; the estimate is MONOTONE NON-DECREASING in n (a bigger
    best-of pool can only help); and best-of-8 never exceeds the
    sample maximum."""
    from tests.conftest import SF_SMOKE
    from wilayah_aceh_etl_spark.plans.round9_queries import (
        model_eval_best_of_n,
    )
    from wilayah_aceh_etl_spark.sources.tables import load_table

    got = {}
    for r in model_eval_best_of_n(spark, SF_SMOKE).collect():
        got.setdefault(r.prompt_id, {})[r.n] = r.bon_estimate_milli
    assert got
    ev = load_table(spark, SF_SMOKE, "events").filter(
        F.col("user_id") < 20
    )
    rows = ev.select("user_id", "event_id", "value").collect()
    by_prompt = {}
    for r in sorted(rows, key=lambda r: (r.user_id, r.event_id)):
        by_prompt.setdefault(r.user_id, []).append(
            round(r.value * 1000)
        )
    for pid, ests in got.items():
        sample = by_prompt[pid][:12]
        assert abs(ests[1] - sum(sample) / len(sample)) < 1e-3, pid
        assert ests[1] <= ests[4] <= ests[8], (pid, ests)
        assert ests[8] <= max(sample) + 1e-6, pid


def test_jl_projection_distortion_concentrates(spark):
    """The JL lemma's claim on the real corpus: E[||Rx/sqrt(k)||^2] =
    ||x||^2, so mean distortion sits near 1e6 ppm, every distortion
    is positive, and at k=16 the empirical spread stays inside the
    (loose) 4-sigma envelope sqrt(2/k)*4 ~ 1.41."""
    from tests.conftest import SF_SMOKE
    from wilayah_aceh_etl_spark.plans.round9_queries import (
        embedding_jl_projection_audit,
    )

    got = embedding_jl_projection_audit(spark, SF_SMOKE).collect()
    assert len(got) == 500
    vals = [r.distortion_ppm for r in got]
    assert all(v > 0 for v in vals)
    mean = sum(vals) / len(vals)
    assert abs(mean - 1_000_000) < 150_000, mean
    within = sum(1 for v in vals if 400_000 < v < 2_400_000)
    assert within / len(vals) > 0.95


def test_ams_f2_estimator_quality(spark):
    """AMS invariants on the real corpus: the exact F2 matches a
    Python recomputation, the 8-estimator mean lands within the
    sketch's coarse accuracy envelope (std/F2 = sqrt(2/8) ~ 0.5;
    assert within 3x of that), and the audit's ppm arithmetic is
    self-consistent."""
    from tests.conftest import SF_SMOKE
    from wilayah_aceh_etl_spark.plans.round9_queries import (
        approx_f2_ams_audit,
    )
    from wilayah_aceh_etl_spark.sources.tables import load_table

    row = approx_f2_ams_audit(spark, SF_SMOKE).collect()[0]
    counts = {}
    for r in load_table(spark, SF_SMOKE, "events").select(
        "user_id"
    ).collect():
        counts[r.user_id] = counts.get(r.user_id, 0) + 1
    f2 = sum(v * v for v in counts.values())
    assert row.f2_exact == f2
    assert row.n_keys == len(counts)
    assert abs(row.ams_estimate - f2) / f2 < 1.5
    # rel_err_ppm derives from the UNROUNDED mean (sum_z2/8), the
    # emitted estimate from the rounded one — allow that half-unit
    # of estimate rounding, which is 1e6/(2*f2) ppm, plus 1 for the
    # ppm rounding itself
    assert abs(
        row.rel_err_ppm - 1e6 * (row.ams_estimate - f2) / f2
    ) <= 1e6 / (2 * f2) + 1


def test_gate_window_tool_policy():
    """tools/gate_window.py implements the registry's exhaustion
    policy: every proposed name is a registered oracle-backed query,
    never-verified names come first (new-code-first), and the window
    is exactly the requested size."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "gate_window",
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "tools",
            "gate_window.py",
        ),
    )
    gw = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gw)
    from wilayah_aceh_etl_spark.plans.registry import all_specs

    specs = all_specs()
    latest = gw.verified_rounds()
    assert latest  # rounds of driver rows exist
    oracle_backed = {n for n, s in specs.items() if s.oracle is not None}
    # every verified name the planner counts is a registered query
    assert set(latest) <= set(specs)
    # module-round recency proxy, plus the BUILD_ROUND_OVERRIDES
    # correction for new code registered in core modules (found in
    # the r10 dry run: similarity_imi_topk lives in ext_queries.py,
    # so the bare proxy sorted it out of its own build round)
    assert (
        gw.module_round(
            specs["data_cartography_regions"].fn, "data_cartography_regions"
        )
        == 9
    )
    assert (
        gw.module_round(specs["tpch_q8_market_share"].fn, "tpch_q8_market_share")
        == 0
    )
    # name is REQUIRED (r10 ADVICE): the one-arg form silently skipped
    # the BUILD_ROUND_OVERRIDES correction
    with pytest.raises(TypeError):
        gw.module_round(specs["tpch_q8_market_share"].fn)
    assert (
        gw.module_round(
            specs["similarity_imi_topk"].fn, "similarity_imi_topk"
        )
        == 9
    )
    assert "similarity_imi_topk" in oracle_backed
