"""Plan-quality pinning: compiling every registered query must not
introduce scale anti-patterns (tools/explain_audit.py as a test).

Whitelisted exceptions are the documented brute-force baselines and
the IVF centroid-assignment broadcast product (SCALE.md §4). No
lambda body may re-split a column per array element.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest

from tests.conftest import SF_SMOKE
from wilayah_aceh_etl_spark.plans.registry import all_specs

# documented non-equi shapes (SCALE.md §4)
NLJ_ALLOWED = {
    "similarity_topk_bruteforce",
    "similarity_threshold_pairs",
    # brute-force shape with the label inequality fused into the
    # non-equi join condition (re-rank stage after the ANN path)
    "embedding_hard_negatives",
    # BF ground truth × IVF: inherits the brute-force broadcast
    # product (IVF assignment and probes read the centroids as one
    # scalar-subquery array, no join)
    "similarity_ivf_recall",
    # same composition, trained quantizer + seed-disjoint queries
    # (20-row broadcast side vs corpus — the definitional BF truth)
    "similarity_ivf_kmeans_recall",
    # broadcast of a single-row global-total aggregate: the build side is
    # exactly 1 row regardless of data size, so the NLJ is O(buckets)
    "data_mixture_rates",
    "data_mixture_temperature_epochs",  # same 1-row totals broadcast
    "text_unigram_logprob",
    "events_m4_downsample",  # 1-row global [min,max] span broadcast
    "sample_weighted_pps",  # 1-row total-weight broadcast
    "text_bm25_search",  # 1-row corpus-stats broadcast
    "text_source_kl_divergence",  # 1-row corpus-total broadcast
    "abc_part_classification",  # 1-row total-revenue broadcast
    "orders_benford_digits",  # 1-row digit-count total broadcast
    "graph_triangle_count",  # three 1-row count aggregates cross-joined

    "tpch_q22_idle_rich_customers",
    "tpch_q11_important_stock",
    # k-row centroid broadcast (k=16): nearest-centroid assignment is
    # definitionally all-vectors × all-centroids; build side is O(k)
    "embedding_kmeans_iteration",
    "basket_association_rules",  # 1-row basket-count total broadcast
    # inherits brute_force_topk's query≠candidate non-equi broadcast
    "embedding_knn_label_vote",
    # brute-force first stage + ≤8-row-slate pairwise-sim non-equi joins
    "similarity_mmr_rerank",
    "feature_onehot_class_weights",  # 1-row customer-total broadcast
    "feature_woe_binning",  # 1-row pos/neg-total broadcast
    "dedup_lsh_band_sweep",  # 1-row ground-truth-count broadcast
    "events_markov_conditional_entropy",  # 1-row transition-total broadcast
    "lineitem_simpson_paradox_audit",  # 1-row ALL-slope broadcast
    "events_drift_psi_value",  # 1-row cutoff/decile-edge broadcasts
    "events_drift_js_weekly_mix",  # 1-row min-day broadcast
    "lineitem_abc_xyz_matrix",  # 1-row total-revenue broadcast
    # 1-row (Σinfl, n) floor-mean broadcast — the high/low influence
    # split compares every row against one global aggregate
    "data_curation_influence_dedup_audit",
    # 1-row (min, max) margin-range broadcast for the band edges
    "corpus_classifier_reliability_bins",
    # 1-row cross of two scalar aggregates (Σ‖g‖² stats × Σs²)
    "training_gradient_noise_scale",
    "orders_kaplan_meier_ship",  # 1-row at-risk-total broadcast
    "text_bigram_lm_logprob",  # 1-row corpus-token-total broadcast
    # inherits text_bm25_search's 1-row stats broadcast + the
    # brute-force query≠candidate non-equi broadcast (top-50 side)
    "retrieval_rrf_fusion",
    # 4-row subspace-index broadcast: slicing each vector into its 4
    # PQ subspaces is definitionally vectors × subspaces
    "similarity_pq_adc_topk",
    # two brute-force passes (full-dim + prefix ground truth) — the
    # self-measuring eval inherits the documented BF broadcast shape
    "similarity_matryoshka_recall",
    # two 1-row corpus-total broadcasts feed the PMI denominator
    "text_bigram_pmi_collocations",
    # bounded range join: each (day,user) row fans into ≤7 window
    # anchors — constant fan-out by construction (day-grid pattern)
    "events_sliding_distinct_users",
    "embedding_power_iteration",  # 1-row vector-norm broadcast
    # 16-row centroid broadcast (the kmeans assignment shape)
    "embedding_cluster_silhouette",
    # --- round 6 (same bounded-build-side shapes, documented in SCALE.md §7) ---
    "class_balance_effective_weights",  # 1-row (total, nmax) broadcast
    "customer_mahalanobis_outliers_2d",  # 1-row moment-table broadcast
    # k-row centroid broadcast per Lloyd round (k=8, three rounds)
    "embedding_kmeans_3iter",
    "events_ccf_lead_lag",  # 7-row lag dim × 30-row daily aggregate
    "events_hurst_rs_clicks",  # 3-row block-size dim × 30-row daily series
    "events_sequential_pattern_support",  # 1-row distinct-user total
    # 25-row capitals dim, all-pairs by construction (k² = 625)
    "geo_haversine_nearest_capitals",
    "orders_totalprice_reconciliation",  # 1-row orphan-count broadcast
    "pandas_scalar_udf_zscore",  # 1-row global-moment broadcast
    "retrieval_ndcg_label_eval",  # 1-row ideal-DCG broadcast
    "scd2_state_dwell_time",  # 1-row global-max-ts broadcast (tail clip)
    "stats_bootstrap_ci_daily_value",  # 1-row point-estimate broadcast
    # contingency cells × 1-row cardinality row per pair (≤15 cells)
    "stats_cramers_v_pairs",
    # 25-row aggregated nation metrics, pairwise by construction
    "stats_kendall_tau_nation_counts",
    "tokenizer_vocab_coverage",  # 1-row corpus total × 3-row K dim
    "allocation_largest_remainder",  # 1-row total + 1-row shortfall broadcasts
    "weights_raking_ipf",  # 1-row margin-target broadcast over ≤25 cells
    "forecast_conformal_interval",  # 1-row calibration-quantile broadcast
    "feature_quantile_normalization",  # 1-row pool-size broadcast
    "orders_chain_ladder_forecast",  # 1-row development-factor broadcast
    "ope_ips_policy_value",  # 1-row log-size broadcast (propensity denom)
    "events_evt_peaks_over_threshold",  # 1-row threshold broadcast
    "layout_zorder_morton",  # 1-row global min/max bounds broadcast
    # 1-row grand-seasonal-mean broadcast over the ~30-row daily agg
    "events_classical_decomposition_daily",
    # 1-row mixture-total broadcast at the tail of the composed prep
    "pipeline_training_prep_v2",
    # 6-row checkpoint dim × vocab relation: checkpoints are a fixed
    # constant, so the product is O(vocab), the same as the input
    "text_heaps_law_curve",
    # --- round 7/8 additions (bounded-build-side shapes) ---
    # 3-row k dim × problems, plus 21-row factorial lookup
    "model_eval_pass_at_k",
    # 3-row class dim × labels, then two 1-row aggregates combined
    "labels_cohens_kappa",
    # 16-row coarse-centroid and 64-row PQ-codebook broadcasts plus a
    # 4-row subspace dim — every unconditioned join is O(16) build-side
    "similarity_ivfadc_topk",
    # --- round 9 additions (bounded-build-side shapes) ---
    # three 1-row corpus-total aggregates combined into the BLEU row
    "eval_bleu2_corpus",
    # 10-row confidence-bin aggregate × 1-row gap-total broadcast
    "eval_calibration_ece",
    # 10-row decile aggregate × 1-row corpus-moment broadcast
    "eval_brier_decomposition",
    # two 1-row agreement aggregates combined into the kappa row
    "labels_fleiss_kappa",
    # pairwise join over the DISTINCT VOCABULARY (31 terms, the
    # aggregated small relation) — the standard fuzzy-join dedupe-
    # to-terms trick; corpus rows never enter the quadratic side
    "eval_levenshtein_battery",
    # --- round 7 ---
    # 1-row corpus-total broadcast onto the 256-row feature
    # distribution (the lam relation); scoring join is an equi-join
    # on the hashed bucket with an O(256) broadcast build side
    "data_selection_dsir_topk",
    # --- round 9 ---
    # inherits text_bigram_lm_logprob's 1-row corpus-token-total
    # broadcast (the LM interpolation denominator)
    "corpus_perplexity_buckets_ccnet",
    # two 1-row broadcasts: k = (3n) div 10, and the (threshold,
    # boundary-quota) row selected from the margin histogram
    "data_pruning_el2n_margin",
    # 1-row class-threshold aggregate (s1,n1,s0,n0) broadcast onto
    # the scored corpus
    "labels_confident_learning_noise",
    # EL2N's device on the quantized prototype cosine: two 1-row
    # broadcasts
    # (k = (2n) div 10 and the histogram threshold+quota row)
    "data_pruning_ssl_prototypes",
    # 1-row bigram-TYPE-total broadcast (the KN continuation
    # denominator — text_bigram_lm_logprob's token-total shape)
    "text_bigram_kneser_ney",
    # two 1-row broadcasts onto the N_LANGUAGES-row relation: the
    # (total, n_langs, budget) aggregate and the waterline share
    "data_mixture_unimax_allocation",
    # per-feature 1-row N broadcast onto the contingency-cell
    # relation (the MI normalization denominator)
    "feature_mutual_information_rank",
    # 3-row n-grid broadcast product (the pass@k k-grid shape)
    "model_eval_best_of_n",
    # 8-row estimator-grid broadcast onto the key-count relation,
    # plus the 1-row sketch/exact summary cross join
    "approx_f2_ams_audit",
    # --- round 10 ---
    # 5-row prefix-grid non-equi broadcast (doc_id % 16 < width)
    "data_scaling_unigram_nll_curve",
    # 3-row context-length grid broadcast product
    "training_packing_efficiency",
    # 4-row vocab-size grid non-equi broadcast + 1-row total cross
    "tokenizer_vocab_coverage_curve",
    # --- round 11 ---
    # 3-row context grid × 1-row GNS-scalar broadcast (both bounded),
    # plus the GNS parent's 1-row scalar cross
    "training_critical_batch_schedule",
    # 4-row model-scale grid × 1-row corpus-token-total cross
    "training_chinchilla_data_budget",
    # --- round 12 ---
    # a ≤4-row cells × 4-row policy-literal OR-join and a 4-row
    # scale-grid broadcast cross (all bounded)
    "curation_funnel_data_budget",
}


# Queries allowed a partition-less Window over NON-aggregated input.
# Everything else with a global window must feed it post-aggregation
# (bounded series: daily grids, ≤25 cells), which the guard detects
# structurally. These six are definitionally-global-rank shapes, each
# documenting its at-scale substitute in its docstring:
GLOBAL_WINDOW_ALLOWED = {
    # ground truth for approx_percentile_prices; NTILE is total-order
    "histogram_equi_depth_prices",
    # Spearman needs global average ranks by definition; sort-bound
    "stats_spearman_part_size_price",
    # quantile normalization maps to the pooled global rank lattice
    "feature_quantile_normalization",
    # systematic PPS: cumulative weights along one global order
    "sample_weighted_pps",
    # nulls-placement battery over a ≤3-user filtered slice
    "sort_nulls_placement_battery",
    # running max over arrival order = the lateness definition;
    # docstring prescribes per-ingest-partition profiling at scale
    "events_watermark_lateness_profile",
    # ranks the trained model's weight table — d rows (64), a model
    # constant created on the driver, never corpus-derived input
    "ml_logreg_top_features",
    # cumulative curve over the MONITOR table: one summary row per
    # micro-batch (the Aggregate ran inside foreachBatch, invisible
    # to this structural guard) — input is O(batches), never O(docs)
    "streaming_quality_monitor_rates",
}


# Queries allowed a lambda body that calls split/regexp_* on a column
# bound outside the lambda: Spark interprets lambda bodies, so the
# call re-runs once per array element (bind it once instead:
# `transform(array(split(...)), w -> ...)[0]`). name -> one-line
# reason. The set may only shrink: LAMBDA_SPLIT_ALLOWED_MAX is lowered
# with every entry that goes and never raised.
LAMBDA_SPLIT_ALLOWED: dict[str, str] = {}
LAMBDA_SPLIT_ALLOWED_MAX = 0


def _walk_logical(node):
    yield node
    for i in range(node.children().size()):
        yield from _walk_logical(node.children().apply(i))


_SPLIT_OR_REGEXP = {
    "StringSplit",
    "RLike",
    "RegExpReplace",
    "RegExpExtract",
    "RegExpExtractAll",
    "RegExpCount",
    "RegExpSubStr",
    "RegExpInStr",
}


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


def _plan_nodes(plan):
    """Every node of `plan`, including the plans of persisted
    relations (an InMemoryRelation is a leaf that hides its plan)."""
    for node in _walk_logical(plan):
        yield node
        kind = node.getClass().getSimpleName()
        if kind == "InMemoryRelation":
            yield from _plan_nodes(node.cachedPlan())
        elif kind == "AdaptiveSparkPlanExec":
            yield from _plan_nodes(node.inputPlan())


def _lambda_splits_outer_column(df) -> set[str]:
    """The split/regexp_* calls inside lambda bodies of the optimized
    plan whose operands read a column (an AttributeReference — lambda
    variables are NamedLambdaVariables)."""
    jvm = df.sparkSession._jvm
    lam = jvm.org.apache.spark.sql.catalyst.trees.TreePattern.LAMBDA_FUNCTION()
    found: set[str] = set()

    def visit(e):
        if not e.containsPattern(lam):
            return
        if e.getClass().getSimpleName() == "LambdaFunction":
            for x in _walk_logical(e.function()):
                if x.getClass().getSimpleName() in _SPLIT_OR_REGEXP and any(
                    a.getClass().getSimpleName() == "AttributeReference"
                    for a in _walk_logical(x)
                ):
                    found.add(x.sql())
        for c in _seq(e.children()):
            visit(c)

    for node in _plan_nodes(df._jdf.queryExecution().optimizedPlan()):
        for e in _seq(node.expressions()):
            visit(e)
    return found


def _global_window_over_raw_input(df) -> bool:
    """True iff the optimized plan has a Window with an empty
    partition spec whose subtree contains no Aggregate — i.e. a
    single-partition sort over potentially unbounded input (the
    WindowExec: 'No Partition Defined' warning class from the r3
    judge parity run)."""
    plan = df._jdf.queryExecution().optimizedPlan()
    for node in _walk_logical(plan):
        if (
            node.getClass().getSimpleName() == "Window"
            and node.partitionSpec().isEmpty()
        ):
            if not any(
                n.getClass().getSimpleName() == "Aggregate"
                for n in _walk_logical(node)
            ):
                return True
    return False


def _plan(spark, df) -> str:
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain()
        return buf.getvalue()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


@pytest.mark.parametrize("name", sorted(all_specs()))
def test_no_plan_antipatterns(spark, name):
    spec = all_specs()[name]
    df = spec.fn(spark, SF_SMOKE)
    plan = _plan(spark, df)
    assert "CartesianProduct" not in plan, f"{name}: cartesian product"
    if name not in NLJ_ALLOWED:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name}: nested-loop join crept in"
        )
    if name not in GLOBAL_WINDOW_ALLOWED:
        assert not _global_window_over_raw_input(df), (
            f"{name}: partition-less Window over non-aggregated input "
            "— single-partition sort that cannot scale; aggregate "
            "first, partition the window, or whitelist with a bounded-"
            "input justification"
        )
    resplit = _lambda_splits_outer_column(df)
    if name in LAMBDA_SPLIT_ALLOWED:
        assert resplit, f"{name}: fixed — drop it from LAMBDA_SPLIT_ALLOWED"
    else:
        assert not resplit, (
            f"{name}: a lambda body re-runs {sorted(resplit)} per array "
            "element; bind the split once outside the lambda"
        )


def test_lambda_split_whitelist_only_shrinks():
    assert len(LAMBDA_SPLIT_ALLOWED) <= LAMBDA_SPLIT_ALLOWED_MAX


def test_lambda_split_rule_catches_a_resplit(spark):
    """The rule flags a split of a column inside a lambda, also under
    a persisted relation, and passes word_shingles, which binds the
    split once."""
    from pyspark.sql import functions as F

    from wilayah_aceh_etl_spark.functions.text import word_shingles

    df = spark.createDataFrame([("a b c d",)], "text string")
    resplit = df.select(
        F.expr(
            "transform(sequence(1, size(split(text, ' ')) - 1), "
            "i -> element_at(split(text, ' '), i)) AS w"
        )
    )
    want = {"split(text, ' ', -1)"}
    assert _lambda_splits_outer_column(resplit) == want
    cached = resplit.persist()
    try:
        assert _lambda_splits_outer_column(cached.select("w")) == want
    finally:
        cached.unpersist()
    assert not _lambda_splits_outer_column(df.select(word_shingles("text", 2)))


def test_aqe_splits_skewed_join_partition(spark, tmp_path):
    """Scale evidence for SCALE.md §1: with AQE skew-join enabled, a
    hot key whose partition dwarfs the median is split at runtime —
    the executed SortMergeJoin is marked skew=true. This is the
    automatic remedy; operators/skew.py holds the explicit ones."""
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    left_path = str(tmp_path / "skew_left")
    right_path = str(tmp_path / "skew_right")
    # one hot key (0) with ~200k rows, 99 cold keys with ~200 each
    spark.range(200_000).select(
        F.lit(0).alias("k"), F.col("id").alias("v")
    ).union(
        spark.range(20_000).select(
            (F.col("id") % 99 + 1).alias("k"), F.col("id").alias("v")
        )
    ).write.mode("overwrite").parquet(left_path)
    spark.range(1_000_000).select(
        (F.col("id") % 100).alias("k"), F.col("id").alias("w")
    ).write.mode("overwrite").parquet(right_path)

    old = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
        l = spark.read.parquet(left_path)
        r = spark.read.parquet(right_path)
        # A global aggregate (not groupBy("k")) — a downstream operator
        # that *requires* hash distribution on k would veto the skew
        # split, since split partitions no longer satisfy it.
        joined = l.join(r, "k").agg(F.sum("v").alias("total_v"))
        joined.collect()  # execute so AQE finalizes the plan
        buf = io.StringIO()
        with redirect_stdout(buf):
            joined.explain()
        plan = buf.getvalue()
        assert "skew=true" in plan, plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_semantic_dedup_pair_join_is_equi(spark):
    """SemDeDup's whole point is that near-dup candidates are
    cluster-scoped: the pair join must compile to an EQUI-join on
    the cluster id (Σ|cluster|² comparisons), never a cartesian /
    nested-loop all-pairs product."""
    import re

    from wilayah_aceh_etl_spark.operators.similarity import semantic_dedup
    from wilayah_aceh_etl_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    df = semantic_dedup(emb, threshold=0.35, n_centroids=16, n_iter=2)
    plan = _plan(spark, df)
    assert "CartesianProduct" not in plan
    # the a×b pair join keyed on cid (rk inequality rides as the
    # post-equi condition)
    assert re.search(
        r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)\s*(?:\w+\s*)?\[cid",
        plan,
    ), plan
