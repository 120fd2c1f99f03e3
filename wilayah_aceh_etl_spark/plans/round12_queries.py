"""Round-12 query family: the r11 verdict's asks, composed from
existing machinery (compose-don't-build, third round running).

Members:
  * dedup_policy_agreement_audit_derived_c — the policy-agreement
    audit's PRODUCTION (C ∝ N) twin (verdict ask #2): the MinHash ×
    SemDeDup 2×2 contingency with the semantic side at the derived-C
    configuration, so the policy comparison's production shape is
    driver-visible exactly as the chain audit's became in round 11.
  * text_distinct_ngram_diversity_hll — the distinct-n diversity
    metric's 100-TB form (verdict ask #4): per-source
    approx_count_distinct over the same gram relation,
    guarantee-audited against the exact count in ONE aggregate pass
    (the r7 approx_distinct_rsd_audit gate pattern).
  * curation_funnel_data_budget — stretch (a): token/doc mass
    surviving each dedup-policy combination (semantic side at
    derived C) crossed with the Chinchilla D_opt grid — does the
    corpus still clear the budget AFTER dedup?
  * text_distinct2_dedup_crosscheck — stretch (b): per-source
    bigram diversity before vs after the MinHash keep-set — how
    much low-diversity mass dedup actually removes.
  * text_distinct2_semdedup_crosscheck — the companion the MinHash
    cross-check's docstring calls for: the same table against the
    SemDeDup keep-set at derived C, separating paraphrase-class
    redundancy from repetition neither dedup family can see.

Everything reuses ONE-copy machinery: _policy_agreement_frame /
_minhash_chain_sql / _POLICY_AGREEMENT_TAIL / _POLICY_BASE_SQL /
_MRM_SQL / _minhash_removed_ids / _ngram_grams_frame /
_NGRAM_GRAMS_SQL / _MODEL_SCALES (round11_queries),
_semdedup_derived_c_prelude (round10_queries), semantic_dedup with
its per-corpus memo, and this module's own shared _crosscheck_tail /
_doc_bigrams / _bigram_crosscheck_frame. Zero new numeric code
paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wilayah_aceh_etl_spark.plans.registry import register
from wilayah_aceh_etl_spark.session import local_frame
from wilayah_aceh_etl_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# Policy-agreement audit at the derived-C production configuration
# (the r11 verdict ask #2): same 2×2 contingency, the SemDeDup side
# at C = max(16, ceil(n/16)).
# ---------------------------------------------------------------------------


def _policy_agreement_derived_c_oracle() -> str:
    from wilayah_aceh_etl_spark.plans.round10_queries import (
        _semdedup_derived_c_prelude,
    )
    from wilayah_aceh_etl_spark.plans.round11_queries import (
        _POLICY_AGREEMENT_TAIL,
        _minhash_chain_sql,
    )

    return (
        _semdedup_derived_c_prelude(16)
        + _minhash_chain_sql()
        + _POLICY_AGREEMENT_TAIL
    )


@register(
    "dedup_policy_agreement_audit_derived_c",
    oracle=_policy_agreement_derived_c_oracle(),
    tags=(
        "ext",
        "dedup",
        "minhash",
        "semdedup",
        "audit",
        "curation",
        "derived-c",
    ),
    description="MinHash keep-set × SemDeDup keep-set 2×2 agreement "
    "contingency at the derived-C production configuration "
    "(C = max(16, ceil(n/16)))",
)
def dedup_policy_agreement_audit_derived_c(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The policy-agreement audit (see dedup_policy_agreement_audit)
    with the semantic side at the PRODUCTION SemDeDup configuration —
    C derived from the corpus (C = max(16, ⌈n/16⌉); C = 32/32/125
    across the test SFs), the C ∝ N path that keeps per-cluster pair
    work constant as data grows. The fixed-C=16 sibling's
    gate-exercised shape inherits the oracle-pinned quadratic the
    decade probes price (SCALE.md §9f); this twin makes the policy
    comparison's scale shape driver-visible too: both the Spark
    pipeline and the DuckDB oracle re-derive C from COUNT(*), train
    Lloyd at that C, and cross the resulting keep-set with the SAME
    MinHash keep-set — one _policy_agreement_frame, one
    _POLICY_AGREEMENT_TAIL, two configurations (the
    _chain_audit_frame pattern, round 11).

    Determinism: identical to the fixed-C audit (shared SQL tail,
    shared DataFrame pipeline); only the cluster count differs. The
    MinHash side is byte-identical in both twins — the 2×2 minhash
    margins must agree across configurations
    (tests/test_round12_ops.py reconciles both margins and the
    fixed-vs-derived minhash marginal identity).

    Scale shape: the MinHash side is the banded-LSH candidate join
    (never all-pairs); the semantic side's cid equi-join pair work is
    Σ|cluster|² with |cluster| ≈ 16 held constant by the derived C —
    linear in N where the fixed-C form grows quadratically. The
    audit's own additions (one doc_id equi-join, ≤4-row aggregate,
    4-row window) are unchanged."""
    from wilayah_aceh_etl_spark.plans.round11_queries import (
        _policy_agreement_frame,
    )

    return _policy_agreement_frame(
        spark,
        sf_dir,
        n_centroids=None,
        target_cluster_size=16,
        cache_key=f"{sf_dir}#derived16",
    )


# ---------------------------------------------------------------------------
# Distinct-n diversity, HLL form (the r11 verdict ask #4): the
# 100-TB shape of the metric, guarantee-audited against exact.
# ---------------------------------------------------------------------------


def _distinct_ngram_hll_oracle() -> str:
    from wilayah_aceh_etl_spark.plans.round11_queries import (
        _NGRAM_GRAMS_SQL,
    )

    return (
        _NGRAM_GRAMS_SQL
        + """
SELECT source, n,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(COUNT(DISTINCT gram) AS BIGINT) AS n_distinct_exact,
       TRUE AS within_5x_rsd
FROM grams GROUP BY source, n ORDER BY source, n
"""
    )


@register(
    "text_distinct_ngram_diversity_hll",
    oracle=_distinct_ngram_hll_oracle(),
    tags=("ext", "text", "diversity", "ngram", "sketch", "hll", "audit"),
    description="distinct-n diversity per source via "
    "approx_count_distinct, guarantee-audited within 5x the "
    "advertised rsd of the exact count",
)
def text_distinct_ngram_diversity_hll(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The distinct-n diversity metric at its 100-TB configuration:
    per (source, n), the unique-gram count estimated by
    HyperLogLog++ (approx_count_distinct at rsd 0.01) instead of the
    exact (source, n, gram) type table — the exact sibling
    (text_distinct_ngram_diversity) must shuffle every distinct
    n-gram STRING to its reducer, while the HLL form reduces each
    partition to a fixed-size sketch and shuffles only
    |sources|×3×O(KB) sketch bytes, the same exact→mergeable-sketch
    trade the r6/r7 approx_distinct family registers for key counts.

    Oracle-gated guarantee (the approx_distinct_rsd_audit pattern,
    round7_queries.py): HLL++ has no hard error bound, but a
    deterministic dataset gives a deterministic estimate, so
    'estimate within 5× the advertised rsd of exact' is a stable
    gate — the DuckDB oracle re-derives the exact count and pins the
    flag literally TRUE; the Spark side computes exact AND estimate
    in the SAME aggregate pass (two agg expressions, one shuffle)
    and emits the comparison. A sketch-implementation regression
    flips the flag and the driver row goes red. In production the
    exact expression is dropped and only the sketch aggregates run;
    this registered form carries both BECAUSE it is the audit.

    Determinism: gram strings, counts, and the exact distinct are
    the exact sibling's; the estimate enters only the boolean gate.

    Scale shape: one gram relation (shared _ngram_grams_frame — gram
    strings on the wire, never bodies), one hash aggregate; the HLL
    column is what makes the metric computable when the type table
    itself stops fitting anywhere."""
    from wilayah_aceh_etl_spark.plans.round11_queries import (
        _ngram_grams_frame,
    )

    g = (
        _ngram_grams_frame(spark, sf_dir)
        .groupBy("source", "n")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.countDistinct("gram")
            .cast("long")
            .alias("n_distinct_exact"),
            F.approx_count_distinct("gram", 0.01).alias("_est"),
        )
    )
    ok = (
        F.abs(F.col("_est") - F.col("n_distinct_exact"))
        <= 0.05 * F.col("n_distinct_exact")
    )
    return g.select(
        "source",
        "n",
        "n_grams",
        "n_distinct_exact",
        ok.alias("within_5x_rsd"),
    ).orderBy("source", "n")


# ---------------------------------------------------------------------------
# Curation-funnel data budget (the r11 verdict stretch (a)): token
# mass surviving each dedup-policy combination vs the Chinchilla
# compute-optimal requirement per model scale.
# ---------------------------------------------------------------------------

_FUNNEL_TAIL = """,
cells AS (
  SELECT minhash_keep, semantic_keep,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(nt) AS BIGINT) AS tokens
  FROM base GROUP BY minhash_keep, semantic_keep
),
pol AS (SELECT UNNEST(['raw','minhash','semantic','both']) AS policy),
policies AS (
  SELECT p.policy,
         CAST(SUM(c.n_docs) AS BIGINT) AS surviving_docs,
         CAST(SUM(c.tokens) AS BIGINT) AS surviving_tokens
  FROM pol p JOIN cells c ON
       (p.policy = 'raw')
    OR (p.policy = 'minhash' AND c.minhash_keep = 1)
    OR (p.policy = 'semantic' AND c.semantic_keep = 1)
    OR (p.policy = 'both' AND c.minhash_keep = 1
        AND c.semantic_keep = 1)
  GROUP BY p.policy
),
"""

# the scale grid is the shared _MODEL_GRID_SQL (round11_queries) —
# spliced between these two fragments by _curation_funnel_oracle
_FUNNEL_SELECT = """
SELECT p.policy, g.n_params,
       p.surviving_docs, p.surviving_tokens,
       CAST(20 * g.n_params AS BIGINT) AS d_opt_tokens,
       ROUND(CAST(20 * g.n_params AS DOUBLE) /
             NULLIF(p.surviving_tokens, 0), 4) AS epochs_needed,
       CAST(GREATEST(0, 20 * g.n_params - p.surviving_tokens)
            AS BIGINT) AS tokens_short
FROM policies p CROSS JOIN grid g
ORDER BY p.policy, g.n_params
"""


def _curation_funnel_oracle() -> str:
    from wilayah_aceh_etl_spark.plans.round10_queries import (
        _semdedup_derived_c_prelude,
    )
    from wilayah_aceh_etl_spark.plans.round11_queries import (
        _MODEL_GRID_SQL,
        _POLICY_BASE_SQL,
        _minhash_chain_sql,
    )

    return (
        _semdedup_derived_c_prelude(16)
        + _minhash_chain_sql()
        + _POLICY_BASE_SQL
        + _FUNNEL_TAIL
        + _MODEL_GRID_SQL
        + _FUNNEL_SELECT
    )


@register(
    "curation_funnel_data_budget",
    oracle=_curation_funnel_oracle(),
    tags=(
        "ext",
        "dedup",
        "curation",
        "scaling-law",
        "training",
        "derived-c",
    ),
    description="token mass surviving each dedup-policy combination "
    "(raw/minhash/semantic/both, SemDeDup at derived C) vs the "
    "Chinchilla D_opt requirement per model scale",
)
def curation_funnel_data_budget(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Does the corpus still clear the compute-optimal data budget
    AFTER dedup? The policy-agreement cells composed with the
    Chinchilla grid (the r11 verdict stretch (a)): for each keep
    policy — raw (no dedup), minhash (lexical near-dup removal),
    semantic (SemDeDup at the derived-C production configuration),
    both (the intersection a production pipeline actually ships) —
    the surviving document and token mass, crossed with the 4-scale
    D_opt = 20·N grid into epochs-needed and token-shortfall per
    (policy, model scale). This is the go/no-go table data curation
    hands the training team: every dedup decision is a data-budget
    decision (Hoffmann et al. 2022 set D_opt; Lee et al. 2022 §1
    motivate dedup BECAUSE repeated tokens buy less — the two
    numbers only mean something side by side).

    Determinism: the cells are the derived-C policy audit's own
    bit-pinned verdicts; the funnel adds exact-integer sums, one
    NULLIF-guarded ROUNDed division per row (the r11-ADVICE guard
    class: an all-empty-text policy yields epochs_needed NULL on
    BOTH engines), and exact GREATEST arithmetic. A policy whose
    keep-set is empty drops out via the inner join identically on
    both engines.

    Scale shape: everything downstream of `base` is ≤4-row algebra —
    the 2×2 cells joined to a 4-row policy literal (bounded
    BroadcastNestedLoopJoin) and a 4-row scale grid (broadcast
    cross). The corpus-scale work is exactly the parents' (banded
    LSH candidates; derived-C cid equi-join with |cluster| ≈ 16 held
    constant). The shared cache_key memo-shares the CENTROID
    TRAINING with dedup_policy_agreement_audit_derived_c
    (kmeans_centroids_cached caches the quantizer, not the keep
    verdicts — self-review r12), so each invocation still runs the
    corpus-scale assignment, removal sweep, and MinHash chain; what
    the funnel adds BEYOND re-deriving the audit's per-doc verdicts
    is ≤4-row algebra."""
    from wilayah_aceh_etl_spark.plans.round11_queries import (
        _model_scale_grid,
        _policy_agreement_frame,
    )

    cells = _policy_agreement_frame(
        spark,
        sf_dir,
        n_centroids=None,
        target_cluster_size=16,
        cache_key=f"{sf_dir}#derived16",
    ).select("minhash_keep", "semantic_keep", "n_docs", "tokens")
    pol = F.broadcast(
        local_frame(
            spark,
            [("raw",), ("minhash",), ("semantic",), ("both",)],
            "policy string",
        )
    )
    cond = (
        (F.col("policy") == "raw")
        | ((F.col("policy") == "minhash") & (F.col("minhash_keep") == 1))
        | (
            (F.col("policy") == "semantic")
            & (F.col("semantic_keep") == 1)
        )
        | (
            (F.col("policy") == "both")
            & (F.col("minhash_keep") == 1)
            & (F.col("semantic_keep") == 1)
        )
    )
    policies = (
        cells.join(pol, cond)
        .groupBy("policy")
        .agg(
            F.sum("n_docs").cast("long").alias("surviving_docs"),
            F.sum("tokens").cast("long").alias("surviving_tokens"),
        )
    )
    grid = _model_scale_grid(spark)
    return (
        policies.crossJoin(grid)
        .select(
            "policy",
            "n_params",
            "surviving_docs",
            "surviving_tokens",
            (F.lit(20) * F.col("n_params"))
            .cast("long")
            .alias("d_opt_tokens"),
            F.round(
                (F.lit(20) * F.col("n_params")).cast("double")
                / F.expr("NULLIF(surviving_tokens, 0)"),
                4,
            ).alias("epochs_needed"),
            F.greatest(
                F.lit(0).cast("long"),
                F.lit(20) * F.col("n_params")
                - F.col("surviving_tokens"),
            )
            .cast("long")
            .alias("tokens_short"),
        )
        .orderBy("policy", "n_params")
    )


# ---------------------------------------------------------------------------
# Distinct-2 × dedup cross-check (the r11 verdict stretch (b)): how
# much of the corpus's low-diversity bigram mass does MinHash dedup
# actually remove?
# ---------------------------------------------------------------------------


def _crosscheck_tail(universe_join: str, removed_subquery: str) -> str:
    """The bigram relation + before/after aggregates + emission —
    ONE copy shared by the MinHash and SemDeDup cross-checks, which
    differ only in the document universe and the removed-set they
    splice in."""
    return (
        """,
bg AS (
  SELECT q.doc_id, q.source, array_to_string(q.w[i:i+1], ' ') AS gram
  FROM ("""
        + universe_join
        + """) q,
       UNNEST(range(1, len(q.w))) AS t(i)
  WHERE len(q.w) >= 2
),
before_agg AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS grams_before,
         CAST(COUNT(DISTINCT gram) AS BIGINT) AS distinct_before
  FROM bg GROUP BY source
),
after_agg AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS grams_after,
         CAST(COUNT(DISTINCT gram) AS BIGINT) AS distinct_after
  FROM bg WHERE doc_id NOT IN ("""
        + removed_subquery
        + """)
  GROUP BY source
)
SELECT b.source,
       b.grams_before, b.distinct_before,
       CAST(ROUND(1000000.0 * b.distinct_before / b.grams_before)
            AS BIGINT) AS distinct_ppm_before,
       CAST(COALESCE(a.grams_after, 0) AS BIGINT) AS grams_after,
       CAST(COALESCE(a.distinct_after, 0) AS BIGINT) AS distinct_after,
       CAST(ROUND(1000000.0 * a.distinct_after /
                  NULLIF(a.grams_after, 0)) AS BIGINT)
         AS distinct_ppm_after,
       CAST(ROUND(1000000.0 * (b.grams_before
                               - COALESCE(a.grams_after, 0))
                  / b.grams_before) AS BIGINT)
         AS gram_mass_removed_ppm
FROM before_agg b LEFT JOIN after_agg a USING (source)
ORDER BY b.source
"""
    )


def _distinct2_crosscheck_oracle() -> str:
    from wilayah_aceh_etl_spark.plans.round11_queries import (
        _MRM_SQL,
        _minhash_chain_sql,
    )

    # the MinHash chain is an appendable ",<ctes>" fragment; with no
    # prelude in front, its leading comma becomes the WITH keyword
    return (
        "WITH"
        + _minhash_chain_sql()[1:]
        + _MRM_SQL
        + _crosscheck_tail(
            """SELECT d.doc_id, d.source, wo.w
        FROM words wo JOIN documents d ON d.doc_id = wo.doc_id""",
            "SELECT doc_id FROM mrm",
        )
    )


@register(
    "text_distinct2_dedup_crosscheck",
    oracle=_distinct2_crosscheck_oracle(),
    tags=("ext", "text", "diversity", "ngram", "dedup", "curation"),
    description="distinct-2 diversity per source before vs after the "
    "MinHash keep-set: how much low-diversity bigram mass dedup "
    "removes",
)
def text_distinct2_dedup_crosscheck(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Distinct-n meets the dedup pipeline (the r11 verdict stretch
    (b)): per source, bigram diversity BEFORE vs AFTER applying the
    MinHash keep-set — the cross-check that tells a curation team
    whether the boilerplate mass the diversity audit flags
    (text_distinct_ngram_diversity: low distinct-2 = templated
    source) is the SAME mass near-dup dedup already removes, or
    residual repetition dedup cannot see (repeated n-grams spread
    across non-duplicate documents — the Lee et al. 2022 §6.2
    distinction between exact-substring and near-dup removal).
    gram_mass_removed_ppm prices what dedup took; distinct_ppm_after
    − distinct_ppm_before is the diversity lift it bought. A source
    whose after-ppm stays low needs a different tool (templated
    generation, SemDeDup) — that is precisely what this table
    decides.

    Determinism: exact bigram strings (the shared whitespace-split
    slice idiom), exact BIGINT counts; each emitted ppm is ONE
    ROUNDed division, NULLIF-guarded on the after side (a source
    whose every document is removed yields distinct_ppm_after NULL
    on BOTH engines; its count columns COALESCE to exact 0).

    Scale shape: the MinHash side is the parents' banded-LSH chain
    (shared _minhash_chain_sql / _minhash_removed_ids — memoized
    work at execution via Spark's plan-canonicalization cache when
    the policy queries run in the same session); the new work is one
    per-doc bigram explode feeding a (source, gram) hash aggregate —
    gram strings on the wire, never bodies — run twice (before /
    after the keep-set anti-join on doc_id). Both aggregates are the
    exact sibling's shape; the HLL twin's sketch form is the
    registered 100-TB escape hatch for the distinct columns."""
    from wilayah_aceh_etl_spark.plans.round11_queries import (
        _minhash_removed_ids,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    mrm = _minhash_removed_ids(docs)
    return _bigram_crosscheck_frame(_doc_bigrams(docs), mrm)


def _doc_bigrams(docs: DataFrame) -> DataFrame:
    """(doc_id, source, gram) bigram relation over a (doc_id,
    source, text) universe — ONE copy shared by the MinHash and
    SemDeDup cross-checks (the DataFrame twin of _crosscheck_tail's
    bg CTE)."""
    w = docs.select(
        "doc_id", "source", F.split("text", " ").alias("w")
    ).filter(F.size("w") >= 2)
    return w.select(
        "doc_id",
        "source",
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 1),"
                " i -> array_join(slice(w, i, 2), ' '))"
            )
        ).alias("gram"),
    )


def _bigram_crosscheck_frame(
    bg: DataFrame, removed: DataFrame
) -> DataFrame:
    """ONE copy of the before/after bigram-diversity aggregate +
    emission, parameterized by the bigram relation and the
    removed-ids relation — the MinHash and SemDeDup cross-checks
    differ only in what they pass in."""
    before = bg.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("grams_before"),
        F.countDistinct("gram").cast("long").alias("distinct_before"),
    )
    after = (
        bg.join(removed, "doc_id", "left_anti")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("grams_after"),
            F.countDistinct("gram").cast("long").alias("distinct_after"),
        )
    )
    return (
        before.join(after, "source", "left")
        .select(
            "source",
            "grams_before",
            "distinct_before",
            F.round(
                F.lit(1000000.0)
                * F.col("distinct_before")
                / F.col("grams_before")
            )
            .cast("long")
            .alias("distinct_ppm_before"),
            F.coalesce(F.col("grams_after"), F.lit(0))
            .cast("long")
            .alias("grams_after"),
            F.coalesce(F.col("distinct_after"), F.lit(0))
            .cast("long")
            .alias("distinct_after"),
            F.round(
                F.lit(1000000.0)
                * F.col("distinct_after")
                / F.expr("NULLIF(grams_after, 0)")
            )
            .cast("long")
            .alias("distinct_ppm_after"),
            F.round(
                F.lit(1000000.0)
                * (
                    F.col("grams_before")
                    - F.coalesce(F.col("grams_after"), F.lit(0))
                )
                / F.col("grams_before")
            )
            .cast("long")
            .alias("gram_mass_removed_ppm"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Distinct-2 × SemDeDup cross-check: the question the MinHash
# cross-check's docstring poses — does SEMANTIC dedup buy diversity
# lift where lexical dedup doesn't? — answered at the production C.
# ---------------------------------------------------------------------------


def _distinct2_semdedup_oracle() -> str:
    from wilayah_aceh_etl_spark.plans.round10_queries import (
        _semdedup_derived_c_prelude,
    )

    return _semdedup_derived_c_prelude(16) + _crosscheck_tail(
        """SELECT d.doc_id, d.source, string_split(d.text, ' ') AS w
        FROM documents d JOIN ranked r ON r.vec_id = d.doc_id""",
        "SELECT vec_id FROM removed",
    )


@register(
    "text_distinct2_semdedup_crosscheck",
    oracle=_distinct2_semdedup_oracle(),
    tags=(
        "ext",
        "text",
        "diversity",
        "ngram",
        "dedup",
        "semdedup",
        "curation",
        "derived-c",
    ),
    description="distinct-2 diversity per source before vs after the "
    "SemDeDup keep-set (derived C): the diversity lift semantic "
    "dedup buys where lexical dedup cannot",
)
def text_distinct2_semdedup_crosscheck(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The companion the MinHash cross-check's own docstring calls
    for: per source, bigram diversity BEFORE vs AFTER the SEMANTIC
    keep-set (SemDeDup at the derived-C production configuration) —
    read side by side with text_distinct2_dedup_crosscheck, the pair
    decomposes a source's low-diversity mass into what lexical
    near-dup removal takes, what semantic clustering additionally
    takes (paraphrase-class redundancy shares few bigrams but lands
    in the same cluster — Abbas et al. 2023 §1's motivating case),
    and the residual neither can see. A templated source whose
    after-ppm rises HERE but not in the MinHash table is
    paraphrase-heavy; one flat in both tables repeats n-grams across
    genuinely distinct documents and needs a different tool.

    Universe: the embedded-document universe (documents ⋈ ranked,
    doc_id = vec_id) — the only universe semantic verdicts exist
    on; the before-side therefore differs from the MinHash table's
    full-corpus before-side by exactly the unembedded mass
    (reconciled in tests/test_round12_ops.py).

    Determinism: identical machinery to the MinHash sibling (shared
    _crosscheck_tail / _doc_bigrams / _bigram_crosscheck_frame —
    exact strings, exact BIGINTs, NULLIF/COALESCE-guarded ppm); the
    keep verdicts are semantic_dedup's bit-pinned pipeline, memo-
    sharing centroid training with the round's other derived-C
    queries (same cache_key).

    Scale shape: the semantic side is the derived-C cid equi-join
    (|cluster| ≈ 16 held constant, linear pair work); the bigram
    side is two (source, gram) hash aggregates, gram strings on the
    wire. Nothing new crosses the wire that the parents and the
    MinHash sibling don't already move."""
    from wilayah_aceh_etl_spark.operators import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    sd = S.semantic_dedup(
        emb,
        threshold=0.35,
        n_centroids=None,
        n_iter=2,
        target_cluster_size=16,
        cache_key=f"{sf_dir}#derived16",
    ).select(F.col("vec_id").alias("doc_id"), "keep")
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "source", "text")
        .join(sd.select("doc_id"), "doc_id")
    )
    removed = sd.filter(F.col("keep") == 0).select("doc_id")
    return _bigram_crosscheck_frame(_doc_bigrams(docs), removed)
