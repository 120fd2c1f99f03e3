"""Round-10 query family: curation families composed END TO END.

The r9 verdict's stretch direction — compose, don't build new
machinery. The first member joins the two big round-9 families:
TracIn self-influence (gradient-based attribution) audits the
SemDeDup keep-set (semantic dedup), answering the curation question
the two families individually cannot: does semantic dedup
preferentially discard LOW-influence (redundant) examples, or is it
throwing away high-influence training signal?

Everything here reuses existing machinery: the memoized lr=2.0
trajectory (operators/ml_train.py::logreg_fit_trajectory_cached),
the SemDeDup operator (operators/similarity.py::semantic_dedup), and
the established oracle CTE generators (_emb_train_sql,
_ivf_km_step_sql with the r10 table-name parameters). Zero new
numeric code paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wilayah_aceh_etl_spark.operators import similarity as S
from wilayah_aceh_etl_spark.plans.registry import register
from wilayah_aceh_etl_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# Influence × dedup audit: TracIn self-influence vs the SemDeDup
# keep-set, as a 2×2 contingency (high/low influence × keep/drop).
# ---------------------------------------------------------------------------


def _influence_dedup_oracle() -> str:
    """Composes the TracIn oracle's trajectory + margins CTEs with
    the SemDeDup oracle's Lloyd-training + keep-sweep CTEs in ONE
    WITH clause. The training side owns the bare v/u names
    (_emb_train_sql); the k-means side runs k-prefixed via
    _ivf_km_step_sql(v="kv", u="ku", pfx="k") over adapter CTEs that
    re-expose the SAME embedding lists under the semantic oracle's
    column names — both sides read one logical corpus, exactly like
    the Spark plan."""
    from wilayah_aceh_etl_spark.plans.ext_queries import (
        _COS,
        _ivf_km_step_sql,
    )
    from wilayah_aceh_etl_spark.plans.round9_queries import (
        _TD_LR,
        _TD_MARGINS_SQL,
        _emb_train_sql,
    )

    def e_t(m: str) -> str:
        return f"(0.5 + {m} / (2.0 * (1.0 + abs({m}))) - y)"

    terms = " + ".join(
        f"{_TD_LR} * ({e_t(f'm{t}')} * {e_t(f'm{t}')}) * xx"
        for t in (1, 2, 3)
    )
    pe_with_xx = _TD_MARGINS_SQL.replace(
        "SELECT v.vec_id, v.y,",
        "SELECT v.vec_id, v.y, list_dot_product(v.x, v.x) AS xx,",
    )
    return (
        "WITH "
        + _emb_train_sql("", "TRUE")
        + ","
        + pe_with_xx
        + f""",
infl AS (
  SELECT vec_id,
         CAST(ROUND(({terms}) * 16777216) AS BIGINT) AS infl_q
  FROM pe
),
kv AS (SELECT vec_id, x AS e FROM v),
ku AS (SELECT vec_id, val, pos FROM u),
kc1 AS (SELECT vec_id AS cid, e AS ce FROM kv WHERE vec_id < 16),
"""
        + ",".join(
            _ivf_km_step_sql(i, v="kv", u="ku", pfx="k") for i in (1, 2)
        )
        + """,
kassigned AS (
  SELECT vec_id, e, cid, ROUND(cs, 6) AS cent_cos FROM (
    SELECT v.vec_id, v.e, c.cid, """
        + _COS.format(a="v.e", b="c.ce")
        + """ AS cs,
           ROW_NUMBER() OVER (
             PARTITION BY v.vec_id
             ORDER BY """
        + _COS.format(a="v.e", b="c.ce")
        + """ DESC, c.cid
           ) AS rn
    FROM kv v, kc3 c
  ) WHERE rn = 1
),
kranked AS (
  SELECT vec_id, e, cid, cent_cos,
         ROW_NUMBER() OVER (
           PARTITION BY cid ORDER BY cent_cos, vec_id
         ) AS rk
  FROM kassigned
),
kremoved AS (
  SELECT DISTINCT a.vec_id
  FROM kranked a JOIN kranked b ON a.cid = b.cid AND a.rk > b.rk
  WHERE ROUND("""
        + _COS.format(a="a.e", b="b.e")
        + """, 6) >= 0.35
),
keepset AS (
  SELECT r.vec_id,
         CAST(CASE WHEN rm.vec_id IS NULL THEN 1 ELSE 0 END
              AS INTEGER) AS keep
  FROM kranked r LEFT JOIN kremoved rm ON r.vec_id = rm.vec_id
),
j AS (
  SELECT i.vec_id, i.infl_q, k.keep
  FROM infl i JOIN keepset k USING (vec_id)
),
tot AS (
  SELECT CAST(SUM(infl_q) AS BIGINT) AS s,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM j
),
flagged AS (
  SELECT vec_id, infl_q, keep,
         CASE WHEN infl_q > (SELECT s // n FROM tot)
              THEN 1 ELSE 0 END AS high_influence
  FROM j
),
cells AS (
  SELECT high_influence, keep,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(infl_q) AS BIGINT) AS sum_infl_q
  FROM flagged GROUP BY high_influence, keep
),
cls AS (
  SELECT high_influence, CAST(SUM(n_docs) AS BIGINT) AS cn
  FROM cells GROUP BY high_influence
)
SELECT CAST(c.high_influence AS INTEGER) AS high_influence,
       c.keep, c.n_docs, c.sum_infl_q,
       ROUND(CAST(c.n_docs AS DOUBLE) / cls.cn, 6) AS class_share
FROM cells c JOIN cls USING (high_influence)
ORDER BY high_influence, keep
"""
    )


@register(
    "data_curation_influence_dedup_audit",
    oracle=_influence_dedup_oracle(),
    tags=("ext", "ml", "curation", "attribution", "dedup", "semdedup"),
    description="TracIn self-influence × SemDeDup keep-set 2×2 "
    "contingency: does semantic dedup drop low-influence rows?",
)
def data_curation_influence_dedup_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Influence-aware dedup audit — the round-9 curation families
    composed end to end (the r9 verdict's stretch ask): TracIn
    self-influence (Pruthi et al. 2020, from the SAME memoized
    lr=2.0 trajectory the cartography family trains) scores every
    embedding, SemDeDup (Abbas et al. 2023, the SAME semantic_dedup
    operator dedup_semantic_clusters registers) issues keep/drop
    verdicts, and the audit reports the 2×2 contingency of
    (high/low self-influence × keep/drop) with each influence
    class's keep-share. A healthy dedup drops redundant (low-
    influence) mass: high-influence keep-share should dominate —
    exactly the diagnostic influence-based curation papers (e.g.
    TracIn §5, SemDeDup §4 "semantic diversity") run before trusting
    a dedup policy on training data.

    Determinism: influence is the TracIn query's quantized BIGINT
    (Σ_t η·e_t²·‖x‖² · 2²⁴, rational sigmoid, zero transcendental
    risk); the high/low split compares each infl_q against the
    FLOOR-mean ⌊Σ/n⌋ — integer division in both engines (Spark `div`
    == DuckDB `//` on non-negative BIGINTs; infl_q ≥ 0 since every
    term is η·e²·‖x‖²), ties going low; the keep verdict is
    semantic_dedup's, whose Spark/SQL bit-identity
    dedup_semantic_clusters already pins. Output: ≤4 rows of exact
    integers plus one single-division share per row.

    Scale shape: one corpus scan against 3 literal checkpoint
    weight vectors (influence), the SemDeDup equi-join pipeline
    (never all-pairs), one vec_id equi-join between the two N-row
    relations, a 1-row floor-mean broadcast, and a 4-row aggregate —
    nothing new crosses the wire at 100 TB that the two parent
    queries don't already move. Both trainings ride their per-corpus
    memos (trajectory + quantizer), so in a gate window with the
    parent queries this audit pays only the join and aggregates."""
    from wilayah_aceh_etl_spark.functions.vectors import (
        array_literal,
        as_double,
        dot,
    )
    from wilayah_aceh_etl_spark.operators.ml_train import (
        logreg_fit_trajectory_cached,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    labeled = emb.select(
        "vec_id",
        "embedding",
        F.when(F.col("label") < 5, 1).otherwise(0).alias("y"),
    )
    traj = logreg_fit_trajectory_cached(
        labeled, cache_key=sf_dir, n_iter=3, lr=2.0
    )
    v = labeled.select(
        "vec_id", as_double("embedding").alias("x"), "y"
    )
    xx = dot("x", "x")
    terms = []
    for w, b in traj:
        m = dot("x", array_literal(w)) + F.lit(float(b))
        e = (
            F.lit(0.5)
            + m / (F.lit(2.0) * (F.lit(1.0) + F.abs(m)))
            - F.col("y")
        )
        terms.append(F.lit(2.0) * (e * e) * xx)
    self_infl = (terms[0] + terms[1]) + terms[2]
    infl = v.select(
        "vec_id",
        F.round(self_infl * 16777216).cast("long").alias("infl_q"),
    )

    keepset = S.semantic_dedup(
        emb, threshold=0.35, n_centroids=16, n_iter=2, cache_key=sf_dir
    ).select("vec_id", "keep")

    j = infl.join(keepset, "vec_id")
    tot = j.agg(
        F.sum("infl_q").cast("long").alias("s"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    flagged = j.crossJoin(F.broadcast(tot)).select(
        "infl_q",
        "keep",
        F.when(
            F.col("infl_q") > F.expr("s div n"), F.lit(1)
        )
        .otherwise(F.lit(0))
        .alias("high_influence"),
    )
    cells = flagged.groupBy("high_influence", "keep").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("infl_q").cast("long").alias("sum_infl_q"),
    )
    cls = cells.groupBy("high_influence").agg(
        F.sum("n_docs").cast("long").alias("cn")
    )
    return (
        cells.join(F.broadcast(cls), "high_influence")
        .select(
            F.col("high_influence").cast("int").alias("high_influence"),
            "keep",
            "n_docs",
            "sum_infl_q",
            F.round(
                F.col("n_docs").cast("double") / F.col("cn"), 6
            ).alias("class_share"),
        )
        .orderBy("high_influence", "keep")
    )


# ---------------------------------------------------------------------------
# Reliability diagram of the served quality classifier — calibration
# on the holdout split, the eval the serving pass itself can't give.
# ---------------------------------------------------------------------------


def _reliability_oracle() -> str:
    from wilayah_aceh_etl_spark.plans.round9_queries import (
        _QC_Y_CLEAN,
        _qc_train_sql,
    )

    return (
        _qc_train_sql(_QC_Y_CLEAN, "x0.doc_id % 5 != 0")
        + """,
scored AS (
  SELECT x0.doc_id, d.y,
         list_dot_product(x0.x, (SELECT w FROM w3)) +
           (SELECT b FROM w3) AS m
  FROM xv x0 JOIN docs0 d USING (doc_id)
  WHERE x0.doc_id % 5 = 0
),
mm AS (SELECT MIN(m) AS lo, MAX(m) AS hi FROM scored),
binned2 AS (
  SELECT CASE WHEN mm.hi = mm.lo THEN 0
              ELSE LEAST(CAST(FLOOR(((m - mm.lo) / (mm.hi - mm.lo)) * 10)
                              AS INTEGER), 9) END AS bin,
         y,
         CAST(ROUND((0.5 + m / (2.0 * (1.0 + abs(m)))) * 16777216)
              AS BIGINT) AS p_q
  FROM scored CROSS JOIN mm
)
SELECT bin,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(p_q) AS BIGINT) AS sum_conf_q,
       CAST(SUM(y) AS BIGINT) AS n_pos,
       ROUND(CAST(SUM(p_q) AS DOUBLE) / (COUNT(*) * 16777216), 6)
         AS avg_conf,
       ROUND(CAST(SUM(y) AS DOUBLE) / COUNT(*), 6) AS frac_pos
FROM binned2 GROUP BY bin ORDER BY bin
"""
    )


@register(
    "corpus_classifier_reliability_bins",
    oracle=_reliability_oracle(),
    tags=("ext", "ml", "eval", "calibration", "curation"),
    description="reliability diagram of the served quality "
    "classifier on the holdout split: per-bin avg-conf vs frac-pos",
)
def corpus_classifier_reliability_bins(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Calibration audit of the model-based quality filter — the
    reliability diagram (DeGroot & Fienberg 1983; Guo et al. 2017's
    ECE is its summary integral) for the SAME trained classifier
    corpus_quality_classifier_serving deploys, evaluated on the
    HOLDOUT split (doc_id % 5 == 0, never trained on): ten
    equal-width score bands over the OBSERVED margin range (the
    classifier's compressed scores put every holdout doc inside a
    ~0.003-wide logit interval, so fixed probability bins would
    collapse to one row — banding over [min, max] margin is the
    standard rescaled-diagram fallback for sharp/compressed
    scorers), per band the average rational-sigmoid confidence vs
    the observed positive rate. The gap between those two columns
    IS the calibration error a curation pipeline must know before
    trusting the keep-threshold semantics of its filter scores.

    Determinism: the margin is the bitwise-pinned trained dot; the
    band edges are a 1-row MIN/MAX aggregate of those exact doubles
    and the band index is FLOOR of the identically-parenthesized
    normalization (LEAST-clamped so m = max lands in band 9;
    degenerate hi = lo collapses to band 0); per-band sums are
    exact integers (quantized confidence, 0/1 labels) and each
    emitted ratio is a single division of exact integers.

    Scale shape: training is the broadcast-weights logreg; scoring
    is ONE holdout scan with literal weights; the band split needs
    only a 1-row (lo, hi) broadcast; then a ≤10-row aggregate — at
    100 TB the reliability audit costs one pass over the eval
    shard."""
    from wilayah_aceh_etl_spark.operators.ml_train import logreg_fit
    from wilayah_aceh_etl_spark.functions.vectors import (
        array_literal,
        dot as vdot,
    )
    from wilayah_aceh_etl_spark.plans.round9_queries import (
        _qc_feature_vectors,
    )

    docs0 = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    xv = _qc_feature_vectors(spark, sf_dir)
    labeled = xv.join(docs0, "doc_id")
    train = labeled.filter(F.col("doc_id") % 5 != 0)
    w, b = logreg_fit(
        train, n_iter=3, lr=0.5, id_col="doc_id", vec_col="x"
    )
    m = vdot("x", array_literal(w)) + F.lit(float(b))
    p = F.lit(0.5) + m / (F.lit(2.0) * (F.lit(1.0) + F.abs(m)))
    scored = labeled.filter(F.col("doc_id") % 5 == 0).select(
        "y", m.alias("m"), F.round(p * 16777216).cast("long").alias("p_q")
    )
    mm = scored.agg(
        F.min("m").alias("lo"), F.max("m").alias("hi")
    )
    holdout = scored.crossJoin(F.broadcast(mm)).select(
        "y",
        "p_q",
        F.when(F.col("hi") == F.col("lo"), F.lit(0))
        .otherwise(
            F.least(
                F.floor(
                    (
                        (F.col("m") - F.col("lo"))
                        / (F.col("hi") - F.col("lo"))
                    )
                    * 10
                ).cast("int"),
                F.lit(9),
            )
        )
        .alias("bin"),
    )
    return (
        holdout.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("p_q").cast("long").alias("sum_conf_q"),
            F.sum("y").cast("long").alias("n_pos"),
        )
        .select(
            "bin",
            "n_docs",
            "sum_conf_q",
            "n_pos",
            F.round(
                F.col("sum_conf_q").cast("double")
                / (F.col("n_docs") * 16777216),
                6,
            ).alias("avg_conf"),
            F.round(
                F.col("n_pos").cast("double") / F.col("n_docs"), 6
            ).alias("frac_pos"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# SemDeDup chain audit: how much of the keep-first sweep's removal
# is direct (blamed by a KEPT member) vs chain-transitive.
# ---------------------------------------------------------------------------


def _chain_audit_tail() -> str:
    """The provenance-audit CTE chain appended to a SemDeDup prelude
    that exposes `ranked` and `removed` — shared by the fixed-C
    oracle here and the derived-C twin (round11_queries, the r10
    verdict ask #4), so the audit SQL exists in ONE copy."""
    from wilayah_aceh_etl_spark.plans.ext_queries import _COS

    return (
        """,
rm_blame AS (
  SELECT a.vec_id, a.cid,
         MAX(CASE WHEN rmb.vec_id IS NULL THEN 1 ELSE 0 END) AS via_kept
  FROM ranked a
  JOIN ranked b ON a.cid = b.cid AND a.rk > b.rk
  LEFT JOIN removed rmb ON b.vec_id = rmb.vec_id
  WHERE ROUND("""
        + _COS.format(a="a.e", b="b.e")
        + """, 6) >= 0.35
  GROUP BY a.vec_id, a.cid
),
cstats AS (
  SELECT r.cid,
         CAST(COUNT(*) AS BIGINT) AS n_members,
         CAST(SUM(CASE WHEN rm.vec_id IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_kept
  FROM ranked r LEFT JOIN removed rm ON r.vec_id = rm.vec_id
  GROUP BY r.cid
),
bstats AS (
  SELECT cid, CAST(SUM(via_kept) AS BIGINT) AS n_via_kept
  FROM rm_blame GROUP BY cid
)
SELECT CAST(s.cid AS BIGINT) AS cid,
       s.n_members, s.n_kept,
       CAST(s.n_members - s.n_kept AS BIGINT) AS n_removed,
       CAST(COALESCE(b.n_via_kept, 0) AS BIGINT) AS n_removed_via_kept,
       CAST(s.n_members - s.n_kept - COALESCE(b.n_via_kept, 0)
            AS BIGINT) AS n_removed_chain_only
FROM cstats s LEFT JOIN bstats b ON b.cid = s.cid
ORDER BY cid
"""
    )


def _chain_audit_oracle() -> str:
    from wilayah_aceh_etl_spark.plans.ext_queries import (
        _SEMDEDUP_PRELUDE,
    )

    return _SEMDEDUP_PRELUDE + _chain_audit_tail()


@register(
    "dedup_semantic_chain_audit",
    oracle=_chain_audit_oracle(),
    tags=("ext", "dedup", "semantic", "semdedup", "audit"),
    description="SemDeDup removal provenance per cluster: blamed by "
    "a kept member vs chain-transitive (removed-only blamers)",
)
def dedup_semantic_chain_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Removal-provenance audit of the SemDeDup keep-first sweep:
    per cluster, how many removed members are blamed by at least
    one KEPT lower-ranked member (a duplicate of something that
    survives — the uncontroversial case) vs removed ONLY via other
    REMOVED members (chain-transitive — exactly the rows where the
    sweep's verdict rests on the connected-components equivalence
    semantic_dedup's docstring claims rather than on a direct
    near-dup of a keeper). A curation pipeline reviewing dedup
    aggressiveness reads n_removed_chain_only as the "removed
    without a surviving representative within threshold" budget —
    SemDeDup §4 discusses precisely this transitivity slack when
    comparing against exact connected components.

    Determinism: the ranking, pair cosine (rounded to the 1e-6
    grid), and keep verdicts are bit-identical to
    dedup_semantic_clusters (same operator output, same oracle
    prelude — _SEMDEDUP_PRELUDE is shared SQL text); the audit adds
    only exact-integer counts on top.

    Scale shape: the pair join is the SAME cluster-id equi-join the
    dedup itself runs (Σ|cluster|², never all-pairs) and reuses the
    operator's persisted ranked relation; the blame flag is one
    MAX() per removed row and the output is C rows."""
    return _chain_audit_frame(
        spark, sf_dir, n_centroids=16, cache_key=sf_dir
    )


def _chain_audit_frame(
    spark: SparkSession, sf_dir: str, **sd_kwargs
) -> DataFrame:
    """ONE copy of the chain-audit DataFrame pipeline, parameterized
    by the semantic_dedup configuration — the fixed-C=16 registered
    form and the derived-C production twin (round11_queries) differ
    only in the kwargs they pass through."""
    from wilayah_aceh_etl_spark.functions.vectors import (
        as_double,
        dot,
        l2_norm,
    )
    from pyspark.sql.window import Window

    emb = load_table(spark, sf_dir, "embeddings")
    sd = S.semantic_dedup(emb, threshold=0.35, n_iter=2, **sd_kwargs)
    v = emb.select(
        "vec_id", as_double("embedding").alias("vec")
    ).withColumn("nrm", l2_norm("vec"))
    w = Window.partitionBy("cid").orderBy(
        F.col("cent_cos").asc(), F.col("vec_id")
    )
    r = (
        sd.join(v, "vec_id")
        .withColumn("rk", F.row_number().over(w))
        .select("vec_id", "cid", "keep", "rk", "vec", "nrm")
    )
    a = r.select(
        F.col("vec_id").alias("a_id"),
        F.col("cid"),
        F.col("keep").alias("a_keep"),
        F.col("rk").alias("a_rk"),
        F.col("vec").alias("a_vec"),
        F.col("nrm").alias("a_nrm"),
    )
    b = r.select(
        F.col("vec_id").alias("b_id"),
        F.col("cid"),
        F.col("keep").alias("b_keep"),
        F.col("rk").alias("b_rk"),
        F.col("vec").alias("b_vec"),
        F.col("nrm").alias("b_nrm"),
    )
    pairs = (
        a.join(b, "cid")
        .filter(F.col("a_rk") > F.col("b_rk"))
        .filter(
            F.round(
                dot("a_vec", "b_vec")
                / (F.col("a_nrm") * F.col("b_nrm")),
                6,
            )
            >= 0.35
        )
    )
    blame = pairs.groupBy("a_id", "cid").agg(
        F.max("b_keep").alias("via_kept")
    )
    bstats = blame.groupBy("cid").agg(
        F.sum("via_kept").cast("long").alias("n_via_kept")
    )
    cstats = r.groupBy("cid").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.sum("keep").cast("long").alias("n_kept"),
    )
    return (
        cstats.join(bstats, "cid", "left")
        .select(
            F.col("cid").cast("long").alias("cid"),
            "n_members",
            "n_kept",
            (F.col("n_members") - F.col("n_kept"))
            .cast("long")
            .alias("n_removed"),
            F.coalesce(F.col("n_via_kept"), F.lit(0))
            .cast("long")
            .alias("n_removed_via_kept"),
            (
                F.col("n_members")
                - F.col("n_kept")
                - F.coalesce(F.col("n_via_kept"), F.lit(0))
            )
            .cast("long")
            .alias("n_removed_chain_only"),
        )
        .orderBy("cid")
    )


# ---------------------------------------------------------------------------
# Gradient noise scale — the critical-batch-size statistic of
# McCandlish et al. 2018, from per-example gradients at the trained
# checkpoint.
# ---------------------------------------------------------------------------


def _gns_prelude() -> str:
    """The gradient-noise-scale WITH chain through the two scalar
    aggregates q1 (n, Σ‖g‖²·2²⁴) and ssq (Σs² in HUGEINT) — shared
    by the GNS query's SELECT and the critical-batch schedule twin
    (round11_queries), so the gradient pass exists in ONE copy."""
    from wilayah_aceh_etl_spark.plans.round9_queries import (
        _emb_train_sql,
    )

    return (
        "WITH "
        + _emb_train_sql("", "TRUE")
        + """,
pe AS MATERIALIZED (
  SELECT v.vec_id, v.y,
         list_dot_product(v.x, v.x) AS xx,
         list_dot_product(v.x, (SELECT w FROM w3)) + (SELECT b FROM w3) AS m
  FROM v v
),
ee AS MATERIALIZED (
  SELECT vec_id, (0.5 + m / (2.0 * (1.0 + abs(m))) - y) AS e, xx FROM pe
),
q1 AS (
  SELECT CAST(SUM(CAST(ROUND((e * e) * (xx + 1.0) * 16777216)
                       AS BIGINT)) AS BIGINT) AS sq,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM ee
),
gs AS (
  SELECT u.pos,
         CAST(SUM(CAST(ROUND(ee.e * u.val * 16777216) AS BIGINT))
              AS BIGINT) AS s
  FROM ee JOIN u ON u.vec_id = ee.vec_id GROUP BY u.pos
  UNION ALL
  SELECT 0 AS pos,
         CAST(SUM(CAST(ROUND(e * 16777216) AS BIGINT)) AS BIGINT) AS s
  FROM ee
),
ssq AS (SELECT SUM(CAST(s AS HUGEINT) * s) AS ss2 FROM gs)"""
    )


def _gns_oracle() -> str:
    return (
        _gns_prelude()
        + """
SELECT n AS n_examples,
       sq AS sum_gsq_q,
       ROUND(CAST(sq AS DOUBLE) / (n * 16777216), 6) AS trace_per_sample,
       ROUND(CAST(ss2 AS DOUBLE) /
             (CAST(n * n AS DOUBLE) * 281474976710656.0), 9)
         AS gbar_norm2,
       ROUND(((CAST(sq AS DOUBLE) * n) * 16777216.0) /
             CAST(ss2 AS DOUBLE) - 1.0, 6) AS b_simple
FROM q1, ssq
"""
    )


@register(
    "training_gradient_noise_scale",
    oracle=_gns_oracle(),
    tags=("ext", "ml", "training", "batch-size", "gns"),
    description="gradient noise scale B_simple (critical batch "
    "size) from per-example gradients at the trained checkpoint",
)
def training_gradient_noise_scale(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Gradient noise scale (McCandlish et al. 2018, 'An Empirical
    Model of Large-Batch Training'): B_simple = tr(Σ)/|G|² — the
    ratio of per-example gradient variance to the squared mean
    gradient — predicts the CRITICAL BATCH SIZE past which
    data-parallel training stops scaling linearly; every large
    training run budgets its world size against this number. For
    the logistic model the per-example gradient is g_i =
    (e_i·x_i, e_i) with e_i the rational-sigmoid residual at the
    trained checkpoint (the memoized lr=2.0 trajectory's last
    iterate — the same checkpoint the TracIn family scores), so
    ‖g_i‖² = e_i²·(‖x_i‖²+1) and the mean gradient is the
    per-coordinate residual sum — all exactly the quantities the
    trainer's own devices already pin.

    Determinism: tr-side Σ‖g_i‖² is a sum of ROUND(·2²⁴) integers;
    the mean gradient's 65 per-coordinate sums are the _gd_step
    quantization (exact BIGINTs); Σs² runs in HUGEINT (DuckDB) /
    DECIMAL(38,0) (Spark) since s² ≈ 10²¹ overflows int64, and both
    engines convert the identical exact integer to double once at
    emission. Each emitted float is a single pinned-parenthesization
    expression over those exact integers; B_simple =
    (Σq·n·2²⁴)/Σs² − 1 needs no transcendentals at all.

    Scale shape: ONE corpus scan against the literal checkpoint
    (residual + norm), one posexplode hash-aggregate for the 65
    coordinate sums (the same shuffle shape as a training step:
    partitions × 65 longs), a 65-row integer reduce, and a 1-row
    cross of two scalar aggregates. At 100 TB this is exactly one
    gradient pass — the cheapest possible estimate of the
    critical batch size."""
    return _gns_scalar_frame(spark, sf_dir).select(
        F.col("n").alias("n_examples"),
        F.col("sq").alias("sum_gsq_q"),
        F.round(
            F.col("sq").cast("double") / (F.col("n") * F.lit(16777216)),
            6,
        ).alias("trace_per_sample"),
        F.round(
            F.col("ss2").cast("double")
            / (
                (F.col("n") * F.col("n")).cast("double")
                * F.lit(281474976710656.0)
            ),
            9,
        ).alias("gbar_norm2"),
        F.round(
            (
                (F.col("sq").cast("double") * F.col("n"))
                * F.lit(16777216.0)
            )
            / F.col("ss2").cast("double")
            - F.lit(1.0),
            6,
        ).alias("b_simple"),
    )


def _gns_scalar_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE copy of the gradient pass: the 1-row (sq, n, ss2) frame —
    Σ‖g_i‖²·2²⁴ as BIGINT, the example count, and the HUGEINT-class
    Σs² of the 65 quantized coordinate sums as DECIMAL(38,0) — the
    exact integers both the GNS query and the critical-batch
    schedule (round11_queries) emit their floats from."""
    from wilayah_aceh_etl_spark.functions.vectors import (
        array_literal,
        as_double,
        dot,
    )
    from wilayah_aceh_etl_spark.operators.ml_train import (
        logreg_fit_trajectory_cached,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    labeled = emb.select(
        "vec_id",
        "embedding",
        F.when(F.col("label") < 5, 1).otherwise(0).alias("y"),
    )
    traj = logreg_fit_trajectory_cached(
        labeled, cache_key=sf_dir, n_iter=3, lr=2.0
    )
    w3, b3 = traj[-1]
    v = labeled.select(
        "vec_id", as_double("embedding").alias("x"), "y"
    )
    m = dot("x", array_literal(w3)) + F.lit(float(b3))
    e = (
        F.lit(0.5)
        + m / (F.lit(2.0) * (F.lit(1.0) + F.abs(m)))
        - F.col("y")
    )
    xx = dot("x", "x")
    ee = v.select("vec_id", e.alias("e"), xx.alias("xx"), "x")

    q1 = ee.agg(
        F.sum(
            F.round(
                (F.col("e") * F.col("e"))
                * (F.col("xx") + F.lit(1.0))
                * 16777216
            ).cast("long")
        )
        .cast("long")
        .alias("sq"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    u = ee.select(
        "e", F.posexplode("x").alias("pos0", "val")
    ).select((F.col("pos0") + 1).alias("pos"), "e", "val")
    gs_pos = u.groupBy("pos").agg(
        F.sum(F.round(F.col("e") * F.col("val") * 16777216).cast("long"))
        .cast("long")
        .alias("s")
    )
    gs_b = ee.agg(
        F.sum(F.round(F.col("e") * 16777216).cast("long"))
        .cast("long")
        .alias("s")
    ).select(F.lit(0).alias("pos"), "s")
    gs = gs_pos.select("pos", "s").unionByName(gs_b)
    ssq = gs.agg(
        F.sum(
            F.col("s").cast("decimal(20,0)")
            * F.col("s").cast("decimal(20,0)")
        ).alias("ss2")
    )
    return q1.crossJoin(F.broadcast(ssq))


# ---------------------------------------------------------------------------
# Dedup ROI: token savings by source — the number a curation team
# actually reports when justifying a dedup pass.
# ---------------------------------------------------------------------------


@register(
    "dedup_token_savings_by_source",
    oracle="""
WITH d AS (
  SELECT doc_id, source, md5(text) AS h,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
  FROM documents
),
k AS (
  SELECT doc_id FROM (
    SELECT doc_id,
           ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) AS rn
    FROM d
  ) WHERE rn = 1
),
tot AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(nt) AS BIGINT) AS t
  FROM d GROUP BY source
),
kep AS (
  SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(nt) AS BIGINT) AS t
  FROM d JOIN k USING (doc_id) GROUP BY d.source
)
SELECT tot.source,
       tot.n AS n_docs,
       CAST(tot.n - COALESCE(kep.n, 0) AS BIGINT) AS n_dropped,
       tot.t AS tokens_total,
       CAST(tot.t - COALESCE(kep.t, 0) AS BIGINT) AS tokens_dropped,
       CAST(ROUND(1000000.0 * (tot.t - COALESCE(kep.t, 0)) / tot.t)
            AS BIGINT) AS savings_ppm
FROM tot LEFT JOIN kep ON kep.source = tot.source
ORDER BY tot.source
""",
    tags=("ext", "dedup", "exact", "tokens", "curation"),
    description="exact-dedup token savings per source: docs/tokens "
    "dropped by global keep-first md5 dedup, attributed to sources",
)
def dedup_token_savings_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dedup return-on-investment, the way curation teams report it
    (tokens-saved-per-source is the headline of every dedup section
    in a dataset card — e.g. Lee et al. 2022 Table 1 reports
    fraction of tokens removed per corpus): global keep-first exact
    dedup (operators/dedup.py::keep_first_exact — lowest doc_id per
    md5 wins, so a copy in source A of a doc first seen in source B
    is charged to A), then per-source docs/tokens dropped and the
    savings rate in ppm. Token counts are the corpus convention
    (whitespace split, the _qc/ntok definition).

    Determinism: all columns are exact integers (counts, summed
    token counts) except the single ROUNDed ppm division.

    Scale shape: one hash shuffle on the 32-char digest (the
    keep-first window — never the document bodies), one semi-join
    back, two per-source aggregates; output is |sources| rows."""
    from wilayah_aceh_etl_spark.operators.dedup import keep_first_exact

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        "text",
        F.size(F.split("text", " ")).cast("long").alias("nt"),
    )
    kept_ids = keep_first_exact(d, "doc_id").select("doc_id")
    tot = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("nt").cast("long").alias("t"),
    )
    kep = (
        d.join(kept_ids, "doc_id", "left_semi")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("kn"),
            F.sum("nt").cast("long").alias("kt"),
        )
    )
    return (
        tot.join(kep, "source", "left")
        .select(
            "source",
            F.col("n").alias("n_docs"),
            (F.col("n") - F.coalesce(F.col("kn"), F.lit(0)))
            .cast("long")
            .alias("n_dropped"),
            F.col("t").alias("tokens_total"),
            (F.col("t") - F.coalesce(F.col("kt"), F.lit(0)))
            .cast("long")
            .alias("tokens_dropped"),
            F.round(
                F.lit(1000000.0)
                * (F.col("t") - F.coalesce(F.col("kt"), F.lit(0)))
                / F.col("t")
            )
            .cast("long")
            .alias("savings_ppm"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Data-scaling curve: holdout unigram-LM NLL vs training-prefix
# size — the measured points of a data scaling law.
# ---------------------------------------------------------------------------


@register(
    "data_scaling_unigram_nll_curve",
    oracle="""
WITH tr AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 != 0),
ho AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
lv AS (SELECT UNNEST([1, 2, 4, 8, 16]) AS width),
trt AS (
  SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM tr
),
hot AS (SELECT UNNEST(string_split(text, ' ')) AS tok FROM ho),
cnt AS (
  SELECT lv.width, t.tok, CAST(COUNT(*) AS BIGINT) AS c
  FROM trt t JOIN lv ON (t.doc_id % 16) < lv.width
  GROUP BY lv.width, t.tok
),
pstats AS (
  SELECT width, CAST(SUM(c) AS BIGINT) AS n_tok,
         CAST(COUNT(*) AS BIGINT) AS vocab
  FROM cnt GROUP BY width
),
nd AS (
  SELECT lv.width, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM tr JOIN lv ON (tr.doc_id % 16) < lv.width
  GROUP BY lv.width
),
scored AS (
  SELECT lv.width,
         CAST(SUM(CAST(ROUND(1000000.0 *
                ln((s.n_tok + s.vocab + 1) /
                   CAST(COALESCE(c.c, 0) + 1 AS DOUBLE)))
              AS BIGINT)) AS BIGINT) AS nll_micro_sum,
         CAST(COUNT(*) AS BIGINT) AS n_ho_tok
  FROM hot h
  CROSS JOIN lv
  JOIN pstats s ON s.width = lv.width
  LEFT JOIN cnt c ON c.width = lv.width AND c.tok = h.tok
  GROUP BY lv.width
)
SELECT CAST(s.width AS BIGINT) AS prefix_width,
       nd.n_docs AS n_train_docs,
       p.n_tok AS n_train_tokens,
       p.vocab,
       CAST(ROUND(1000000.0 * ln(CAST(p.n_tok AS DOUBLE))) AS BIGINT)
         AS ln_train_tokens_micro,
       s.nll_micro_sum,
       s.n_ho_tok AS n_holdout_tokens,
       ROUND(CAST(s.nll_micro_sum AS DOUBLE) / (s.n_ho_tok * 1000000.0), 6)
         AS avg_nll
FROM scored s
JOIN pstats p ON p.width = s.width
JOIN nd ON nd.width = s.width
ORDER BY prefix_width
""",
    tags=("ext", "text", "lm", "scaling-law", "curation"),
    description="data scaling curve: holdout Laplace-unigram NLL at "
    "5 nested training-prefix sizes (1/16 .. full train split)",
)
def data_scaling_unigram_nll_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The measured points of a DATA scaling law (Hestness et al.
    2017; Kaplan et al. 2020 §3's L(D) axis): train the simplest
    possible LM — add-one-smoothed unigram, p(tok) = (c+1)/(N+V+1)
    with one shared OOV bucket — on five NESTED prefixes of the
    training split (doc_id % 16 < {1,2,4,8,16}; nested so the curve
    is a true data-growth sweep, not resampling noise) and report
    holdout NLL per prefix alongside ln(N_tokens) — the (x, y)
    pairs a scaling-law fit consumes. More data must buy lower
    holdout NLL; the curve's slope in (ln N, NLL) is the nats-per-
    e-fold data-return figure curation teams use to decide whether
    the next decade of data is worth collecting.

    Determinism: the MI family's micro-nat device — each token's
    NLL is ln of ONE division of exact integers ((N+V+1)/(c+1)),
    quantized to integer micro-nats BEFORE the order-free sum; counts
    and vocab sizes are exact BIGINTs; the two emitted floats are
    single pinned divisions/logs.

    Scale shape: one tokenize of each split, a (width, token) hash
    aggregate (5× the vocab — bounded by the grid, not the corpus),
    one token-keyed LEFT hash join from holdout tokens to prefix
    counts (the Kneser-Ney query's shape), and 5-row outputs. The
    5-row `lv` grid rides a broadcast non-equi join (build side is
    the literal grid)."""
    tr = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 5 != 0
    )
    ho = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 5 == 0
    )
    lv = F.broadcast(
        spark.createDataFrame([(1,), (2,), (4,), (8,), (16,)], "width long")
    )
    trt = tr.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    cnt = (
        trt.join(lv, (F.col("doc_id") % 16) < F.col("width"))
        .groupBy("width", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    pstats = cnt.groupBy("width").agg(
        F.sum("c").cast("long").alias("n_tok"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
    )
    nd = (
        tr.join(lv, (F.col("doc_id") % 16) < F.col("width"))
        .groupBy("width")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    hot = ho.select(F.explode(F.split("text", " ")).alias("tok"))
    nll_tok = F.round(
        F.lit(1000000.0)
        * F.log(
            (F.col("n_tok") + F.col("vocab") + 1)
            / (F.coalesce(F.col("c"), F.lit(0)) + 1).cast("double")
        )
    ).cast("long")
    scored = (
        hot.crossJoin(lv)
        .join(F.broadcast(pstats), "width")
        .join(cnt, ["width", "tok"], "left")
        .groupBy("width")
        .agg(
            F.sum(nll_tok).cast("long").alias("nll_micro_sum"),
            F.count(F.lit(1)).cast("long").alias("n_ho_tok"),
        )
    )
    return (
        scored.join(F.broadcast(pstats), "width")
        .join(F.broadcast(nd), "width")
        .select(
            F.col("width").cast("long").alias("prefix_width"),
            F.col("n_docs").alias("n_train_docs"),
            F.col("n_tok").alias("n_train_tokens"),
            "vocab",
            F.round(
                F.lit(1000000.0) * F.log(F.col("n_tok").cast("double"))
            )
            .cast("long")
            .alias("ln_train_tokens_micro"),
            "nll_micro_sum",
            F.col("n_ho_tok").alias("n_holdout_tokens"),
            F.round(
                F.col("nll_micro_sum").cast("double")
                / (F.col("n_ho_tok") * F.lit(1000000.0)),
                6,
            ).alias("avg_nll"),
        )
        .orderBy("prefix_width")
    )


# ---------------------------------------------------------------------------
# Embedding isotropy audit: top-PC energy share via two quantized
# power-iteration steps on the centered covariance.
# ---------------------------------------------------------------------------

_ISOTROPY_ORACLE = """
WITH v AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings
),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v),
u AS MATERIALIZED (
  SELECT vec_id, unnest(x) AS val, generate_subscripts(x, 1) AS pos FROM v
),
ones AS (SELECT (SELECT list(1.0) FROM range(64)) AS w),
msum AS (
  SELECT pos,
         CAST(SUM(CAST(ROUND(val * 16777216) AS BIGINT)) AS BIGINT) AS s
  FROM u GROUP BY pos
),
mu AS (
  SELECT list(CAST(s AS DOUBLE) / (SELECT n FROM nn) / 16777216
              ORDER BY pos) AS m
  FROM msum
),
xq AS (
  SELECT CAST(SUM(CAST(ROUND(list_dot_product(x, x) * 16777216)
                       AS BIGINT)) AS BIGINT) AS sq
  FROM v
),
s1 AS MATERIALIZED (
  SELECT v.vec_id,
         list_dot_product(v.x, (SELECT w FROM ones)) -
           list_dot_product((SELECT m FROM mu), (SELECT w FROM ones)) AS sc
  FROM v
),
a1 AS (
  SELECT u.pos,
         CAST(SUM(CAST(ROUND((u.val - (SELECT m FROM mu)[u.pos])
                             * s1.sc * 16777216) AS BIGINT))
              AS BIGINT) AS s
  FROM u JOIN s1 ON s1.vec_id = u.vec_id GROUP BY u.pos
),
v1 AS (
  SELECT list(CAST(s AS DOUBLE) / (SELECT n FROM nn) / 16777216
              ORDER BY pos) AS w
  FROM a1
),
s2 AS MATERIALIZED (
  SELECT v.vec_id,
         list_dot_product(v.x, (SELECT w FROM v1)) -
           list_dot_product((SELECT m FROM mu), (SELECT w FROM v1)) AS sc
  FROM v
),
a2 AS (
  SELECT u.pos,
         CAST(SUM(CAST(ROUND((u.val - (SELECT m FROM mu)[u.pos])
                             * s2.sc * 16777216) AS BIGINT))
              AS BIGINT) AS s
  FROM u JOIN s2 ON s2.vec_id = u.vec_id GROUP BY u.pos
),
v2 AS (
  SELECT list(CAST(s AS DOUBLE) / (SELECT n FROM nn) / 16777216
              ORDER BY pos) AS w
  FROM a2
),
fin AS (
  SELECT (SELECT n FROM nn) AS n,
         CAST((SELECT sq FROM xq) AS DOUBLE) /
           ((SELECT n FROM nn) * 16777216) -
           list_dot_product((SELECT m FROM mu), (SELECT m FROM mu))
           AS trace_cov,
         list_dot_product((SELECT w FROM v1), (SELECT w FROM v2)) /
           list_dot_product((SELECT w FROM v1), (SELECT w FROM v1))
           AS lambda1
)
SELECT n AS n_vectors,
       ROUND(trace_cov, 6) AS trace_cov,
       ROUND(lambda1, 6) AS lambda1,
       ROUND(lambda1 / trace_cov, 6) AS top_pc_share
FROM fin
"""


@register(
    "embedding_isotropy_audit",
    oracle=_ISOTROPY_ORACLE,
    tags=("ext", "embedding", "isotropy", "pca", "audit"),
    description="embedding anisotropy: top-PC eigenvalue share of "
    "the centered covariance trace, via 2 quantized power steps",
)
def embedding_isotropy_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotropy audit of the embedding space (Mu & Viswanath 2018,
    'All-but-the-Top'; Ethayarajh 2019): the share of the centered
    covariance's total variance captured by the TOP principal
    component — anisotropic (dominant-direction) embedding spaces
    degrade cosine-based retrieval and clustering, so curation
    pipelines measure top_pc_share before trusting the ANN/SemDeDup
    stack built on those vectors. λ₁ is estimated by TWO power-
    iteration steps from the all-ones start (v₁ = C·1, v₂ = C·v₁,
    λ₁ ≈ ⟨v₁,v₂⟩/⟨v₁,v₁⟩ — the Rayleigh quotient, exact for the
    dominant eigenvector and a lower bound otherwise); the trace is
    E‖x‖² − ‖μ‖².

    Determinism — the k-means trainer's devices end to end: μ and
    each iterate are per-dimension exact-integer sums of
    ROUND(·2²⁴) (order-free), divided /n/2²⁴ exactly like the Lloyd
    centroid update; the per-row projection scalar is
    x·v − μ·v (two sequential-fold dots of pinned literals — C·v
    never materializes the d×d covariance); every emitted float is
    a single division or a ROUND of one. Driver state is O(d), like
    every trainer here; Python's round() never touches an emitted
    value (the final row is rounded engine-side).

    Scale shape: four corpus scans (mean, trace, two power steps),
    each a map-side expression against O(d) broadcast literals
    feeding a partitions×64-long combined aggregate — the identical
    shuffle shape as one GD/Lloyd step. No joins over data, no d×d
    state anywhere."""
    from wilayah_aceh_etl_spark.functions.vectors import (
        array_literal,
        as_double,
        dot,
    )

    d = 64
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id", as_double("embedding").alias("x")
    )
    u = v.select("vec_id", F.posexplode("x").alias("pos0", "val")).select(
        "vec_id", (F.col("pos0") + 1).alias("pos"), "val"
    )
    msum = {
        int(r["pos"]): int(r["s"])
        for r in u.groupBy("pos")
        .agg(
            F.sum(F.round(F.col("val") * 16777216).cast("long"))
            .cast("long")
            .alias("s")
        )
        .collect()
    }
    n = v.count()
    mu = [msum[j + 1] / n / 16777216 for j in range(d)]

    def _fold_dot(a: list[float], b: list[float]) -> float:
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    sq = int(
        v.agg(
            F.sum(
                F.round(dot("x", "x") * 16777216).cast(
                    "long"
                )
            )
            .cast("long")
            .alias("sq")
        ).first()["sq"]
    )

    mu_arr = F.array(*[F.lit(float(m)) for m in mu])

    def _power_step(vec: list[float]) -> list[float]:
        mu_dot_v = _fold_dot(mu, vec)
        sc = v.select(
            "vec_id",
            (
                dot("x", array_literal(vec)) - F.lit(float(mu_dot_v))
            ).alias("sc"),
        )
        a = {
            int(r["pos"]): int(r["s"])
            for r in u.join(sc, "vec_id")
            .groupBy("pos")
            .agg(
                F.sum(
                    F.round(
                        (
                            F.col("val")
                            - F.element_at(mu_arr, F.col("pos"))
                        )
                        * F.col("sc")
                        * 16777216
                    ).cast("long")
                )
                .cast("long")
                .alias("s")
            )
            .collect()
        }
        return [a[j + 1] / n / 16777216 for j in range(d)]

    v1 = _power_step([1.0] * d)
    v2 = _power_step(v1)

    trace_cov = sq / (n * 16777216) - _fold_dot(mu, mu)
    lambda1 = _fold_dot(v1, v2) / _fold_dot(v1, v1)
    row = spark.createDataFrame(
        [(n, trace_cov, lambda1, lambda1 / trace_cov)],
        "n_vectors long, trace_cov double, lambda1 double,"
        " top_pc_share double",
    )
    return row.select(
        "n_vectors",
        F.round("trace_cov", 6).alias("trace_cov"),
        F.round("lambda1", 6).alias("lambda1"),
        F.round("top_pc_share", 6).alias("top_pc_share"),
    )


# ---------------------------------------------------------------------------
# LSH s-curve planner: the (bands, rows) tuning table for the
# minhash pipeline, exact closed form.
# ---------------------------------------------------------------------------

# (bands, rows-per-band) configurations sharing K = b·r = 8 minhash
# components with the operators/dedup.py defaults (DEFAULT_K = 8,
# DEFAULT_BANDS = 4 → (4, 2)), plus the two degenerate corners.
_SCURVE_CONFIGS = ((8, 1), (4, 2), (2, 4), (1, 8))


def _pow_expr_sql(base: str, k: int) -> str:
    """Integer-exponent power as an explicit left-associated product
    (((s·s)·s)·…) — deterministic IEEE on both engines, unlike
    POWER()'s libm pow."""
    out = base
    for _ in range(k - 1):
        out = f"({out} * {base})"
    return out


def _scurve_oracle() -> str:
    arms = []
    for b, r in _SCURVE_CONFIGS:
        p_band = _pow_expr_sql("s", r)
        miss = _pow_expr_sql(f"(1.0 - {p_band})", b)
        arms.append(
            f"""
SELECT {b} AS bands, {r} AS rows_per_band, s,
       ROUND(1.0 - {miss}, 6) AS p_candidate
FROM grid"""
        )
    return (
        """
WITH grid AS (SELECT i / 20.0 AS s FROM UNNEST(range(1, 20)) t(i))
SELECT CAST(bands AS INTEGER) AS bands,
       CAST(rows_per_band AS INTEGER) AS rows_per_band,
       ROUND(s, 6) AS jaccard_s, p_candidate
FROM ("""
        + " UNION ALL ".join(arms)
        + """)
ORDER BY bands DESC, jaccard_s
"""
    )


@register(
    "dedup_lsh_scurve_table",
    oracle=_scurve_oracle(),
    tags=("ext", "dedup", "minhash", "lsh", "planner"),
    description="LSH s-curve tuning table: P(candidate | Jaccard s) "
    "for the K=8 (bands, rows) configurations, exact closed form",
)
def dedup_lsh_scurve_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH tuning table (Leskovec/Rajaraman/Ullman, Mining of
    Massive Datasets §3.4.2 — the standard design tool of every
    minhash dedup pipeline): for each (bands b, rows r) split of the
    K = 8 signature this repo's dedup uses, the exact candidate
    probability 1 − (1 − sʳ)ᵇ over a Jaccard grid s ∈ {0.05..0.95}.
    Reading the table row-wise shows the threshold each config
    centers on (more rows → curve shifts right/stricter; more bands
    → left/looser) — the decision dedup_lsh_band_sweep then
    validates empirically on the corpus; this is its a-priori
    planner twin.

    Determinism: integer exponents are unrolled into explicit
    left-associated products (never libm POWER), the grid points are
    single divisions i/20, and the emitted probability is one ROUND
    of that pinned arithmetic — bit-identical across engines.

    Scale shape: a 76-row constant relation computed from literals;
    the only scan-free query in the registry, and deliberately so —
    the planner runs before any data is touched."""
    grid = spark.range(1, 20).select(
        (F.col("id") / F.lit(20.0)).alias("s")
    )

    def _pow_col(col, k: int):
        out = col
        for _ in range(k - 1):
            out = out * col
        return out

    arms = []
    for b, r in _SCURVE_CONFIGS:
        p_band = _pow_col(F.col("s"), r)
        miss = _pow_col(F.lit(1.0) - p_band, b)
        arms.append(
            grid.select(
                F.lit(b).cast("int").alias("bands"),
                F.lit(r).cast("int").alias("rows_per_band"),
                F.round(F.col("s"), 6).alias("jaccard_s"),
                F.round(F.lit(1.0) - miss, 6).alias("p_candidate"),
            )
        )
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    return out.orderBy(F.col("bands").desc(), "jaccard_s")


# ---------------------------------------------------------------------------
# Packing efficiency: padding waste of per-doc vs concatenated
# sequence packing across context lengths.
# ---------------------------------------------------------------------------


# The packing-counts pipeline (per-context sequence counts under
# the two batch-construction strategies) in ONE copy each for SQL
# and DataFrame — composed by training_packing_efficiency here and
# the critical-batch schedule (round11_queries; r11 review).
_PACKING_COUNTS_SQL = """nt AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n
  FROM documents
),
lv AS (SELECT UNNEST([128, 512, 2048]) AS ctx),
per AS (
  SELECT lv.ctx,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n) AS BIGINT) AS total_tokens,
         CAST(SUM((n + lv.ctx - 1) // lv.ctx) AS BIGINT) AS n_seq_padded
  FROM nt CROSS JOIN lv GROUP BY lv.ctx
)"""


def _packing_counts_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DataFrame twin of _PACKING_COUNTS_SQL's `per` CTE:
    (ctx, n_docs, total_tokens, n_seq_padded) for the 3-row
    context grid — one tokenize-count scan, map-side ceilings."""
    nt = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n")
    )
    lv = F.broadcast(
        spark.createDataFrame([(128,), (512,), (2048,)], "ctx long")
    )
    return (
        nt.crossJoin(lv)
        .groupBy("ctx")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n").cast("long").alias("total_tokens"),
            F.sum(F.expr("(n + ctx - 1) div ctx"))
            .cast("long")
            .alias("n_seq_padded"),
        )
    )


@register(
    "training_packing_efficiency",
    oracle="""
WITH """
    + _PACKING_COUNTS_SQL
    + """
SELECT CAST(ctx AS BIGINT) AS ctx_len, n_docs, total_tokens,
       n_seq_padded,
       CAST(n_seq_padded * ctx - total_tokens AS BIGINT)
         AS waste_padded_tokens,
       CAST(ROUND(1000000.0 * (n_seq_padded * ctx - total_tokens) /
                  (n_seq_padded * ctx)) AS BIGINT)
         AS waste_padded_ppm,
       CAST((total_tokens + ctx - 1) // ctx AS BIGINT) AS n_seq_packed,
       CAST(((total_tokens + ctx - 1) // ctx) * ctx - total_tokens
            AS BIGINT) AS waste_packed_tokens,
       CAST(ROUND(1000000.0 *
                  (((total_tokens + ctx - 1) // ctx) * ctx - total_tokens) /
                  (((total_tokens + ctx - 1) // ctx) * ctx)) AS BIGINT)
         AS waste_packed_ppm
FROM per
ORDER BY ctx_len
""",
    tags=("ext", "text", "tokens", "training", "packing"),
    description="sequence-packing efficiency: padding waste of "
    "one-doc-per-sequence vs concatenated packing at 3 context lengths",
)
def training_packing_efficiency(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Padding-waste audit of the two standard batch-construction
    strategies (Raffel et al. 2020 §2.2 'packing'; every LLM
    pretraining stack reports this number before choosing): at each
    context length, one-document-per-sequence pads every doc to the
    next ctx boundary (Σ⌈n/L⌉ sequences) while concatenated packing
    fills sequences back to back (⌈Σn/L⌉). The delta is pure
    training-compute waste — the table quantifies, per context
    length, what packing buys on THIS corpus.

    Determinism: every column is exact integer arithmetic (ceiling
    division via (n + L − 1) div L on non-negative counts — div and
    // agree) except the two single-ROUND ppm divisions.

    Scale shape: one tokenize-count scan, a 3-row broadcast grid,
    one 3-group aggregate. The per-doc ceiling is map-side."""
    per = _packing_counts_frame(spark, sf_dir)
    packed_seq = F.expr("(total_tokens + ctx - 1) div ctx")
    return per.select(
        F.col("ctx").alias("ctx_len"),
        "n_docs",
        "total_tokens",
        "n_seq_padded",
        (F.col("n_seq_padded") * F.col("ctx") - F.col("total_tokens"))
        .cast("long")
        .alias("waste_padded_tokens"),
        F.round(
            F.lit(1000000.0)
            * (F.col("n_seq_padded") * F.col("ctx") - F.col("total_tokens"))
            / (F.col("n_seq_padded") * F.col("ctx"))
        )
        .cast("long")
        .alias("waste_padded_ppm"),
        packed_seq.cast("long").alias("n_seq_packed"),
        (packed_seq * F.col("ctx") - F.col("total_tokens"))
        .cast("long")
        .alias("waste_packed_tokens"),
        F.round(
            F.lit(1000000.0)
            * (packed_seq * F.col("ctx") - F.col("total_tokens"))
            / (packed_seq * F.col("ctx"))
        )
        .cast("long")
        .alias("waste_packed_ppm"),
    ).orderBy("ctx_len")


# ---------------------------------------------------------------------------
# Embedding alignment by label — the contrastive-representation
# metric in closed form (no pair join).
# ---------------------------------------------------------------------------

_ALIGNMENT_ORACLE = """
WITH v AS MATERIALIZED (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS x FROM embeddings
),
u AS (
  SELECT vec_id, label, unnest(x) AS val,
         generate_subscripts(x, 1) AS pos
  FROM v
),
ls AS (
  SELECT label, pos,
         CAST(SUM(CAST(ROUND(val * 16777216) AS BIGINT)) AS BIGINT) AS s
  FROM u GROUP BY label, pos
),
ln_ AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(ROUND(list_dot_product(x, x) * 16777216)
                       AS BIGINT)) AS BIGINT) AS sxx
  FROM v GROUP BY label
),
lmu AS (
  SELECT ls.label,
         list(CAST(ls.s AS DOUBLE) / ln_.n / 16777216 ORDER BY ls.pos)
           AS m
  FROM ls JOIN ln_ ON ln_.label = ls.label
  GROUP BY ls.label, ln_.n
),
gs AS (
  SELECT pos, CAST(SUM(s) AS BIGINT) AS s FROM ls GROUP BY pos
),
gn AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(sxx) AS BIGINT) AS sxx
  FROM ln_
),
gmu AS (
  SELECT list(CAST(s AS DOUBLE) / (SELECT n FROM gn) / 16777216
              ORDER BY pos) AS m
  FROM gs
)
SELECT CAST(l.label AS INTEGER) AS label,
       n.n AS n_vectors,
       ROUND(2.0 * (CAST(n.sxx AS DOUBLE) / (n.n * 16777216) -
                    list_dot_product(l.m, l.m)), 6) AS alignment_sq,
       ROUND(list_dot_product(l.m, l.m) -
             2.0 * list_dot_product(l.m, (SELECT m FROM gmu)) +
             list_dot_product((SELECT m FROM gmu), (SELECT m FROM gmu)),
             6) AS centroid_offset_sq
FROM lmu l JOIN ln_ n ON n.label = l.label
ORDER BY label
"""


@register(
    "embedding_alignment_by_label",
    oracle=_ALIGNMENT_ORACLE,
    tags=("ext", "embedding", "contrastive", "alignment", "audit"),
    description="contrastive alignment per label in closed form: "
    "E||x-y||^2 within label = 2(E||x||^2 - ||mu||^2), no pair join",
)
def embedding_alignment_by_label(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Alignment of the embedding space per label class (Wang &
    Isola 2020, 'Understanding Contrastive Representation Learning
    through Alignment and Uniformity'): alignment is the expected
    squared distance between positive pairs — and for iid pairs it
    NEEDS NO PAIR JOIN, because E‖x−y‖² = 2(E‖x‖² − ‖μ‖²); the
    identity turns an O(n²)-pair metric into per-label first/second
    moments. centroid_offset_sq = ‖μ_ℓ − μ_global‖² is the matching
    separation figure (how far each class centroid sits from the
    corpus mean). Low alignment_sq + high offset = well-clustered
    classes — the pre-flight check before trusting label-supervised
    contrastive mining (embedding_contrastive_mining) on this space.

    Determinism: per-label coordinate sums and ‖x‖² sums are exact
    ROUND(·2²⁴) integers; means divide /n/2²⁴ like the Lloyd update;
    ‖μ‖² terms are list_dot_product sequential folds of those pinned
    lists; the offset expands to a−2b+c over three such folds with
    pinned parenthesization. Emitted floats are single-ROUND.

    Scale shape: one corpus scan into (label, pos) and per-label
    scalar aggregates — the GD-step shuffle shape (partitions ×
    labels·64 longs); output is |labels| rows; the closed form is
    the whole point at 100 TB (the naive pair join is Σ n_ℓ²)."""
    from wilayah_aceh_etl_spark.functions.vectors import as_double, dot

    d = 64
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id", "label", as_double("embedding").alias("x")
    )
    u = v.select(
        "label", F.posexplode("x").alias("pos0", "val")
    ).select("label", (F.col("pos0") + 1).alias("pos"), "val")
    ls = {
        (int(r["label"]), int(r["pos"])): int(r["s"])
        for r in u.groupBy("label", "pos")
        .agg(
            F.sum(F.round(F.col("val") * 16777216).cast("long"))
            .cast("long")
            .alias("s")
        )
        .collect()
    }
    ln = {
        int(r["label"]): (int(r["n"]), int(r["sxx"]))
        for r in v.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                F.round(dot("x", "x") * 16777216).cast(
                    "long"
                )
            )
            .cast("long")
            .alias("sxx"),
        )
        .collect()
    }

    def _fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    labels = sorted(ln)
    mus = {
        lbl: [
            ls[(lbl, j + 1)] / ln[lbl][0] / 16777216 for j in range(d)
        ]
        for lbl in labels
    }
    n_tot = sum(n for n, _ in ln.values())
    gmu = [
        sum(ls[(lbl, j + 1)] for lbl in labels) / n_tot / 16777216
        for j in range(d)
    ]
    rows = []
    for lbl in labels:
        n, sxx = ln[lbl]
        m = mus[lbl]
        alignment = 2.0 * (sxx / (n * 16777216) - _fold_dot(m, m))
        offset = (
            _fold_dot(m, m)
            - 2.0 * _fold_dot(m, gmu)
            + _fold_dot(gmu, gmu)
        )
        rows.append((lbl, n, alignment, offset))
    out = spark.createDataFrame(
        rows,
        "label int, n_vectors long, alignment_sq double,"
        " centroid_offset_sq double",
    )
    return out.select(
        "label",
        "n_vectors",
        F.round("alignment_sq", 6).alias("alignment_sq"),
        F.round("centroid_offset_sq", 6).alias("centroid_offset_sq"),
    ).orderBy("label")


# ---------------------------------------------------------------------------
# Vocabulary coverage curve: OOV rate vs top-k vocabulary size.
# ---------------------------------------------------------------------------


@register(
    "tokenizer_vocab_coverage_curve",
    oracle="""
WITH toks AS (
  SELECT UNNEST(string_split(text, ' ')) AS tok FROM documents
),
cnt AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY tok
),
rk AS (
  SELECT tok, c,
         ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS r
  FROM cnt
),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM cnt),
lv AS (SELECT UNNEST([4, 8, 16, 32]) AS k)
SELECT CAST(lv.k AS BIGINT) AS vocab_size,
       CAST(COUNT(rk.tok) AS BIGINT) AS n_types_in_vocab,
       CAST(COALESCE(SUM(rk.c), 0) AS BIGINT) AS tokens_covered,
       (SELECT t FROM tot) AS tokens_total,
       CAST(ROUND(1000000.0 * COALESCE(SUM(rk.c), 0) /
                  (SELECT t FROM tot)) AS BIGINT) AS coverage_ppm,
       CAST(ROUND(1000000.0 *
                  ((SELECT t FROM tot) - COALESCE(SUM(rk.c), 0)) /
                  (SELECT t FROM tot)) AS BIGINT) AS oov_ppm
FROM lv LEFT JOIN rk ON rk.r <= lv.k
GROUP BY lv.k
ORDER BY vocab_size
""",
    tags=("ext", "text", "tokenizer", "vocab", "coverage"),
    description="vocabulary coverage curve: corpus token coverage "
    "and OOV rate for top-k frequency vocabularies",
)
def tokenizer_vocab_coverage_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Vocabulary-size selection curve (the first table of every
    tokenizer design doc; Sennrich et al. 2016 motivate BPE by
    exactly this OOV-vs-vocab tradeoff): for top-k frequency
    vocabularies over a k grid, the fraction of corpus TOKENS
    covered and the OOV remainder. The marginal coverage between
    consecutive rows is the Zipf tail the next vocab doubling buys —
    read together with text_heaps_law_curve and
    tokenizer_renyi_efficiency.

    Determinism: frequency ranking breaks ties by token text; all
    counts exact BIGINTs; ppm columns are single ROUNDed divisions.

    Scale shape: one tokenize, one token-type aggregate, then
    TOP-K FIRST — only the top max(k)=32 ranks are ever consumed
    (rk.r <= lv.k, k ≤ 32), so the plan takes
    `orderBy(c desc, tok).limit(32)` (TakeOrderedAndProject — a
    per-partition heap + 32-row merge, no global sort) and ranks
    only the 32 survivors (r10 verdict: the previous full-type-table
    rank pushed ~10⁹ rows through one sort task at 100 TB), then the
    4-row grid join. At 100 TB the ranked relation is 32 rows."""
    toks = load_table(spark, sf_dir, "documents").select(
        F.explode(F.split("text", " ")).alias("tok")
    )
    cnt = toks.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    from pyspark.sql.window import Window

    rk = (
        cnt.orderBy(F.col("c").desc(), F.col("tok"))
        .limit(32)
        .withColumn(
            "r",
            F.row_number().over(
                Window.orderBy(F.col("c").desc(), F.col("tok"))
            ),
        )
    )
    tot = cnt.agg(F.sum("c").cast("long").alias("t"))
    lv = F.broadcast(
        spark.createDataFrame([(4,), (8,), (16,), (32,)], "k long")
    )
    return (
        lv.join(rk, F.col("r") <= F.col("k"), "left")
        .groupBy("k")
        .agg(
            F.count("tok").cast("long").alias("n_types_in_vocab"),
            F.coalesce(F.sum("c"), F.lit(0))
            .cast("long")
            .alias("tokens_covered"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("k").alias("vocab_size"),
            "n_types_in_vocab",
            "tokens_covered",
            F.col("t").alias("tokens_total"),
            F.round(
                F.lit(1000000.0) * F.col("tokens_covered") / F.col("t")
            )
            .cast("long")
            .alias("coverage_ppm"),
            F.round(
                F.lit(1000000.0)
                * (F.col("t") - F.col("tokens_covered"))
                / F.col("t")
            )
            .cast("long")
            .alias("oov_ppm"),
        )
        .orderBy("vocab_size")
    )


# ---------------------------------------------------------------------------
# SemDeDup at the DERIVED-C production configuration — the C ∝ N
# path the decade probes point at, oracle-hashed end to end.
# ---------------------------------------------------------------------------


def _semdedup_derived_c_prelude(target: int = 16) -> str:
    """The _SEMDEDUP_PRELUDE pipeline with C DERIVED in SQL exactly
    as the operator derives it — C = max(16, ceil(n / target)) — so
    the seed set, both Lloyd iterations, the assignment, and the
    keep sweep are all re-derived at the data-dependent C. At the
    three test SFs this exercises C = 32 / 32 / 125 (vs the fixed
    C=16 the sibling dedup_semantic_clusters oracle pins). Ends at
    the `removed` CTE (the same surface _SEMDEDUP_PRELUDE exposes),
    so the clusters SELECT and the chain-audit tail both attach."""
    from wilayah_aceh_etl_spark.plans.ext_queries import (
        _COS,
        _VEC_CTE,
        _ivf_km_step_sql,
    )

    return (
        "WITH "
        + _VEC_CTE
        + f""",
u AS (
  SELECT vec_id, unnest(e) AS val, generate_subscripts(e, 1) AS pos FROM v
),
cc AS (
  SELECT GREATEST(16, CAST(CEIL(CAST(COUNT(*) AS DOUBLE) / {target})
                           AS BIGINT)) AS c
  FROM v
),
c1 AS (
  SELECT vec_id AS cid, e AS ce FROM v
  WHERE vec_id < (SELECT c FROM cc)
),
"""
        + ",".join(_ivf_km_step_sql(i) for i in (1, 2))
        + """,
assigned AS (
  SELECT vec_id, e, cid, ROUND(cs, 6) AS cent_cos FROM (
    SELECT v.vec_id, v.e, c.cid, """
        + _COS.format(a="v.e", b="c.ce")
        + """ AS cs,
           ROW_NUMBER() OVER (
             PARTITION BY v.vec_id
             ORDER BY """
        + _COS.format(a="v.e", b="c.ce")
        + """ DESC, c.cid
           ) AS rn
    FROM v, c3 c
  ) WHERE rn = 1
),
ranked AS (
  SELECT vec_id, e, cid, cent_cos,
         ROW_NUMBER() OVER (
           PARTITION BY cid ORDER BY cent_cos, vec_id
         ) AS rk
  FROM assigned
),
removed AS (
  SELECT DISTINCT a.vec_id
  FROM ranked a JOIN ranked b ON a.cid = b.cid AND a.rk > b.rk
  WHERE ROUND("""
        + _COS.format(a="a.e", b="b.e")
        + """, 6) >= 0.35
)"""
    )


def _semdedup_derived_c_oracle(target: int = 16) -> str:
    return (
        _semdedup_derived_c_prelude(target)
        + """
SELECT r.vec_id, CAST(r.cid AS BIGINT) AS cid, r.cent_cos,
       CAST(CASE WHEN rm.vec_id IS NULL THEN 1 ELSE 0 END AS INTEGER)
         AS keep
FROM ranked r LEFT JOIN removed rm ON r.vec_id = rm.vec_id
ORDER BY r.vec_id
"""
    )


@register(
    "dedup_semantic_clusters_derived_c",
    oracle=_semdedup_derived_c_oracle(16),
    tags=("ext", "dedup", "semantic", "kmeans", "semdedup", "derived-c"),
    description="SemDeDup at the derived-C production default "
    "(C = max(16, ceil(n/target)) — the C ∝ N scale path), "
    "oracle-hashed with the SQL deriving C the same way",
)
def dedup_semantic_clusters_derived_c(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The PRODUCTION configuration of semantic dedup — C derived
    from the corpus (n_centroids=None: C = max(16, ⌈n/target⌉), the
    published C ∝ N practice that keeps per-cluster pair work
    CONSTANT as data grows) — driver-verified end to end. The
    sibling dedup_semantic_clusters pins the fixed-C=16 form because
    its oracle hardcodes the seed set; the round-10 decade probes
    (SCALE.md §9e) showed exactly why the fixed form must not be
    mistaken for the scale path: Σ|cluster|² grows ~100× per decade
    at fixed C while the derived-C sweep is flat past the corpus-
    scan floor (§7e's measured C-sweep). Here the ORACLE derives C
    too — GREATEST(16, CEIL(n/target)) feeding the seed predicate —
    so training at the data-dependent C, assignment, ranking, and
    keep verdicts are all hash-checked; across the three test SFs
    this runs C = 32 / 32 / 125 (vs 16 / 16 / 16), exercising
    clusters of target size ~16.

    Scale shape: identical to semantic_dedup's documented shape
    (equi-join on cid, one persisted ranked relation, O(C·d)
    broadcast), with the quadratic bounded per cluster by the
    derived C; target_cluster_size=16 here keeps the gate-scale
    derivation non-vacuous (the operator default of 128 only
    departs from C=16 past n=2048)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.semantic_dedup(
        emb,
        threshold=0.35,
        n_centroids=None,
        n_iter=2,
        target_cluster_size=16,
        cache_key=f"{sf_dir}#derived16",
    )


# ---------------------------------------------------------------------------
# A/B power analysis: minimum detectable effect per event type.
# ---------------------------------------------------------------------------


@register(
    "ab_power_mde_by_event_type",
    oracle="""
WITH m AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(ROUND(value * 16777216) AS BIGINT)) AS BIGINT)
           AS s1,
         CAST(SUM(CAST(ROUND((value * value) * 16777216) AS BIGINT))
              AS BIGINT) AS s2
  FROM events GROUP BY event_type
),
v AS (
  SELECT event_type, n,
         ROUND(CAST(s1 AS DOUBLE) / (n * 16777216), 6) AS mean_value,
         (CAST(s2 AS DOUBLE) / (n * 16777216)) -
           (CAST(s1 AS DOUBLE) / (n * 16777216)) *
           (CAST(s1 AS DOUBLE) / (n * 16777216)) AS var_value
  FROM m
)
SELECT event_type, n AS n_samples, mean_value,
       ROUND(var_value, 6) AS var_value,
       ROUND((1.959964 + 0.841621) * sqrt((2.0 * var_value) / n), 6)
         AS mde_abs,
       ROUND(((1.959964 + 0.841621) * sqrt((2.0 * var_value) / n)) /
             (CAST(s1 AS DOUBLE) / (n * 16777216)), 6) AS mde_rel
FROM v JOIN m USING (event_type, n)
ORDER BY event_type
""",
    tags=("ext", "ab", "stats", "power", "mde"),
    description="A/B power analysis: minimum detectable effect per "
    "event type at alpha=0.05 (two-sided), power=0.80, 50/50 split",
)
def ab_power_mde_by_event_type(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pre-experiment power analysis (the standard two-sample MDE
    formula, e.g. Kohavi et al., 'Trustworthy Online Controlled
    Experiments' ch. 17): with all observed traffic split 50/50,
    the smallest true mean shift detectable at α = 0.05 two-sided
    and 80% power is MDE = (z₀.₉₇₅ + z₀.₈)·√(2σ²/n). The z values
    are fixed literals of the design (1.959964, 0.841621 — pinned
    constants, not computed), so no inverse-normal evaluation
    happens in either engine. Per event type the query reports the
    absolute and relative MDE — the first table an experimentation
    platform shows when sizing a test on this traffic.

    Determinism: Σx and Σx² are exact ROUND(·2²⁴) integer sums;
    mean/variance are pinned-parenthesization single divisions of
    those integers; sqrt is IEEE-correctly-rounded; the z-sum is a
    literal.

    Scale shape: one scan, one hash aggregate per event type,
    |types| output rows — embarrassingly parallel."""
    ev = load_table(spark, sf_dir, "events")
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.round(F.col("value") * 16777216).cast("long"))
        .cast("long")
        .alias("s1"),
        F.sum(
            F.round((F.col("value") * F.col("value")) * 16777216).cast(
                "long"
            )
        )
        .cast("long")
        .alias("s2"),
    )
    mean = F.col("s1").cast("double") / (F.col("n") * F.lit(16777216))
    var = (
        F.col("s2").cast("double") / (F.col("n") * F.lit(16777216))
    ) - mean * mean
    z = F.lit(1.959964) + F.lit(0.841621)
    mde = z * F.sqrt((F.lit(2.0) * var) / F.col("n"))
    return m.select(
        "event_type",
        F.col("n").alias("n_samples"),
        F.round(mean, 6).alias("mean_value"),
        F.round(var, 6).alias("var_value"),
        F.round(mde, 6).alias("mde_abs"),
        F.round(mde / mean, 6).alias("mde_rel"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Streaming IMI admission — the inverted multi-index cell-pair
# assignment as the admission probe in the dedup_admission frame.
# ---------------------------------------------------------------------------


def _imi_admission_oracle(n_batches: int = 4, threshold: str = "0.35") -> str:
    """Unrolls the sequential micro-batch admission in SQL on top of
    the shared IMI index prelude (ext_queries._IMI_INDEX_PRELUDE —
    both half-space trainings + the (vec_id, e, ca, cb) lists):
    batch k's vectors are compared cell-locally against the
    ADMITTED-so-far relation adm{k-1}, and admitted rows accrete
    into adm{k}. Batch 0 faces an empty index, so its verdicts are
    literal zeros — the same semantics the streaming frame produces
    when the admitted table does not exist yet."""
    from wilayah_aceh_etl_spark.plans.ext_queries import (
        _COS,
        _IMI_INDEX_PRELUDE,
    )

    cos = _COS.format(a="b.e", b="s.e")
    parts = [
        f"""
bat0 AS (SELECT vec_id, e, ca, cb FROM lists WHERE vec_id % {n_batches} = 0),
vd0 AS (
  SELECT vec_id, ca, cb,
         CAST(0 AS BIGINT) AS n_cell_candidates,
         CAST(0 AS BIGINT) AS n_near_dups
  FROM bat0
),
adm0 AS (SELECT vec_id, e, ca, cb FROM bat0)"""
    ]
    for k in range(1, n_batches):
        parts.append(
            f"""
bat{k} AS (SELECT vec_id, e, ca, cb FROM lists WHERE vec_id % {n_batches} = {k}),
vd{k} AS (
  SELECT b.vec_id, b.ca, b.cb,
         CAST(COUNT(s.vec_id) AS BIGINT) AS n_cell_candidates,
         CAST(SUM(CASE WHEN ROUND({cos}, 6) >= {threshold}
                   THEN 1 ELSE 0 END) AS BIGINT) AS n_near_dups
  FROM bat{k} b LEFT JOIN adm{k - 1} s ON b.ca = s.ca AND b.cb = s.cb
  GROUP BY b.vec_id, b.ca, b.cb
),
adm{k} AS (
  SELECT * FROM adm{k - 1}
  UNION ALL
  SELECT b.vec_id, b.e, b.ca, b.cb
  FROM bat{k} b JOIN vd{k} v ON b.vec_id = v.vec_id
  WHERE v.n_near_dups = 0
)"""
        )
    union = " UNION ALL ".join(
        f"SELECT * FROM vd{k}" for k in range(n_batches)
    )
    return (
        _IMI_INDEX_PRELUDE
        + ","
        + ",".join(parts)
        + f"""
SELECT vec_id,
       CAST(vec_id % {n_batches} AS INTEGER) AS batch,
       CAST(ca AS BIGINT) AS ca,
       CAST(cb AS BIGINT) AS cb,
       n_cell_candidates, n_near_dups,
       CAST(CASE WHEN n_near_dups = 0 THEN 1 ELSE 0 END AS INTEGER)
         AS admit
FROM ({union})
ORDER BY vec_id
"""
    )


@register(
    "streaming_imi_admission",
    oracle=_imi_admission_oracle(),
    tags=(
        "streaming",
        "ext",
        "dedup",
        "semantic",
        "ann",
        "multi-index",
        "foreachBatch",
    ),
    description="streaming semantic admission over the inverted "
    "multi-index: cell-local near-dup probe per micro-batch",
)
def streaming_imi_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The inverted multi-index run as a CONTINUOUS admission gate
    (the r9 verdict's second stretch ask): the two half-space
    quantizers are trained once batch-side (imi_train_halves — the
    index artifact, like the served classifier's weights), then
    embeddings arrive as four mtime-ordered micro-batches and each
    vector is admitted iff no already-admitted vector in its
    (ca, cb) cell is within 0.35 cosine
    (streaming/imi_admission.py — the dedup_admission
    replay-idempotent frame: batch-partitioned overwrite sinks,
    existing side excludes the current batch, verdicts sealed
    before the admitted table changes). The oracle re-derives BOTH
    Lloyd trainings, every cell assignment, and the full sequential
    4-batch admission unrolled in SQL, so the hash pins training,
    assignment, micro-batch routing, AND the order-dependent
    admission verdicts at once.

    Scale shape: per batch one broadcast row per half quantizer,
    both half argmaxes in one map-side projection, and a cell-pair
    EQUI-join against the standing index (at 100 TB the admitted
    table is partitioned by (ca, cb) — the probe reads 1/(C₁·C₂) of
    it);
    never all-pairs, no cross-batch driver state."""
    import os
    import shutil

    from wilayah_aceh_etl_spark.plans.round9_queries import (
        _await_stream_or_raise,
    )
    from wilayah_aceh_etl_spark.scratch import scratch_dir
    from wilayah_aceh_etl_spark.streaming.imi_admission import (
        imi_admission_stream,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # the index artifact: trained once, held as two LocalRelations
    # (C₁+C₂ = 8 centroids) that every micro-batch reuses
    cent_a, cent_b = S.imi_train_halves(emb, c_half=4, n_iter=2)

    base = scratch_dir("imiadm_src")
    for k in range(4):
        tmp = base + f"_stage{k}"
        emb.filter(F.col("vec_id") % 4 == k).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        dst = os.path.join(base, f"batch{k}.parquet")
        os.rename(os.path.join(tmp, part), dst)
        shutil.rmtree(tmp)
        t = 1_600_000_000 + k * 1000
        os.utime(dst, (t, t))

    admitted = scratch_dir("imiadm_tbl", create=False)
    verdicts = scratch_dir("imiadm_vd", create=False)
    ckpt = scratch_dir("imiadm_ck", create=False)
    src = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(base)
    )
    sq = imi_admission_stream(
        src, cent_a, cent_b, admitted, verdicts, ckpt, threshold=0.35
    ).trigger(availableNow=True).start()
    _await_stream_or_raise(sq, 600)
    return (
        spark.read.option("basePath", verdicts)
        .parquet(verdicts)
        .select(
            "vec_id",
            F.col("batch").cast("int").alias("batch"),
            "ca",
            "cb",
            "n_cell_candidates",
            "n_near_dups",
            "admit",
        )
        .orderBy("vec_id")
    )
