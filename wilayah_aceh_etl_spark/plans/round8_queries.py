"""Round-8 query family (build round 6): the post-training /
evaluation side of the LLM data pipeline — tokenizer APPLY (the
read side of BPE training), unbiased pass@k, GRPO group-relative
advantages, and inter-annotator agreement. Every query carries a
DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wilayah_aceh_etl_spark.plans.registry import register
from wilayah_aceh_etl_spark.plans.round7_queries import (
    _bpe_learn_merges,
    _bpe_step_sql,
)
from wilayah_aceh_etl_spark.session import local_frame
from wilayah_aceh_etl_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# Tokenizer APPLY: train merges on the whole corpus, tokenize docs
# ---------------------------------------------------------------------------

_BPE_APPLY_ORACLE = (
    """
WITH vocab AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
  WHERE regexp_matches(w, '^[a-z]+$') AND length(w) >= 2
  GROUP BY w
),
w0 AS (
  SELECT w, freq, array_to_string(string_split(w, ''), '|') AS s FROM vocab
),
"""
    + ",".join(_bpe_step_sql(i) for i in (1, 2, 3))
    + """,
dwf AS (
  SELECT doc_id, w FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
    FROM documents WHERE doc_id < 200
  ) WHERE regexp_matches(w, '^[a-z]+$') AND length(w) >= 2
),
toks AS MATERIALIZED (
  SELECT w,
         len(string_split(
           replace(replace(replace(
             array_to_string(string_split(w, ''), '|'),
             (SELECT a || '|' || b FROM best1), (SELECT a || b FROM best1)),
             (SELECT a || '|' || b FROM best2), (SELECT a || b FROM best2)),
             (SELECT a || '|' || b FROM best3), (SELECT a || b FROM best3)),
           '|')) AS n_tok
  FROM (SELECT DISTINCT w FROM dwf)
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(t.n_tok) AS BIGINT) AS n_tokens,
       CAST(SUM(length(d.w)) AS BIGINT) AS n_chars
FROM dwf d JOIN toks t USING (w)
GROUP BY doc_id
ORDER BY doc_id
"""
)


@register(
    "tokenizer_bpe_apply_counts",
    oracle=_BPE_APPLY_ORACLE,
    tags=("ext", "text", "bpe", "tokenizer", "apply"),
    description="apply 3 trained BPE merges; per-doc word/token/char counts",
)
def tokenizer_bpe_apply_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The READ side of BPE: train 3 merges on the full corpus
    (round7's _bpe_learn_merges — the same loop text_bpe_train_merges
    hash-pins), then TOKENIZE documents with the learned merge table
    and report per-doc token economics. The oracle re-derives
    training AND application, so a hash match pins the whole
    train→apply contract.

    Scale shape: merges are O(n_iter) driver state; tokenization runs
    on the DISTINCT word set (vocabulary-sized, not corpus-sized) and
    is broadcast-joined back to word occurrences — the standard way a
    tokenizer maps a petabyte corpus without re-tokenizing repeated
    words. Application is a literal left-to-right replace per merge,
    in training order — exactly greedy BPE (see
    text_bpe_train_merges for why replace == the classic merge)."""
    docs = load_table(spark, sf_dir, "documents")
    merges = _bpe_learn_merges(docs, n_iter=3)
    words = (
        docs.filter(F.col("doc_id") < 200)
        .select(
            "doc_id",
            F.explode(F.split(F.lower(F.col("text")), " ")).alias("w"),
        )
        .filter(F.col("w").rlike("^[a-z]+$") & (F.length("w") >= 2))
    )
    tok = F.regexp_replace(F.col("w"), "(?<=.)(?=.)", "|")
    for _, a, b, _, _ in merges:
        tok = F.replace(tok, F.lit(a + "|" + b), F.lit(a + b))
    vocab_tok = (
        words.select("w")
        .distinct()
        .select("w", F.size(F.split(tok, "\\|")).alias("n_tok"))
    )
    return (
        words.join(F.broadcast(vocab_tok), "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.sum(F.length("w")).cast("long").alias("n_chars"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# pass@k: the unbiased estimator over per-problem sample outcomes
# ---------------------------------------------------------------------------


@register(
    "model_eval_pass_at_k",
    oracle="""
WITH prob AS (
  SELECT c_custkey AS problem_id,
         10 + c_custkey % 11 AS n,
         (c_custkey * 7) % (10 + c_custkey % 11 + 1) AS c
  FROM customer WHERE c_custkey < 200
),
f AS (  -- exact factorials 0..20 (n <= 20 here); 0! has no joined
        -- terms, so PRODUCT sees only the NULL left-join row
  SELECT i, CAST(COALESCE(PRODUCT(j), 1) AS BIGINT) AS fact
  FROM UNNEST(range(21)) AS t(i)
       LEFT JOIN UNNEST(range(1, 21)) AS s(j) ON j <= i
  GROUP BY i
),
est AS (
  SELECT problem_id, n, c,
         CASE WHEN n - c < k THEN CAST(0 AS BIGINT)
              ELSE (SELECT fact FROM f WHERE i = n - c)
                   / ((SELECT fact FROM f WHERE i = k)
                      * (SELECT fact FROM f WHERE i = n - c - k)) END AS num,
         (SELECT fact FROM f WHERE i = n)
           / ((SELECT fact FROM f WHERE i = k)
              * (SELECT fact FROM f WHERE i = n - k)) AS den,
         k
  FROM prob, UNNEST([1, 5, 10]) AS kk(k)
)
SELECT problem_id,
       CAST(n AS INTEGER) AS n_samples,
       CAST(c AS INTEGER) AS n_correct,
       CAST(k AS INTEGER) AS k,
       ROUND(1.0 - CAST(num AS DOUBLE) / den, 6) AS pass_at_k
FROM est
ORDER BY problem_id, k
""",
    tags=("ext", "ml", "eval", "pass-at-k"),
    description="unbiased pass@k estimator (exact integer binomials)",
)
def model_eval_pass_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The standard unbiased pass@k estimator for sampled code/answer
    evaluation: pass@k = 1 − C(n−c, k)/C(n, k) per problem, with n
    samples and c correct. Both sides compute the binomials as EXACT
    integer factorial ratios (n ≤ 20 keeps them far inside BIGINT),
    so the only float is the final division — bit-identical across
    engines. Synthetic (n, c) derive deterministically from customer
    keys. Scale: one row per (problem, k); the factorial lookup is a
    21-row broadcast."""
    fact = {0: 1}
    for i in range(1, 21):
        fact[i] = fact[i - 1] * i
    fact_df = F.broadcast(
        local_frame(
            spark, [(i, v) for i, v in fact.items()], "i int, fact long"
        )
    )
    prob = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 200)
        .select(
            F.col("c_custkey").alias("problem_id"),
            (10 + F.col("c_custkey") % 11).cast("int").alias("n"),
            ((F.col("c_custkey") * 7) % (10 + F.col("c_custkey") % 11 + 1))
            .cast("int")
            .alias("c"),
        )
    )
    ks = local_frame(spark, [(1,), (5,), (10,)], "k int")
    est = prob.crossJoin(F.broadcast(ks))
    for col, idx in (("f_nc", F.col("n") - F.col("c")),
                     ("f_k", F.col("k")),
                     ("f_nck", F.col("n") - F.col("c") - F.col("k")),
                     ("f_n", F.col("n")),
                     ("f_nk", F.col("n") - F.col("k"))):
        est = est.join(
            fact_df.select(
                F.col("i").alias(f"_{col}_i"), F.col("fact").alias(col)
            ),
            idx == F.col(f"_{col}_i"),
            "left",
        ).drop(f"_{col}_i")
    num = F.when(
        F.col("n") - F.col("c") < F.col("k"), F.lit(0).cast("long")
    ).otherwise(
        (F.col("f_nc") / (F.col("f_k") * F.col("f_nck"))).cast("long")
    )
    den = (F.col("f_n") / (F.col("f_k") * F.col("f_nk"))).cast("long")
    return (
        est.select(
            "problem_id",
            F.col("n").alias("n_samples"),
            F.col("c").alias("n_correct"),
            "k",
            F.round(
                F.lit(1.0) - num.cast("double") / den.cast("double"), 6
            ).alias("pass_at_k"),
        )
        .orderBy("problem_id", "k")
    )


# ---------------------------------------------------------------------------
# GRPO: group-relative advantages from exact integer moments
# ---------------------------------------------------------------------------


@register(
    "ml_grpo_group_advantages",
    oracle="""
WITH r AS (
  SELECT user_id % 50 AS group_id, event_id,
         CAST(ROUND(value * 1000) AS BIGINT) AS reward_milli
  FROM events WHERE user_id < 30
),
g AS (
  SELECT group_id,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(reward_milli) AS BIGINT) AS s1,
         CAST(SUM(reward_milli * reward_milli) AS BIGINT) AS s2
  FROM r GROUP BY group_id
)
SELECT r.group_id, r.event_id, r.reward_milli,
       ROUND(CASE WHEN g.n * g.s2 = g.s1 * g.s1 THEN 0.0
                  ELSE (g.n * r.reward_milli - g.s1)
                       / sqrt(CAST(g.n * g.s2 - g.s1 * g.s1 AS DOUBLE)
                              * g.n) END, 6) AS advantage
FROM r JOIN g USING (group_id)
ORDER BY group_id, event_id
""",
    tags=("ext", "ml", "rl", "grpo"),
    description="GRPO group-relative advantages ((r-mean)/std per group)",
)
def ml_grpo_group_advantages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRPO-style reward normalization (the group-relative policy
    optimization baseline: per prompt-group, advantage =
    (r − mean)/std, zero for degenerate constant-reward groups).
    Determinism device: rewards quantize to integer millis, so the
    group moments (n, Σr, Σr²) are EXACT integers and the advantage
    is one float expression both engines evaluate identically —
    advantage = (n·r − Σr)/√((n·Σr² − (Σr)²)·n), algebraically
    (r − μ)/σ_pop without ever forming a float intermediate.
    Scale: one shuffle to the group aggregate, broadcast back —
    identical to the trainer's reward-normalization stage."""
    r = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") < 30)
        .select(
            (F.col("user_id") % 50).alias("group_id"),
            "event_id",
            F.round(F.col("value") * 1000)
            .cast("long")
            .alias("reward_milli"),
        )
    )
    g = r.groupBy("group_id").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("reward_milli").cast("long").alias("s1"),
        F.sum(F.col("reward_milli") * F.col("reward_milli"))
        .cast("long")
        .alias("s2"),
    )
    adv = F.when(
        F.col("n") * F.col("s2") == F.col("s1") * F.col("s1"), F.lit(0.0)
    ).otherwise(
        (F.col("n") * F.col("reward_milli") - F.col("s1"))
        / F.sqrt(
            (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")).cast(
                "double"
            )
            * F.col("n")
        )
    )
    return (
        r.join(F.broadcast(g), "group_id")
        .select(
            "group_id",
            "event_id",
            "reward_milli",
            F.round(adv, 6).alias("advantage"),
        )
        .orderBy("group_id", "event_id")
    )


# ---------------------------------------------------------------------------
# Inter-annotator agreement: Cohen's kappa from exact counts
# ---------------------------------------------------------------------------


@register(
    "labels_cohens_kappa",
    oracle="""
WITH lab AS (
  SELECT o_orderkey AS item_id,
         o_orderkey % 3 AS r1,
         (o_orderkey % 3 + CASE WHEN o_orderkey % 7 = 0 THEN 1 ELSE 0 END)
           % 3 AS r2
  FROM orders WHERE o_orderkey < 2000
),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN r1 = r2 THEN 1 ELSE 0 END) AS BIGINT) AS agree
  FROM lab
),
pe AS (
  SELECT CAST(SUM(c1 * c2) AS BIGINT) AS cross_sum
  FROM (
    SELECT k,
           CAST(SUM(CASE WHEN r1 = k THEN 1 ELSE 0 END) AS BIGINT) AS c1,
           CAST(SUM(CASE WHEN r2 = k THEN 1 ELSE 0 END) AS BIGINT) AS c2
    FROM lab, UNNEST(range(3)) AS t(k)
    GROUP BY k
  )
)
SELECT m.n AS n_items,
       ROUND(CAST(m.agree AS DOUBLE) / m.n, 6) AS p_observed,
       ROUND(CAST(pe.cross_sum AS DOUBLE) / (m.n * m.n), 6) AS p_expected,
       ROUND((CAST(m.agree AS DOUBLE) * m.n - pe.cross_sum)
             / (CAST(m.n AS DOUBLE) * m.n - pe.cross_sum), 6) AS kappa
FROM m, pe
""",
    tags=("ext", "labels", "agreement", "quality"),
    description="Cohen's kappa between two deterministic annotators",
)
def labels_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-annotator agreement for label-quality audits: Cohen's
    κ = (p_o − p_e)/(1 − p_e) between two raters over 3 classes.
    All inputs to the float expressions are exact integer counts
    (agreements, per-class marginals), and κ is computed as the
    single ratio (agree·n − Σc1·c2)/(n² − Σc1·c2) so both engines
    evaluate the same two-operand division. One aggregation over the
    labels, one over the 3-class marginals — no per-item state."""
    lab = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 2000)
        .select(
            (F.col("o_orderkey") % 3).alias("r1"),
            (
                (
                    F.col("o_orderkey") % 3
                    + F.when(F.col("o_orderkey") % 7 == 0, 1).otherwise(0)
                )
                % 3
            ).alias("r2"),
        )
    )
    m = lab.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("r1") == F.col("r2"), 1).otherwise(0))
        .cast("long")
        .alias("agree"),
    )
    marg = (
        lab.crossJoin(
            F.broadcast(local_frame(spark, [(0,), (1,), (2,)], "k int"))
        )
        .groupBy("k")
        .agg(
            F.sum(F.when(F.col("r1") == F.col("k"), 1).otherwise(0))
            .cast("long")
            .alias("c1"),
            F.sum(F.when(F.col("r2") == F.col("k"), 1).otherwise(0))
            .cast("long")
            .alias("c2"),
        )
        .agg(F.sum(F.col("c1") * F.col("c2")).cast("long").alias("cross_sum"))
    )
    return m.crossJoin(F.broadcast(marg)).select(
        F.col("n").alias("n_items"),
        F.round(F.col("agree").cast("double") / F.col("n"), 6).alias(
            "p_observed"
        ),
        F.round(
            F.col("cross_sum").cast("double") / (F.col("n") * F.col("n")), 6
        ).alias("p_expected"),
        F.round(
            (F.col("agree").cast("double") * F.col("n") - F.col("cross_sum"))
            / (
                F.col("n").cast("double") * F.col("n")
                - F.col("cross_sum")
            ),
            6,
        ).alias("kappa"),
    )


# ---------------------------------------------------------------------------
# IVFADC: coarse quantizer + product-quantized RESIDUALS + ADC —
# the composed prune-and-compress ANN architecture
# ---------------------------------------------------------------------------

_DIFF64 = (
    "list_transform(range(1, 65), i -> {a}[CAST(i AS BIGINT)]"
    " - {b}[CAST(i AS BIGINT)])"
)
_DIFF16 = (
    "list_transform(range(1, 17), i -> {a}[CAST(i AS BIGINT)]"
    " - {b}[CAST(i AS BIGINT)])"
)

_IVFADC_ORACLE = f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
),
cc AS (SELECT vec_id AS ccid, e AS ce FROM v WHERE vec_id < 16),
ad AS MATERIALIZED (
  SELECT v.vec_id, cc.ccid,
         list_dot_product({_DIFF64.format(a='v.e', b='cc.ce')},
                          {_DIFF64.format(a='v.e', b='cc.ce')}) AS d2
  FROM v, cc
),
assign AS (SELECT vec_id, arg_min(ccid, d2) AS centroid FROM ad GROUP BY vec_id),
resid AS MATERIALIZED (
  SELECT a.vec_id, a.centroid,
         {_DIFF64.format(a='v.e', b='cc.ce')} AS r
  FROM assign a JOIN v USING (vec_id) JOIN cc ON cc.ccid = a.centroid
),
sub AS (SELECT UNNEST(range(4)) AS s),
pqc AS MATERIALIZED (
  SELECT r.vec_id - 16 AS cbid, sub.s,
         r.r[CAST(sub.s * 16 + 1 AS BIGINT):CAST(sub.s * 16 + 16 AS BIGINT)]
           AS cb
  FROM resid r, sub WHERE r.vec_id BETWEEN 16 AND 31
),
rs AS (
  SELECT vec_id, centroid, sub.s,
         r[CAST(sub.s * 16 + 1 AS BIGINT):CAST(sub.s * 16 + 16 AS BIGINT)]
           AS rv
  FROM resid, sub
),
codes AS MATERIALIZED (
  SELECT vec_id, centroid, s, arg_min(cbid, d2) AS code
  FROM (
    SELECT rs.vec_id, rs.centroid, rs.s, pqc.cbid,
           list_dot_product({_DIFF16.format(a='rs.rv', b='pqc.cb')},
                            {_DIFF16.format(a='rs.rv', b='pqc.cb')}) AS d2
    FROM rs JOIN pqc ON rs.s = pqc.s
  ) GROUP BY vec_id, centroid, s
),
probes AS (
  SELECT vec_id AS query_id, ccid AS centroid FROM (
    SELECT vec_id, ccid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, ccid) AS rn
    FROM ad WHERE vec_id < 3
  ) WHERE rn <= 4
),
qrs AS (
  SELECT p.query_id, p.centroid, sub.s,
         {_DIFF64.format(a='v.e', b='cc.ce')}
           [CAST(sub.s * 16 + 1 AS BIGINT):CAST(sub.s * 16 + 16 AS BIGINT)]
           AS rv
  FROM probes p
       JOIN v ON v.vec_id = p.query_id
       JOIN cc ON cc.ccid = p.centroid, sub
),
lut AS MATERIALIZED (
  SELECT qrs.query_id, qrs.centroid, qrs.s, pqc.cbid AS code,
         CAST(ROUND(list_dot_product(
             {_DIFF16.format(a='qrs.rv', b='pqc.cb')},
             {_DIFF16.format(a='qrs.rv', b='pqc.cb')}) * 1000000) AS BIGINT)
           AS d2_micro
  FROM qrs JOIN pqc ON qrs.s = pqc.s
),
adc AS (
  SELECT l.query_id, c.vec_id, CAST(SUM(l.d2_micro) AS BIGINT) AS adc_micro
  FROM codes c
  JOIN lut l ON l.centroid = c.centroid AND l.s = c.s AND l.code = c.code
  WHERE c.vec_id != l.query_id
  GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, vec_id, adc_micro,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY adc_micro, vec_id) AS rk
  FROM adc
)
SELECT query_id, vec_id,
       ROUND(adc_micro / 1000000.0, 4) AS adc_d2,
       CAST(rk AS INTEGER) AS rk
FROM ranked WHERE rk <= 10
ORDER BY query_id, rk
"""


@register(
    "similarity_ivfadc_topk",
    oracle=_IVFADC_ORACLE,
    tags=("ext", "similarity", "ann", "ivf", "pq", "ivfadc"),
    description="IVFADC top-10: coarse prune + PQ'd residuals + ADC",
)
def similarity_ivfadc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC — the composed billion-scale ANN architecture (coarse
    inverted lists PRUNE the corpus, product-quantized RESIDUALS
    compress what remains, asymmetric distance scores candidates
    with a per-probe lookup table):

      1. coarse quantizer: first 16 vectors by id (deterministic;
         swap kmeans_centroids_cached in at no plan change), L2
         assignment;
      2. residual r = v − c(v) per vector; PQ codebook = the
         residual subvectors of vecs 16..31 (4 subspaces × 16
         codes; 16..31 because 0..15 ARE the coarse centroids and
         self-residuals are zero);
      3. each query probes its 4 nearest coarse lists, builds a
         4×16 LUT of exact subspace distances against its
         PER-PROBE residual, and scores candidates as 4 integer
         lookups — never touching a full-precision candidate.

    Storage at scale: 4 nibble codes + a centroid id per vector
    (~5 B vs 256 B raw); the probe reads n_probe/16 of the codes
    table; the LUT is a (queries × 4 probes × 64)-row broadcast.
    Determinism: every distance is a sequential-fold dot product of
    an elementwise difference (bit-identical in both engines), LUT
    entries round to integer micro-units before the 4-way ADC sum,
    ranks tie-break on vec_id. Composes the registry's ivf_topk
    (prune) and similarity_pq_adc_topk (compress) into the
    architecture FAISS ships as IndexIVFPQ."""
    from pyspark.sql.window import Window

    from wilayah_aceh_etl_spark.functions import vectors as V

    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select("vec_id", V.as_double("embedding").alias("e"))
    cc = F.broadcast(
        v.filter(F.col("vec_id") < 16).select(
            F.col("vec_id").alias("ccid"), F.col("e").alias("ce")
        )
    )
    diff = "zip_with(e, ce, (x, y) -> x - y)"
    ad = v.join(cc).select(
        "vec_id", "ccid", V.dot(diff, diff).alias("d2")
    )
    assign = ad.groupBy("vec_id").agg(
        F.min_by("ccid", "d2").alias("centroid")
    )
    resid = (
        assign.join(v, "vec_id")
        .join(cc, F.col("centroid") == F.col("ccid"))
        .select("vec_id", "centroid", F.expr(diff).alias("r"))
    )
    sub = F.broadcast(
        spark.range(4).select(F.col("id").cast("int").alias("s"))
    )
    seg = lambda col: F.slice(col, F.col("s") * 16 + 1, 16)  # noqa: E731
    pqc = (
        resid.filter(
            (F.col("vec_id") >= 16) & (F.col("vec_id") < 32)
        )
        .join(sub)
        .select(
            (F.col("vec_id") - 16).alias("cbid"),
            "s",
            seg(F.col("r")).alias("cb"),
        )
    )
    rs = resid.join(sub).select(
        "vec_id", "centroid", "s", seg(F.col("r")).alias("rv")
    )
    sd = "zip_with(rv, cb, (x, y) -> x - y)"
    codes = (
        rs.join(F.broadcast(pqc), "s")
        .select("vec_id", "centroid", "s", "cbid", V.dot(sd, sd).alias("d2"))
        .groupBy("vec_id", "centroid", "s")
        .agg(F.min_by("cbid", "d2").alias("code"))
    )
    w_probe = Window.partitionBy("vec_id").orderBy("d2", "ccid")
    probes = (
        ad.filter(F.col("vec_id") < 3)
        .withColumn("rn", F.row_number().over(w_probe))
        .filter(F.col("rn") <= 4)
        .select(
            F.col("vec_id").alias("query_id"), F.col("ccid").alias("centroid")
        )
    )
    qrs = (
        probes.join(v, probes.query_id == v.vec_id)
        .join(cc, F.col("centroid") == F.col("ccid"))
        .select("query_id", "centroid", F.expr(diff).alias("r"))
        .join(sub)
        .select("query_id", "centroid", "s", seg(F.col("r")).alias("rv"))
    )
    lut = (
        qrs.join(F.broadcast(pqc), "s")
        .select(
            "query_id",
            "centroid",
            "s",
            F.col("cbid").alias("code"),
            F.round(V.dot(sd, sd) * 1000000, 0)
            .cast("long")
            .alias("d2_micro"),
        )
    )
    adc = (
        codes.join(F.broadcast(lut), ["centroid", "s", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("d2_micro").cast("long").alias("adc_micro"))
    )
    w_rk = Window.partitionBy("query_id").orderBy("adc_micro", "vec_id")
    return (
        adc.withColumn("rk", F.row_number().over(w_rk).cast("int"))
        .filter(F.col("rk") <= 10)
        .select(
            "query_id",
            "vec_id",
            F.round(F.col("adc_micro") / 1000000.0, 4).alias("adc_d2"),
            "rk",
        )
        .orderBy("query_id", "rk")
    )


# ---------------------------------------------------------------------------
# Bradley-Terry preference strengths (RLHF reward-model analytics)
# ---------------------------------------------------------------------------

def _bt_step_sql(t: int) -> str:
    """One quantized MM iteration (Hunter 2004): per item i,
    π ← W_i·2²⁴ / Σ_{j≠i} round(2²⁴·n_ij/(π_i+π_j)). Each summand is
    quantized to an exact integer BEFORE the sum, so the float
    accumulation order can never differ between engines — the same
    device the quantized-GD trainers use."""
    return f"""
d{t} AS MATERIALIZED (
  SELECT n.i,
         CAST(SUM(CAST(ROUND(16777216.0 * n.n /
               (pi_i.pi + pi_j.pi)) AS BIGINT)) AS BIGINT) AS denom
  FROM n JOIN p{t - 1} pi_i ON pi_i.i = n.i
         JOIN p{t - 1} pi_j ON pi_j.i = n.j
  GROUP BY n.i
),
p{t} AS MATERIALIZED (
  SELECT w.i, w.wins * 16777216.0 / d{t}.denom AS pi
  FROM w JOIN d{t} USING (i)
)"""


_BT_ORACLE = (
    """
WITH duel AS (
  SELECT o_orderkey % 5 AS a, (o_orderkey // 5) % 5 AS b,
         CASE WHEN o_orderkey % 3 <> 0
              THEN o_orderkey % 5 ELSE (o_orderkey // 5) % 5 END AS winner
  FROM orders
  WHERE o_orderkey % 5 <> (o_orderkey // 5) % 5
),
n AS MATERIALIZED (  -- games per UNORDERED pair, kept directional for the join
  SELECT i, j, CAST(SUM(cnt) AS BIGINT) AS n FROM (
    SELECT a AS i, b AS j, COUNT(*) AS cnt FROM duel GROUP BY a, b
    UNION ALL
    SELECT b AS i, a AS j, COUNT(*) AS cnt FROM duel GROUP BY b, a
  ) GROUP BY i, j
),
w AS MATERIALIZED (
  SELECT winner AS i, CAST(COUNT(*) AS BIGINT) AS wins
  FROM duel GROUP BY winner
),
p0 AS (SELECT i, 1.0 AS pi FROM w),
"""
    + ",".join(_bt_step_sql(t) for t in (1, 2))
    + """
SELECT p2.i AS item,
       w.wins,
       ROUND(p2.pi / (SELECT pi FROM p2 WHERE i = 0), 6) AS strength,
       CAST(ROW_NUMBER() OVER (ORDER BY p2.pi DESC, p2.i) AS INTEGER) AS rk
FROM p2 JOIN w USING (i)
ORDER BY item
"""
)


@register(
    "ml_bradley_terry_strengths",
    oracle=_BT_ORACLE,
    tags=("ext", "ml", "rl", "preferences", "bradley-terry", "iterative"),
    description="Bradley-Terry strengths: 2 quantized MM iterations over duels",
)
def ml_bradley_terry_strengths(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bradley-Terry preference-strength fitting — the model under
    RLHF reward aggregation and chatbot-arena-style leaderboards —
    via two MM iterations (Hunter 2004): π_i ← W_i / Σ_{j≠i}
    n_ij/(π_i+π_j), scores reported relative to item 0 and ranked.

    Duels derive deterministically from order keys (5 items, winner
    biased by key arithmetic so a real preference gradient exists).
    Determinism device: each MM summand quantizes to an exact
    integer (·2²⁴) BEFORE the per-item sum, so float accumulation
    order cannot diverge between engines — the quantized-GD
    trainers' device applied to an MM loop.

    Scale shape: the one corpus-sized operation is the duel count
    aggregation (one shuffle over orders → O(items²) sufficient
    statistics); the MM iterations run on the tiny (wins, n_ij)
    relations — O(items²) driver-side state, exactly like the
    kmeans/GD trainers keep O(C·d)/O(d). The comparison log never
    moves twice."""
    o = load_table(spark, sf_dir, "orders").select(
        (F.col("o_orderkey") % 5).alias("a"),
        ((F.col("o_orderkey") / 5).cast("long") % 5).alias("b"),
        F.when(
            F.col("o_orderkey") % 3 != 0, F.col("o_orderkey") % 5
        )
        .otherwise((F.col("o_orderkey") / 5).cast("long") % 5)
        .alias("winner"),
    ).filter(F.col("a") != F.col("b"))
    duels = o.persist()
    try:
        n_dir = (
            duels.groupBy("a", "b").count()
            .select(F.col("a").alias("i"), F.col("b").alias("j"), "count")
        )
        n_rev = (
            duels.groupBy("b", "a").count()
            .select(F.col("b").alias("i"), F.col("a").alias("j"), "count")
        )
        n_pair = {
            (r["i"], r["j"]): r["n"]
            for r in n_dir.unionByName(n_rev)
            .groupBy("i", "j")
            .agg(F.sum("count").cast("long").alias("n"))
            .collect()
        }
        wins = {
            r["winner"]: r["w"]
            for r in duels.groupBy("winner")
            .agg(F.count(F.lit(1)).cast("long").alias("w"))
            .collect()
        }
        # half-away-from-zero, matching DuckDB/Spark ROUND (Python's
        # round() is banker's and would diverge at exact halves;
        # iteration 1 divides by exactly 2.0, so halves are reachable)
        from wilayah_aceh_etl_spark.functions.numeric import (
            round_half_away as _rh,
        )

        Q = 16777216
        pi = {i: 1.0 for i in wins}
        for _ in range(2):
            denom = {
                i: sum(
                    _rh(Q * n / (pi[i] + pi[j]))
                    for (ii, j), n in n_pair.items()
                    if ii == i
                )
                for i in pi
            }
            pi = {i: wins[i] * float(Q) / denom[i] for i in pi}
        base = pi[0]
        ranked = sorted(pi, key=lambda i: (-pi[i], i))
        rk = {i: r + 1 for r, i in enumerate(ranked)}
        return (
            local_frame(
                duels.sparkSession,
                [
                    (int(i), int(wins[i]), round(pi[i] / base, 6), rk[i])
                    for i in sorted(pi)
                ],
                "item long, wins bigint, strength double, rk int",
            )
            .orderBy("item")
        )
    finally:
        duels.unpersist()


# ---------------------------------------------------------------------------
# G.711 μ-law companding: a real lossy audio codec, oracle-exact
# ---------------------------------------------------------------------------


@register(
    "multimodal_mulaw_codec_stats",
    oracle="""
WITH m AS (
  SELECT doc_id AS media_id, 50 + doc_id % 50 AS n
  FROM documents WHERE doc_id < 150
),
s AS (
  SELECT media_id, n, ((media_id * 31 + k.i * 97) % 65536) - 32768 AS x
  FROM m, UNNEST(range(n)) AS k(i)
),
seg AS (
  SELECT media_id, n, x,
         CASE WHEN x < 0 THEN 1 ELSE 0 END AS neg,
         v,
         CASE WHEN v >= 16384 THEN 7 WHEN v >= 8192 THEN 6
              WHEN v >= 4096 THEN 5 WHEN v >= 2048 THEN 4
              WHEN v >= 1024 THEN 3 WHEN v >= 512 THEN 2
              WHEN v >= 256 THEN 1 ELSE 0 END AS e
  FROM (
    SELECT media_id, n, x,
           LEAST(CASE WHEN x < 0 THEN -x ELSE x END, 32635) + 132 AS v
    FROM s
  )
),
dec AS (
  SELECT media_id, n, x,
         CASE WHEN neg = 1 THEN -mag ELSE mag END AS d
  FROM (
    SELECT media_id, n, x, neg,
           ((((v >> (e + 3)) & 15) * 8 + 132) << e) - 132 AS mag
    FROM seg
  )
)
SELECT media_id,
       CAST(n AS INTEGER) AS n_samples,
       CAST(SUM(d) AS BIGINT) AS sum_decoded,
       CAST(MIN(d) AS INTEGER) AS min_decoded,
       CAST(MAX(d) AS INTEGER) AS max_decoded,
       CAST(MAX(CASE WHEN d - x < 0 THEN x - d ELSE d - x END) AS INTEGER)
         AS max_abs_err
FROM dec
GROUP BY media_id, n
ORDER BY media_id
""",
    tags=("ext", "multimodal", "audio", "codec", "g711", "lossy"),
    description="G.711 mu-law companding round-trip, loss oracle-exact",
)
def multimodal_mulaw_codec_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """A REAL standardized lossy audio codec through the engine:
    ITU-T G.711 μ-law companding (telephony PCMU). Unlike
    transform-based lossy codecs, companding is pure integer
    arithmetic, so the oracle re-derives the exact encode→decode
    chain — segment ladder, 4-bit mantissa, bias, complement — and
    the codec's actual LOSS (max |decoded − original| per stream)
    hash-matches. Decode is a total function over bytes (any stream
    chunk decodes), which is what makes raw μ-law payloads
    arbitrarily splittable at scale."""
    from wilayah_aceh_etl_spark.operators import multimodal as M

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    return M.mulaw_roundtrip_stats(docs, "doc_id").orderBy("media_id")


# ---------------------------------------------------------------------------
# IMA ADPCM: sequential codec state replayed by a recursive oracle
# ---------------------------------------------------------------------------

_IMA_STEPS_SQL = (
    "[7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,"
    "37,41,45,50,55,60,66,73,80,88,97,107,118,130,143,"
    "157,173,190,209,230,253,279,307,337,371,408,449,494,"
    "544,598,658,724,796,876,963,1060,1166,1282,1411,1552,"
    "1707,1878,2066,2272,2499,2749,3024,3327,3660,4026,4428,"
    "4871,5358,5894,6484,7132,7845,8630,9493,10442,11487,"
    "12635,13899,15289,16818,18500,20350,22385,24623,27086,"
    "29794,32767]"
)

_IMA_ORACLE = f"""
WITH RECURSIVE m AS (
  SELECT doc_id AS media_id, 60 + doc_id % 40 AS n
  FROM documents WHERE doc_id < 120
),
st AS (
  SELECT media_id, n, -1 AS k,
         0 AS pred, 0 AS idx,
         CAST(0 AS BIGINT) AS sumdec, 0 AS maxerr
  FROM m
  UNION ALL
  SELECT media_id, n, k,
         GREATEST(-32768, LEAST(32767,
           pred + CASE WHEN sign THEN -vpdiff ELSE vpdiff END)) AS pred,
         GREATEST(0, LEAST(88,
           idx + [-1,-1,-1,-1,2,4,6,8][delta + 1])) AS idx,
         sumdec + GREATEST(-32768, LEAST(32767,
           pred + CASE WHEN sign THEN -vpdiff ELSE vpdiff END)),
         GREATEST(maxerr, ABS(x - GREATEST(-32768, LEAST(32767,
           pred + CASE WHEN sign THEN -vpdiff ELSE vpdiff END))))
  FROM (
    SELECT media_id, n, k, pred, idx, sumdec, maxerr, x, sign, step, delta,
           (step >> 3)
           + CASE WHEN delta >= 4 THEN step ELSE 0 END
           + CASE WHEN (delta % 4) >= 2 THEN step >> 1 ELSE 0 END
           + CASE WHEN (delta % 2) = 1 THEN step >> 2 ELSE 0 END AS vpdiff
    FROM (
      SELECT media_id, n, k, pred, idx, sumdec, maxerr, x, sign, step,
             CASE WHEN ad >= step THEN 4 ELSE 0 END
             + CASE WHEN ad - CASE WHEN ad >= step THEN step ELSE 0 END
                      >= (step >> 1) THEN 2 ELSE 0 END
             + CASE WHEN ad - CASE WHEN ad >= step THEN step ELSE 0 END
                      - CASE WHEN ad - CASE WHEN ad >= step THEN step
                                       ELSE 0 END >= (step >> 1)
                             THEN step >> 1 ELSE 0 END
                      >= (step >> 2) THEN 1 ELSE 0 END AS delta
      FROM (
        SELECT st.media_id, st.n, st.k + 1 AS k,
               st.pred, st.idx, st.sumdec, st.maxerr,
               ((st.media_id * 13 + (st.k + 1) * 150) % 12000) - 6000 AS x,
               {_IMA_STEPS_SQL}[st.idx + 1] AS step,
               ((st.media_id * 13 + (st.k + 1) * 150) % 12000) - 6000
                 - st.pred < 0 AS sign,
               ABS(((st.media_id * 13 + (st.k + 1) * 150) % 12000) - 6000
                   - st.pred) AS ad
        FROM st WHERE st.k + 1 < st.n
      )
    )
  )
)
SELECT media_id,
       CAST(n AS INTEGER) AS n_samples,
       CAST(sumdec AS BIGINT) AS sum_decoded,
       CAST(maxerr AS INTEGER) AS max_abs_err,
       CAST(pred AS INTEGER) AS last_decoded
FROM st WHERE k = n - 1
ORDER BY media_id
"""


@register(
    "multimodal_ima_adpcm_codec_stats",
    oracle=_IMA_ORACLE,
    tags=("ext", "multimodal", "audio", "codec", "adpcm", "sequential"),
    description="IMA ADPCM round-trip: sequential state vs a recursive oracle",
)
def multimodal_ima_adpcm_codec_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """IMA ADPCM (DVI4), the classic 4-bit adaptive-differential
    audio codec: per-stream SEQUENTIAL state (predictor + step
    index) that every sample mutates — the codec counterpart of the
    engine's chained-iteration devices, so the oracle replays the
    exact encode/decode recursion in a RECURSIVE CTE (step-table
    walk, 3-bit magnitude reconstruction with the step>>3 rounding
    term, predictor clamp, index clamp). All integer arithmetic: the
    per-stream sum/max-error/final-sample hash-match exactly.
    Samples are a deterministic sawtooth (step 150, period 80) so
    the adaptive step index actually travels. Scale: streams are
    independent (one mapInPandas partition each side); within a
    stream the recursion is inherently sequential — the parallel
    axis is stream count, exactly like JPEG restart segments."""
    from wilayah_aceh_etl_spark.operators import multimodal as M

    schema = (
        "media_id long, n_samples int, sum_decoded long, "
        "max_abs_err int, last_decoded int"
    )

    def batches(it):
        import pandas as pd

        for pdf in it:
            rows = []
            for mid in (int(v) for v in pdf["_mid"]):
                n = 60 + mid % 40
                orig = [
                    ((mid * 13 + k * 150) % 12000) - 6000 for k in range(n)
                ]
                dec = M.ima_adpcm_decode(M.ima_adpcm_encode(orig))
                rows.append(
                    (
                        mid, n, sum(dec),
                        max(abs(d - o) for d, o in zip(dec, orig)),
                        dec[-1],
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "n_samples", "sum_decoded",
                    "max_abs_err", "last_decoded",
                ],
            )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    return (
        docs.select(F.col("doc_id").cast("long").alias("_mid"))
        .mapInPandas(batches, schema)
        .orderBy("media_id")
    )


# ---------------------------------------------------------------------------
# DPO implicit-reward audit over preference pairs
# ---------------------------------------------------------------------------

_DPO_ORACLE = """
WITH pairs AS (
  SELECT doc_id AS pair_id,
         -- per-sequence log-probs in integer micro-nats, derived
         -- deterministically from the pair id (fixture arithmetic,
         -- the Bradley-Terry duel device): policy/reference for the
         -- chosen and rejected completion of each pair
         -(1000000 + (doc_id * 7919) % 900000)  AS pol_c,
         -(1000000 + (doc_id * 104729) % 900000) AS ref_c,
         -(1000000 + (doc_id * 1299709) % 900000) AS pol_r,
         -(1000000 + (doc_id * 15485863) % 900000) AS ref_r
  FROM documents WHERE doc_id < 400
),
m AS (
  SELECT pair_id,
         CAST((pol_c - ref_c) - (pol_r - ref_r) AS BIGINT) AS margin_micro
  FROM pairs
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(CASE WHEN margin_micro > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_correct,
       CAST(SUM(margin_micro) AS BIGINT) AS sum_margin_micro,
       CAST(MIN(margin_micro) AS BIGINT) AS min_margin_micro,
       CAST(MAX(margin_micro) AS BIGINT) AS max_margin_micro,
       CAST(SUM(CASE WHEN margin_micro > 0
                     THEN margin_micro ELSE 0 END) AS BIGINT)
         AS sum_positive_margin_micro
FROM m
"""


@register(
    "ml_dpo_implicit_reward",
    oracle=_DPO_ORACLE,
    tags=("ext", "ml", "rl", "preferences", "dpo"),
    description="DPO implicit-reward margin audit over preference pairs",
)
def ml_dpo_implicit_reward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DPO's implicit-reward audit (Rafailov et al. 2023): for each
    preference pair, the implicit reward of a completion is
    β·(log π(y) − log π_ref(y)), and the pair's margin is the chosen
    reward minus the rejected reward — the quantity whose sigmoid is
    the DPO loss and whose sign is the "implicit reward accuracy"
    every post-training run tracks per batch. This query computes
    the margin audit the data pipeline owns: pair count, accuracy
    numerator (margins > 0), and sum/min/max/positive-mass margin
    statistics.

    Per-sequence log-probs arrive in integer MICRO-NATS — the unit
    the GAE/GRPO/DSIR family standardized on — so every margin is
    exact integer arithmetic end to end and β (a global scalar)
    drops out of sign/ordering statistics entirely; no float
    boundary can flap the audit. The fixture derives the four
    log-prob columns deterministically from the pair id (the
    Bradley-Terry duel-construction device; a real run would join
    the scorer's output table on pair_id instead — same plan).

    Scale shape: one projection over the pair table and one global
    aggregate — map-side partial combine, a single 1-row shuffle; at
    100 TB the pair table streams through once and only six longs
    cross the wire per partition. Beyond-reference mandate
    (post-training family); no reference counterpart."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    pol_c = -(F.lit(1000000) + (F.col("doc_id") * 7919) % 900000)
    ref_c = -(F.lit(1000000) + (F.col("doc_id") * 104729) % 900000)
    pol_r = -(F.lit(1000000) + (F.col("doc_id") * 1299709) % 900000)
    ref_r = -(F.lit(1000000) + (F.col("doc_id") * 15485863) % 900000)
    m = docs.select(
        ((pol_c - ref_c) - (pol_r - ref_r)).cast("long").alias("margin_micro")
    )
    return m.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.when(F.col("margin_micro") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_correct"),
        F.sum("margin_micro").cast("long").alias("sum_margin_micro"),
        F.min("margin_micro").cast("long").alias("min_margin_micro"),
        F.max("margin_micro").cast("long").alias("max_margin_micro"),
        F.sum(
            F.when(F.col("margin_micro") > 0, F.col("margin_micro")).otherwise(0)
        )
        .cast("long")
        .alias("sum_positive_margin_micro"),
    )
