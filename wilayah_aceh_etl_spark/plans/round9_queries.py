"""Round-9 query family (build round 6, continued): the EVALUATION
metrics of the LLM pipeline — corpus BLEU, ROUGE-N, chrF, SQuAD-style
span F1, an edit-distance battery, reward-model calibration (ECE) —
plus two published TRAINING-DATA quality operators: the Gopher
quality-rule battery (Rae et al. 2021) and exact duplicated-n-gram
span detection (the operator core of Lee et al. 2022's "Deduplicating
Training Data Makes Language Models Better").

Determinism contract (DETERMINISM.md): every metric is integer-first —
exact match/total counts — and each emitted float is a SINGLE IEEE
division (or sqrt, also correctly-rounded per IEEE-754) of exact
integers, so Spark and DuckDB produce bit-identical doubles. No
exp/log anywhere (the BLEU brevity penalty is designed out by making
every candidate longer than its reference; the geometric mean of two
precisions is one sqrt).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from wilayah_aceh_etl_spark.plans.registry import register
from wilayah_aceh_etl_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# Shared pair construction: candidate = first 18 words of doc p,
# reference = first 15 words of doc (p+1) % 150. Cross-doc pairing
# over a closed vocabulary gives realistic partial n-gram overlap;
# 18 > 15 keeps the BLEU brevity penalty at exactly 1 (c > r), which
# removes the only exp() in the BLEU formula.
# ---------------------------------------------------------------------------

_N_PAIRS = 150
_CAND_LEN = 18
_REF_LEN = 15


def _pairs_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _N_PAIRS)
        .select("doc_id", F.split("text", " ").alias("w"))
    )
    cand = d.select(
        F.col("doc_id").alias("pid"),
        F.slice("w", 1, _CAND_LEN).alias("cw"),
    )
    ref = d.select(
        ((F.col("doc_id") + _N_PAIRS - 1) % _N_PAIRS).alias("pid"),
        F.slice("w", 1, _REF_LEN).alias("rw"),
    )
    return cand.join(ref, "pid")


_PAIRS_SQL = f"""
d AS (
  SELECT doc_id, string_split(text, ' ') AS w
  FROM documents WHERE doc_id < {_N_PAIRS}
),
pairs AS (
  SELECT c.doc_id AS pid, c.w[1:{_CAND_LEN}] AS cw, r.w[1:{_REF_LEN}] AS rw
  FROM d c JOIN d r ON r.doc_id = (c.doc_id + 1) % {_N_PAIRS}
)
"""


def _bigrams(col: str):
    """1-based bigram list 'w[i] w[i+1]' from a word-array column."""
    return F.expr(
        f"transform(slice({col}, 1, size({col}) - 1),"
        f" (x, i) -> concat(x, ' ', element_at({col}, i + 2)))"
    )


# ---------------------------------------------------------------------------
# Corpus BLEU-2
# ---------------------------------------------------------------------------

_BLEU_ORACLE = (
    "WITH "
    + _PAIRS_SQL
    + """,
cu AS (
  SELECT pid, u AS g, CAST(COUNT(*) AS BIGINT) AS cc
  FROM (SELECT pid, unnest(cw) AS u FROM pairs) GROUP BY pid, u
),
ru AS (
  SELECT pid, u AS g, CAST(COUNT(*) AS BIGINT) AS rc
  FROM (SELECT pid, unnest(rw) AS u FROM pairs) GROUP BY pid, u
),
cb AS (
  SELECT pid, g, CAST(COUNT(*) AS BIGINT) AS cc
  FROM (
    SELECT pid, cw[i] || ' ' || cw[i + 1] AS g
    FROM pairs, LATERAL (SELECT unnest(range(1, len(cw))) AS i) t
  ) GROUP BY pid, g
),
rb AS (
  SELECT pid, g, CAST(COUNT(*) AS BIGINT) AS rc
  FROM (
    SELECT pid, rw[i] || ' ' || rw[i + 1] AS g
    FROM pairs, LATERAL (SELECT unnest(range(1, len(rw))) AS i) t
  ) GROUP BY pid, g
),
tot AS (
  SELECT CAST(SUM(len(cw)) AS BIGINT) AS t1,
         CAST(SUM(len(cw) - 1) AS BIGINT) AS t2
  FROM pairs
),
m1 AS (
  SELECT CAST(COALESCE(SUM(LEAST(cc, rc)), 0) AS BIGINT) AS m1
  FROM cu JOIN ru USING (pid, g)
),
m2 AS (
  SELECT CAST(COALESCE(SUM(LEAST(cc, rc)), 0) AS BIGINT) AS m2
  FROM cb JOIN rb USING (pid, g)
)
SELECT m1, t1, m2, t2,
       sqrt((CAST(m1 AS DOUBLE) / t1) * (CAST(m2 AS DOUBLE) / t2)) AS bleu2
FROM m1, m2, tot
"""
)


@register(
    "eval_bleu2_corpus",
    oracle=_BLEU_ORACLE,
    tags=("ext", "eval", "text", "bleu", "metric"),
    description="corpus-level clipped BLEU-2 with exact integer n-gram counts",
)
def eval_bleu2_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus BLEU-2 (Papineni et al. 2002) over 150 candidate/
    reference pairs: clipped modified n-gram precision for n=1,2
    (matched = sum over shared n-grams of min(candidate count,
    reference count) — the inner join IS the clip, since absent
    n-grams contribute min(x,0)=0), then sqrt(p1*p2). Every
    candidate (18 words) is longer than its reference (15), so the
    brevity penalty is identically 1 and the score needs no exp().
    The four count columns are exact BIGINTs; bleu2 is two IEEE
    divisions, one multiply, one sqrt — bit-identical cross-engine.

    Scale: n-gram counting is one explode + groupBy per side (the
    classic map-side-combinable shape); the clip join is on
    (pid, gram) — at 100 TB both sides partition by the same key, and
    the final 1-row reduce is a tree aggregate. Nothing is ever
    collected per-pair."""
    pairs = _pairs_df(spark, sf_dir)
    cu = (
        pairs.select("pid", F.explode("cw").alias("g"))
        .groupBy("pid", "g")
        .agg(F.count("*").alias("cc"))
    )
    ru = (
        pairs.select("pid", F.explode("rw").alias("g"))
        .groupBy("pid", "g")
        .agg(F.count("*").alias("rc"))
    )
    cb = (
        pairs.select("pid", F.explode(_bigrams("cw")).alias("g"))
        .groupBy("pid", "g")
        .agg(F.count("*").alias("cc"))
    )
    rb = (
        pairs.select("pid", F.explode(_bigrams("rw")).alias("g"))
        .groupBy("pid", "g")
        .agg(F.count("*").alias("rc"))
    )
    tot = pairs.agg(
        F.sum(F.size("cw")).cast("long").alias("t1"),
        F.sum(F.size("cw") - 1).cast("long").alias("t2"),
    )
    m1 = cu.join(ru, ["pid", "g"]).agg(
        F.coalesce(F.sum(F.least("cc", "rc")), F.lit(0))
        .cast("long")
        .alias("m1")
    )
    m2 = cb.join(rb, ["pid", "g"]).agg(
        F.coalesce(F.sum(F.least("cc", "rc")), F.lit(0))
        .cast("long")
        .alias("m2")
    )
    return (
        m1.crossJoin(F.broadcast(m2))
        .crossJoin(F.broadcast(tot))
        .select(
            "m1",
            "t1",
            "m2",
            "t2",
            F.sqrt(
                (F.col("m1").cast("double") / F.col("t1"))
                * (F.col("m2").cast("double") / F.col("t2"))
            ).alias("bleu2"),
        )
    )


# ---------------------------------------------------------------------------
# ROUGE-1 / ROUGE-2 per pair
# ---------------------------------------------------------------------------

_ROUGE_ORACLE = (
    "WITH "
    + _PAIRS_SQL
    + """,
cu AS (
  SELECT pid, u AS g, CAST(COUNT(*) AS BIGINT) AS cc
  FROM (SELECT pid, unnest(cw) AS u FROM pairs) GROUP BY pid, u
),
ru AS (
  SELECT pid, u AS g, CAST(COUNT(*) AS BIGINT) AS rc
  FROM (SELECT pid, unnest(rw) AS u FROM pairs) GROUP BY pid, u
),
cb AS (
  SELECT pid, g, CAST(COUNT(*) AS BIGINT) AS cc
  FROM (
    SELECT pid, cw[i] || ' ' || cw[i + 1] AS g
    FROM pairs, LATERAL (SELECT unnest(range(1, len(cw))) AS i) t
  ) GROUP BY pid, g
),
rb AS (
  SELECT pid, g, CAST(COUNT(*) AS BIGINT) AS rc
  FROM (
    SELECT pid, rw[i] || ' ' || rw[i + 1] AS g
    FROM pairs, LATERAL (SELECT unnest(range(1, len(rw))) AS i) t
  ) GROUP BY pid, g
),
m1 AS (
  SELECT pid, CAST(SUM(LEAST(cc, rc)) AS BIGINT) AS m1
  FROM cu JOIN ru USING (pid, g) GROUP BY pid
),
m2 AS (
  SELECT pid, CAST(SUM(LEAST(cc, rc)) AS BIGINT) AS m2
  FROM cb JOIN rb USING (pid, g) GROUP BY pid
),
lens AS (
  SELECT pid,
         CAST(len(cw) AS BIGINT) AS ct1,
         CAST(len(rw) AS BIGINT) AS rt1,
         CAST(len(cw) - 1 AS BIGINT) AS ct2,
         CAST(len(rw) - 1 AS BIGINT) AS rt2
  FROM pairs
)
SELECT pid,
       COALESCE(m1, 0) AS m1, ct1, rt1,
       COALESCE(m2, 0) AS m2, ct2, rt2,
       2.0 * COALESCE(m1, 0) / (ct1 + rt1) AS rouge1_f,
       2.0 * COALESCE(m2, 0) / (ct2 + rt2) AS rouge2_f
FROM lens LEFT JOIN m1 USING (pid) LEFT JOIN m2 USING (pid)
ORDER BY pid
"""
)


@register(
    "eval_rouge_scores",
    oracle=_ROUGE_ORACLE,
    tags=("ext", "eval", "text", "rouge", "metric"),
    description="per-pair ROUGE-1/ROUGE-2 F1 from exact clipped counts",
)
def eval_rouge_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-pair ROUGE-1 / ROUGE-2 (Lin 2004). The F1 uses the exact
    identity 2PR/(P+R) = 2m/(tc+tr) — with P = m/tc and R = m/tr the
    harmonic mean collapses to a SINGLE division of integers, so no
    intermediate float ever feeds another operation. Counts are the
    same clipped-overlap shape as eval_bleu2_corpus but kept per
    pair (summarization eval reports per-example scores).

    Scale: identical partitioning story to BLEU — everything keys on
    (pid, gram) then pid; the per-pair output keeps rows independent
    so 10^9 pairs is just a wider shuffle, no driver state."""
    pairs = _pairs_df(spark, sf_dir)

    def counts(col: str, out: str, gram_fn) -> DataFrame:
        return (
            pairs.select("pid", F.explode(gram_fn(col)).alias("g"))
            .groupBy("pid", "g")
            .agg(F.count("*").alias(out))
        )

    ident = lambda c: F.col(c)  # noqa: E731
    m1 = (
        counts("cw", "cc", ident)
        .join(counts("rw", "rc", ident), ["pid", "g"])
        .groupBy("pid")
        .agg(F.sum(F.least("cc", "rc")).cast("long").alias("m1"))
    )
    m2 = (
        counts("cw", "cc", _bigrams)
        .join(counts("rw", "rc", _bigrams), ["pid", "g"])
        .groupBy("pid")
        .agg(F.sum(F.least("cc", "rc")).cast("long").alias("m2"))
    )
    lens = pairs.select(
        "pid",
        F.size("cw").cast("long").alias("ct1"),
        F.size("rw").cast("long").alias("rt1"),
        (F.size("cw") - 1).cast("long").alias("ct2"),
        (F.size("rw") - 1).cast("long").alias("rt2"),
    )
    return (
        lens.join(m1, "pid", "left")
        .join(m2, "pid", "left")
        .select(
            "pid",
            F.coalesce("m1", F.lit(0)).alias("m1"),
            "ct1",
            "rt1",
            F.coalesce("m2", F.lit(0)).alias("m2"),
            "ct2",
            "rt2",
            (
                F.lit(2.0)
                * F.coalesce("m1", F.lit(0))
                / (F.col("ct1") + F.col("rt1"))
            ).alias("rouge1_f"),
            (
                F.lit(2.0)
                * F.coalesce("m2", F.lit(0))
                / (F.col("ct2") + F.col("rt2"))
            ).alias("rouge2_f"),
        )
        .orderBy("pid")
    )


# ---------------------------------------------------------------------------
# chrF2 per pair (character bigrams)
# ---------------------------------------------------------------------------

_CHRF_ORACLE = f"""
WITH d AS (
  SELECT doc_id, array_to_string(string_split(text, ' ')[1:10], ' ') AS s
  FROM documents WHERE doc_id < {_N_PAIRS}
),
pairs AS (
  SELECT c.doc_id AS pid, c.s AS cs, r.s AS rs
  FROM d c JOIN d r ON r.doc_id = (c.doc_id + 1) % {_N_PAIRS}
),
cg AS (
  SELECT pid, g, CAST(COUNT(*) AS BIGINT) AS cc
  FROM (
    SELECT pid, substring(cs, i, 2) AS g
    FROM pairs, LATERAL (SELECT unnest(range(1, length(cs))) AS i) t
  ) GROUP BY pid, g
),
rg AS (
  SELECT pid, g, CAST(COUNT(*) AS BIGINT) AS rc
  FROM (
    SELECT pid, substring(rs, i, 2) AS g
    FROM pairs, LATERAL (SELECT unnest(range(1, length(rs))) AS i) t
  ) GROUP BY pid, g
),
m AS (
  SELECT pid, CAST(SUM(LEAST(cc, rc)) AS BIGINT) AS m
  FROM cg JOIN rg USING (pid, g) GROUP BY pid
),
lens AS (
  SELECT pid,
         CAST(length(cs) - 1 AS BIGINT) AS tc,
         CAST(length(rs) - 1 AS BIGINT) AS tr
  FROM pairs
)
SELECT pid, COALESCE(m, 0) AS m, tc, tr,
       5.0 * COALESCE(m, 0) / (tc + 4 * tr) AS chrf2
FROM lens LEFT JOIN m USING (pid)
ORDER BY pid
"""


@register(
    "eval_chrf_scores",
    oracle=_CHRF_ORACLE,
    tags=("ext", "eval", "text", "chrf", "metric"),
    description="per-pair chrF2 from exact character-bigram counts",
)
def eval_chrf_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """chrF2 (Popovic 2015), the character-n-gram F-score used by WMT:
    with P = m/tc, R = m/tr and beta = 2, the F-score
    (1+4)PR/(R+4P) algebraically collapses to 5m/(tc+4tr) — again a
    single IEEE division of exact integers. Character bigrams come
    from the first 10 words of each side (spaces included, as chrF
    specifies for word-boundary signal).

    Scale: substring n-gram explosion multiplies rows by ~string
    length — the shuffle key (pid, gram) keeps it combinable, and at
    corpus scale the per-pair counting never crosses pairs."""
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _N_PAIRS)
        .select(
            "doc_id",
            F.array_join(F.slice(F.split("text", " "), 1, 10), " ").alias(
                "s"
            ),
        )
    )
    pairs = d.select(F.col("doc_id").alias("pid"), F.col("s").alias("cs")).join(
        d.select(
            ((F.col("doc_id") + _N_PAIRS - 1) % _N_PAIRS).alias("pid"),
            F.col("s").alias("rs"),
        ),
        "pid",
    )
    chargrams = lambda c: F.expr(  # noqa: E731
        f"transform(sequence(1, length({c}) - 1), i -> substring({c}, i, 2))"
    )
    cg = (
        pairs.select("pid", F.explode(chargrams("cs")).alias("g"))
        .groupBy("pid", "g")
        .agg(F.count("*").alias("cc"))
    )
    rg = (
        pairs.select("pid", F.explode(chargrams("rs")).alias("g"))
        .groupBy("pid", "g")
        .agg(F.count("*").alias("rc"))
    )
    m = (
        cg.join(rg, ["pid", "g"])
        .groupBy("pid")
        .agg(F.sum(F.least("cc", "rc")).cast("long").alias("m"))
    )
    lens = pairs.select(
        "pid",
        (F.length("cs") - 1).cast("long").alias("tc"),
        (F.length("rs") - 1).cast("long").alias("tr"),
    )
    return (
        lens.join(m, "pid", "left")
        .select(
            "pid",
            F.coalesce("m", F.lit(0)).alias("m"),
            "tc",
            "tr",
            (
                F.lit(5.0)
                * F.coalesce("m", F.lit(0))
                / (F.col("tc") + 4 * F.col("tr"))
            ).alias("chrf2"),
        )
        .orderBy("pid")
    )


# ---------------------------------------------------------------------------
# SQuAD-style span F1 + exact match
# ---------------------------------------------------------------------------

_SPAN_F1_ORACLE = """
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS w
  FROM documents WHERE doc_id < 150
),
spans AS (
  SELECT doc_id, w[4:8] AS gold, w[6:10] AS pred FROM d
),
gu AS (
  SELECT doc_id, u AS g, CAST(COUNT(*) AS BIGINT) AS gc
  FROM (SELECT doc_id, unnest(gold) AS u FROM spans) GROUP BY doc_id, u
),
pu AS (
  SELECT doc_id, u AS g, CAST(COUNT(*) AS BIGINT) AS pc
  FROM (SELECT doc_id, unnest(pred) AS u FROM spans) GROUP BY doc_id, u
),
m AS (
  SELECT doc_id, CAST(SUM(LEAST(gc, pc)) AS BIGINT) AS m
  FROM gu JOIN pu USING (doc_id, g) GROUP BY doc_id
)
SELECT s.doc_id,
       COALESCE(m, 0) AS overlap,
       CAST(len(pred) AS BIGINT) AS len_pred,
       CAST(len(gold) AS BIGINT) AS len_gold,
       2.0 * COALESCE(m, 0) / (len(pred) + len(gold)) AS f1,
       CAST(CASE WHEN pred = gold THEN 1 ELSE 0 END AS INTEGER) AS em
FROM spans s LEFT JOIN m ON s.doc_id = m.doc_id
ORDER BY s.doc_id
"""


@register(
    "eval_span_f1_qa",
    oracle=_SPAN_F1_ORACLE,
    tags=("ext", "eval", "text", "qa", "metric"),
    description="SQuAD-style token-multiset span F1 + exact match per doc",
)
def eval_span_f1_qa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQuAD answer-span metric (Rajpurkar et al. 2016):
    token-MULTISET overlap F1 between a predicted span (words 6-10)
    and a gold span (words 4-8) of the same document, plus the
    exact-match flag (whole-array equality — order matters for EM,
    not for F1, and the repeated-word corpus makes the multiset clip
    do real work). F1 = 2m/(|pred|+|gold|), one IEEE division.

    Scale: per-example independence — group keys are doc_id; EM is a
    narrow array comparison at the scan."""
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 150)
        .select("doc_id", F.split("text", " ").alias("w"))
    )
    spans = d.select(
        "doc_id",
        F.slice("w", 4, 5).alias("gold"),
        F.slice("w", 6, 5).alias("pred"),
    )
    gu = (
        spans.select("doc_id", F.explode("gold").alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count("*").alias("gc"))
    )
    pu = (
        spans.select("doc_id", F.explode("pred").alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count("*").alias("pc"))
    )
    m = (
        gu.join(pu, ["doc_id", "g"])
        .groupBy("doc_id")
        .agg(F.sum(F.least("gc", "pc")).cast("long").alias("m"))
    )
    return (
        spans.join(m, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("m", F.lit(0)).alias("overlap"),
            F.size("pred").cast("long").alias("len_pred"),
            F.size("gold").cast("long").alias("len_gold"),
            (
                F.lit(2.0)
                * F.coalesce("m", F.lit(0))
                / (F.size("pred") + F.size("gold"))
            ).alias("f1"),
            F.when(F.col("pred") == F.col("gold"), 1)
            .otherwise(0)
            .cast("int")
            .alias("em"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Edit-distance battery over the corpus vocabulary
# ---------------------------------------------------------------------------

_LEVENSHTEIN_ORACLE = """
WITH vocab AS (
  SELECT DISTINCT u AS w
  FROM (SELECT unnest(string_split(lower(text), ' ')) AS u FROM documents)
  WHERE length(u) >= 1
),
prs AS (
  SELECT a.w AS w1, b.w AS w2, levenshtein(a.w, b.w) AS dist
  FROM vocab a JOIN vocab b ON a.w < b.w
)
SELECT dist,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       MIN(w1 || '/' || w2) AS example_pair,
       CAST(SUM(length(w1) + length(w2)) AS BIGINT) AS sum_lens
FROM prs
GROUP BY dist
ORDER BY dist
"""


@register(
    "eval_levenshtein_battery",
    oracle=_LEVENSHTEIN_ORACLE,
    tags=("ext", "eval", "text", "editdistance", "metric"),
    description="pairwise vocab Levenshtein distance distribution",
)
def eval_levenshtein_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance histogram over all unordered pairs of the
    corpus vocabulary — the primitive under fuzzy matching, OCR/typo
    tolerance, and near-duplicate key joins. Both engines run their
    native dynamic-programming levenshtein (exact integers), and the
    distribution plus a deterministic example pair (lexicographic
    MIN) hash-match.

    Scale: the quadratic blowup is over the DISTINCT VOCABULARY (the
    aggregated small relation), never the corpus — the standard trick
    for fuzzy joins: dedupe to terms, pair terms, then semi-join back.
    The vocab self-join broadcasts its smaller side."""
    vocab = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .filter(F.length("w") >= 1)
        .distinct()
    )
    a = vocab.select(F.col("w").alias("w1"))
    b = vocab.select(F.col("w").alias("w2"))
    prs = a.join(F.broadcast(b), F.col("w1") < F.col("w2")).select(
        "w1", "w2", F.levenshtein("w1", "w2").alias("dist")
    )
    return (
        prs.groupBy("dist")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.min(F.concat_ws("/", "w1", "w2")).alias("example_pair"),
            F.sum(F.length("w1") + F.length("w2"))
            .cast("long")
            .alias("sum_lens"),
        )
        .orderBy("dist")
    )


# ---------------------------------------------------------------------------
# Reward-model calibration: expected calibration error, integer-exact
# ---------------------------------------------------------------------------

_ECE_ORACLE = """
WITH preds AS (
  SELECT o_orderkey AS k,
         (o_orderkey * 37) % 1000 AS milli_conf,
         CASE WHEN (o_orderkey * 91) % 1000 < (o_orderkey * 37) % 1000
              THEN 1 ELSE 0 END AS correct
  FROM orders
),
bins AS (
  SELECT milli_conf // 100 AS bin,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(correct) AS BIGINT) AS sum_correct,
         CAST(SUM(milli_conf) AS BIGINT) AS sum_milli
  FROM preds GROUP BY bin
),
tot AS (
  SELECT CAST(SUM(ABS(1000 * sum_correct - sum_milli)) AS BIGINT)
           AS gap_total,
         CAST(SUM(n) AS BIGINT) AS n_total
  FROM bins
)
SELECT bin, n, sum_correct, sum_milli,
       CAST(ABS(1000 * sum_correct - sum_milli) AS BIGINT) AS gap_scaled,
       CAST(gap_total AS DOUBLE) / (1000 * n_total) AS ece
FROM bins, tot
ORDER BY bin
"""


@register(
    "eval_calibration_ece",
    oracle=_ECE_ORACLE,
    tags=("ext", "eval", "ml", "calibration", "metric"),
    description="expected calibration error with an exact integer numerator",
)
def eval_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reward-model / classifier calibration (Guo et al. 2017): bin
    predictions by confidence decile and measure ECE =
    sum_b (n_b/N)|acc_b - conf_b|. The per-bin gap has the exact
    integer form |1000*sum_correct - sum_milli_conf| (acc_b - conf_b
    = (1000*sum_correct - sum_milli)/(1000*n_b), and the n_b/N weight
    cancels the n_b), so ECE = sum(gaps)/(1000N) — integer numerator,
    ONE division. Confidences are deterministic milli-probabilities
    from the orderkey; correctness is Bernoulli(conf) by construction
    (correct iff an independent hash falls below the confidence), so
    the model is near-calibrated and the per-bin gaps are small but
    non-zero — the statistic measures something real.

    Scale: one groupBy over 10 bins with map-side combine; the 1-row
    total broadcasts back. No row ever leaves its partition except
    as a 10-key partial aggregate."""
    preds = load_table(spark, sf_dir, "orders").select(
        (F.col("o_orderkey") * 37 % 1000).alias("milli_conf"),
        F.when(
            F.col("o_orderkey") * 91 % 1000
            < F.col("o_orderkey") * 37 % 1000,
            1,
        )
        .otherwise(0)
        .alias("correct"),
    )
    bins = preds.groupBy(
        (F.col("milli_conf") / 100).cast("long").alias("bin")
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("correct").cast("long").alias("sum_correct"),
        F.sum("milli_conf").cast("long").alias("sum_milli"),
    )
    tot = bins.agg(
        F.sum(F.abs(F.lit(1000) * F.col("sum_correct") - F.col("sum_milli")))
        .cast("long")
        .alias("gap_total"),
        F.sum("n").cast("long").alias("n_total"),
    )
    return (
        bins.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            "n",
            "sum_correct",
            "sum_milli",
            F.abs(F.lit(1000) * F.col("sum_correct") - F.col("sum_milli"))
            .cast("long")
            .alias("gap_scaled"),
            (
                F.col("gap_total").cast("double")
                / (F.lit(1000) * F.col("n_total"))
            ).alias("ece"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# Gopher quality-rule battery (Rae et al. 2021)
# ---------------------------------------------------------------------------

_GOPHER_ORACLE = """
WITH per_doc AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS wc,
         length(text) - len(string_split(text, ' ')) + 1 AS chars,
         len(list_filter(string_split(text, ' '),
                         x -> regexp_matches(x, '^[a-z]+$'))) AS alpha_wc,
         len(list_filter(string_split(text, ' '),
                         x -> x IN ('the', 'be', 'to', 'of',
                                    'and', 'that', 'have', 'with')))
           AS stop_wc
  FROM documents
),
top_word AS (
  SELECT doc_id, MAX(c) AS top_cnt
  FROM (
    SELECT doc_id, u, COUNT(*) AS c
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS u
          FROM documents)
    GROUP BY doc_id, u
  )
  GROUP BY doc_id
),
flags AS (
  SELECT p.doc_id,
         CASE WHEN wc BETWEEN 50 AND 100000 THEN 1 ELSE 0 END AS r_wc,
         CASE WHEN 3 * wc <= chars AND chars <= 10 * wc
              THEN 1 ELSE 0 END AS r_mwl,
         CASE WHEN 5 * alpha_wc >= 4 * wc THEN 1 ELSE 0 END AS r_alpha,
         CASE WHEN stop_wc >= 2 THEN 1 ELSE 0 END AS r_stop,
         CASE WHEN 5 * top_cnt <= wc THEN 1 ELSE 0 END AS r_rep
  FROM per_doc p JOIN top_word t USING (doc_id)
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(r_wc) AS BIGINT) AS pass_word_count,
       CAST(SUM(r_mwl) AS BIGINT) AS pass_mean_word_len,
       CAST(SUM(r_alpha) AS BIGINT) AS pass_alpha_ratio,
       CAST(SUM(r_stop) AS BIGINT) AS pass_stopwords,
       CAST(SUM(r_rep) AS BIGINT) AS pass_repetition,
       CAST(SUM(CASE WHEN r_wc + r_mwl + r_alpha + r_stop + r_rep = 5
                     THEN 1 ELSE 0 END) AS BIGINT) AS pass_all
FROM flags
"""


@register(
    "text_gopher_quality_rules",
    oracle=_GOPHER_ORACLE,
    tags=("ext", "text", "quality", "gopher", "filter"),
    description="Gopher quality-rule battery with cross-multiplied ratios",
)
def text_gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The published Gopher quality filters (Rae et al. 2021, table
    A1) as one battery: word-count bounds [50, 100000], mean word
    length in [3, 10], >=80% alphabetic words, >=2 stopwords, and a
    repetition rule (top word <=20% of tokens). Every ratio threshold
    is CROSS-MULTIPLIED into integer form (3*wc <= chars, not
    chars/wc >= 3.0) so no float exists anywhere — the exactness
    device the rest of the engine uses for ratio gates. chars counts
    non-space characters via the single-space-join identity
    length(text) - (wc - 1).

    Scale: per-doc flags are scan-local (the top-word rule is one
    (doc, word) combine), and the battery reduces to a single row —
    the shape of a corpus-wide data-quality report at 100 TB. This
    query IS the streaming monitor's batch_quality_summary over the
    static corpus — one aggregation, one source of truth."""
    from wilayah_aceh_etl_spark.streaming.quality_monitor import (
        batch_quality_summary,
    )

    docs = load_table(spark, sf_dir, "documents")
    return batch_quality_summary(docs)


# ---------------------------------------------------------------------------
# Exact duplicated-n-gram spans (Lee et al. 2022, operator core)
# ---------------------------------------------------------------------------

_DUP_SPANS_ORACLE = """
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS w
  FROM documents WHERE doc_id < 250
),
grams AS (
  SELECT doc_id, i,
         w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
           || ' ' || w[i+4] AS g
  FROM d, LATERAL (SELECT unnest(range(1, len(w) - 3)) AS i) t
),
dup_g AS (
  SELECT g FROM grams GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2
),
hits AS (
  SELECT doc_id, i, i + 4 AS j
  FROM grams JOIN dup_g USING (g)
),
islands AS (
  SELECT doc_id, i, j,
         CASE WHEN i > COALESCE(MAX(j) OVER (
                PARTITION BY doc_id ORDER BY i
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS is_start
  FROM hits
),
numbered AS (
  SELECT doc_id, i, j,
         SUM(is_start) OVER (
           PARTITION BY doc_id ORDER BY i
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM islands
),
spans AS (
  SELECT doc_id, island,
         MIN(i) AS span_start, MAX(j) AS span_end
  FROM numbered GROUP BY doc_id, island
)
SELECT s.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_dup_spans,
       CAST(SUM(span_end - span_start + 1) AS BIGINT) AS dup_tokens,
       CAST(MIN(len(w)) AS BIGINT) AS n_words
FROM spans s JOIN d ON s.doc_id = d.doc_id
GROUP BY s.doc_id
ORDER BY s.doc_id
"""


@register(
    "text_duplicate_ngram_spans",
    oracle=_DUP_SPANS_ORACLE,
    tags=("ext", "text", "dedup", "substring", "spans"),
    description="maximal duplicated 5-gram spans per doc (exact substring dedup)",
)
def text_duplicate_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The operator core of EXACT SUBSTRING deduplication (Lee et
    al. 2022): find every 5-gram shared by >=2 distinct documents,
    then merge each document's overlapping duplicated positions into
    MAXIMAL spans (the island-and-gap pattern: a hit at i covering
    [i, i+4] starts a new island iff i exceeds the running max end of
    all earlier hits) and report per-doc span count and duplicated
    token mass. This is the n-gram-join formulation; the paper's
    suffix-array formulation finds arbitrary-length matches, but at
    cluster scale the gram-join is the shape that partitions — grams
    shard by hash, the dup set is the aggregated small side, and the
    span merge is a per-doc sorted window (one shuffle by doc).

    Integer-only output; window frames are identical in Spark and
    DuckDB (ROWS UNBOUNDED PRECEDING .. 1 PRECEDING running max)."""
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 250)
        .select("doc_id", F.split("text", " ").alias("w"))
    )
    grams = d.select(
        "doc_id",
        F.posexplode(
            F.expr(
                "transform(slice(w, 1, greatest(size(w) - 4, 0)),"
                " (x, k) -> struct(k + 1 as i,"
                " concat_ws(' ', x, element_at(w, k + 2),"
                " element_at(w, k + 3), element_at(w, k + 4),"
                " element_at(w, k + 5)) as g))"
            )
        ).alias("_p", "s"),
    ).select("doc_id", F.col("s.i").alias("i"), F.col("s.g").alias("g"))
    dup_g = (
        grams.groupBy("g")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("g")
    )
    hits = grams.join(dup_g, "g").select(
        "doc_id", "i", (F.col("i") + 4).alias("j")
    )
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    numbered = hits.withColumn(
        "is_start",
        F.when(
            F.col("i") > F.coalesce(F.max("j").over(w_prev), F.lit(-1)), 1
        ).otherwise(0),
    ).withColumn("island", F.sum("is_start").over(w_run))
    spans = numbered.groupBy("doc_id", "island").agg(
        F.min("i").alias("span_start"), F.max("j").alias("span_end")
    )
    return (
        spans.join(d, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_dup_spans"),
            F.sum(F.col("span_end") - F.col("span_start") + 1)
            .cast("long")
            .alias("dup_tokens"),
            F.min(F.size("w")).cast("long").alias("n_words"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Haar subband audio codec round-trip (transform-coding class)
# ---------------------------------------------------------------------------

_HAAR_ORACLE = """
WITH m AS (
  SELECT doc_id AS media_id, 64 + 4 * (doc_id % 16) AS n
  FROM documents WHERE doc_id < 140
),
quads AS (
  SELECT media_id, n, j,
         ((media_id * 7 + (4 * j + 0) * 37) % 4096) - 2048 AS x0,
         ((media_id * 7 + (4 * j + 1) * 37) % 4096) - 2048 AS x1,
         ((media_id * 7 + (4 * j + 2) * 37) % 4096) - 2048 AS x2,
         ((media_id * 7 + (4 * j + 3) * 37) % 4096) - 2048 AS x3
  FROM m, LATERAL (SELECT unnest(range(0, n // 4)) AS j) t
),
lift AS (
  SELECT media_id, n, x0, x1, x2, x3,
         x0 - x1 AS d1a, x2 - x3 AS d1b,
         x1 + (x0 - x1) // 2 AS s1a, x3 + (x2 - x3) // 2 AS s1b
  FROM quads
),
l2 AS (
  SELECT *, s1b + (s1a - s1b) // 2 AS s2,
         4 * ((s1a - s1b) // 4) AS d2q,
         8 * (d1a // 8) AS d1aq, 8 * (d1b // 8) AS d1bq
  FROM lift
),
rec AS (
  SELECT *, (s2 - d2q // 2) + d2q AS s1ar, s2 - d2q // 2 AS s1br
  FROM l2
),
px AS (
  SELECT media_id, n, x0, x1, x2, x3, d1aq, d1bq,
         (s1ar - d1aq // 2) + d1aq AS r0, s1ar - d1aq // 2 AS r1,
         (s1br - d1bq // 2) + d1bq AS r2, s1br - d1bq // 2 AS r3
  FROM rec
)
SELECT media_id,
       CAST(n AS INTEGER) AS n_samples,
       CAST(SUM(r0 + r1 + r2 + r3) AS BIGINT) AS sum_decoded,
       CAST(MAX(GREATEST(ABS(r0 - x0), ABS(r1 - x1),
                         ABS(r2 - x2), ABS(r3 - x3))) AS INTEGER)
         AS max_abs_err,
       CAST(SUM(CASE WHEN d1aq = 0 THEN 1 ELSE 0 END
              + CASE WHEN d1bq = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS zero_hf1,
       CAST(8 + 2 * n AS INTEGER) AS payload_bytes
FROM px
GROUP BY media_id, n
ORDER BY media_id
"""


@register(
    "multimodal_haar_subband_codec_stats",
    oracle=_HAAR_ORACLE,
    tags=("ext", "multimodal", "audio", "codec", "subband", "wavelet"),
    description="2-level integer-Haar subband codec round-trip, loss exact",
)
def multimodal_haar_subband_codec_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The SUBBAND/WAVELET transform-coding class (MPEG audio layers,
    JPEG2000's integer 5/3 path) as a real codec: two exactly-
    invertible integer-Haar (S-transform) lifting levels, coarse band
    stored exact, detail bands deadzone-quantized (q*trunc(d/q), the
    H.264 quantizer), packed to a bitstream and fully decoded. All
    divisions TRUNCATE toward zero to match SQL `//`, so the oracle
    replays the exact transform -> quantize -> inverse chain and the
    codec's true loss hash-matches per stream. zero_hf1 counts
    detail coefficients killed by the deadzone — the sparsity a real
    entropy coder would exploit.

    Scale: streams are independent rows through one Arrow batch; the
    per-stream transform is O(n) with no cross-stream state — the
    same parallel axis as JPEG restart segments and ADPCM streams."""
    from wilayah_aceh_etl_spark.operators import multimodal as M

    schema = (
        "media_id long, n_samples int, sum_decoded long, "
        "max_abs_err int, zero_hf1 long, payload_bytes int"
    )

    def batches(it):
        import pandas as pd

        for pdf in it:
            rows = []
            for mid in (int(v) for v in pdf["_mid"]):
                n = 64 + 4 * (mid % 16)
                orig = [
                    ((mid * 7 + k * 37) % 4096) - 2048 for k in range(n)
                ]
                p = M.haar_subband_encode(orig, 8, 4)
                dec = M.haar_subband_decode(p)
                nq = n // 2
                dq1_zero = sum(
                    1
                    for i in range(nq)
                    if abs(orig[2 * i] - orig[2 * i + 1]) < 8
                )
                rows.append(
                    (
                        mid,
                        n,
                        sum(dec),
                        max(abs(d - o) for d, o in zip(dec, orig)),
                        dq1_zero,
                        len(p),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "n_samples", "sum_decoded",
                    "max_abs_err", "zero_hf1", "payload_bytes",
                ],
            )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 140)
    return (
        docs.select(F.col("doc_id").cast("long").alias("_mid"))
        .mapInPandas(batches, schema)
        .orderBy("media_id")
    )


# ---------------------------------------------------------------------------
# Motion-compensated video codec round-trip (I/P-frame class)
# ---------------------------------------------------------------------------

_VIDEO_MC_ORACLE = """
WITH m AS (
  SELECT doc_id AS media_id FROM documents WHERE doc_id < 100
),
lattice AS (
  SELECT media_id,
         CAST(SUM((u * 24 + y * 7 + media_id * 3) % 200) AS BIGINT)
           AS gsum
  FROM m,
       LATERAL (SELECT unnest(range(0, 32)) AS u) a,
       LATERAL (SELECT unnest(range(0, 16)) AS y) b
  GROUP BY media_id
),
st AS (
  SELECT media_id, gsum,
         5 + ((media_id + 1) % 2) AS dd1,
         5 + ((media_id + 2) % 2) AS dd2,
         5 + ((media_id + 3) % 2) AS dd3,
         5 + ((media_id + 4) % 2) AS dd4
  FROM lattice
),
e1c AS (SELECT *, dd1 % 4 AS e1 FROM st),
e2c AS (SELECT *, (dd2 + e1) % 4 AS e2 FROM e1c),
e3c AS (SELECT *, (dd3 + e2) % 4 AS e3 FROM e2c),
e4c AS (SELECT *, (dd4 + e3) % 4 AS e4 FROM e3c)
SELECT media_id,
       CAST(5 AS INTEGER) AS n_frames,
       CAST(gsum + 512 * (dd1 + dd2 + dd3 + dd4 - e4) AS BIGINT)
         AS sum_decoded_last,
       CAST(512 * (e1 + e2 + e3 + e4) AS BIGINT) AS total_abs_err,
       CAST(32 AS INTEGER) AS mv_match_blocks,
       CAST(2600 AS INTEGER) AS payload_bytes
FROM e4c
ORDER BY media_id
"""


@register(
    "multimodal_video_mc_codec_stats",
    oracle=_VIDEO_MC_ORACLE,
    tags=("ext", "multimodal", "video", "codec", "motion"),
    description="I/P motion-compensated video codec round-trip vs closed form",
)
def multimodal_video_mc_codec_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """A REAL motion-compensated video codec through the engine — the
    I/P-frame architecture of MPEG-class coding: raw intra frame,
    then per 8x8 block an exhaustive SAD search over horizontal
    motion candidates against the RECONSTRUCTED previous frame
    (closed-loop prediction), deadzone-quantized residuals, packed
    bitstream, full decode. Content is a 32x16 panning gradient
    (2 px/frame, toroidal) with per-frame brightness steps of 5 or 6,
    so the true motion provably wins every SAD comparison (gradient
    step 24 vs max residual 9 per pixel) and the only loss is the
    brightness residual's quantization error — a UNIFORM scalar whose
    recursion e_t = (delta_t + e_{t-1}) mod 4 the oracle replays in
    four chained expressions. mv_match_blocks counts blocks whose
    DECODED motion vector equals the true pan — parsed back from the
    bitstream, so a broken search or a broken serializer both fail
    the hash. Everything else (frame sums, total error, payload
    size) is decode-derived on the Spark side and closed-form on the
    oracle side.

    Scale: videos are independent rows (one mapInPandas batch each);
    within a video the P-frame chain is inherently sequential —
    the parallel axis is the video count, exactly like the engine's
    other sequential-state codecs (ADPCM, JPEG DC chains)."""
    from wilayah_aceh_etl_spark.operators import multimodal as M

    schema = (
        "media_id long, n_frames int, sum_decoded_last long, "
        "total_abs_err long, mv_match_blocks int, payload_bytes int"
    )
    W, H, FR = 32, 16, 5

    def batches(it):
        import pandas as pd

        for pdf in it:
            rows = []
            for mid in (int(v) for v in pdf["_mid"]):
                frames = []
                bright = 0
                for t in range(FR):
                    if t > 0:
                        bright += 5 + ((mid + t) % 2)
                    frames.append(
                        [
                            ((((x - 2 * t - mid) % W) * 24 + y * 7
                              + mid * 3) % 200) + bright
                            for y in range(H)
                            for x in range(W)
                        ]
                    )
                p = M.video_mc_encode(frames, W, H)
                w, h, dec = M.video_mc_decode(p)
                tot_err = sum(
                    abs(a - b)
                    for t in range(FR)
                    for a, b in zip(dec[t], frames[t])
                )
                off = 8 + W * H
                nb = (W // 8) * (H // 8)
                mv2 = 0
                for _t in range(1, FR):
                    for _b in range(nb):
                        mv2 += int(p[off] == 2)
                        off += 1 + 64
                rows.append(
                    (
                        mid, len(dec), sum(dec[FR - 1]),
                        tot_err, mv2, len(p),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "n_frames", "sum_decoded_last",
                    "total_abs_err", "mv_match_blocks", "payload_bytes",
                ],
            )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return (
        docs.select(F.col("doc_id").cast("long").alias("_mid"))
        .mapInPandas(batches, schema)
        .orderBy("media_id")
    )


# ---------------------------------------------------------------------------
# Exact AUC-ROC via the cumulative rank-free form
# ---------------------------------------------------------------------------

_AUC_ORACLE = """
WITH preds AS (
  SELECT (o_orderkey * 37) % 1000 AS milli,
         CASE WHEN (o_orderkey * 91) % 1000 < (o_orderkey * 37) % 1000
              THEN 1 ELSE 0 END AS label
  FROM orders
),
levels AS (
  SELECT milli,
         CAST(SUM(label) AS BIGINT) AS n_pos,
         CAST(SUM(1 - label) AS BIGINT) AS n_neg
  FROM preds GROUP BY milli
),
cum AS (
  SELECT milli, n_pos, n_neg,
         COALESCE(SUM(n_neg) OVER (
           ORDER BY milli
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cumneg_lower
  FROM levels
)
SELECT CAST(SUM(n_pos) AS BIGINT) AS n_pos,
       CAST(SUM(n_neg) AS BIGINT) AS n_neg,
       CAST(SUM(2 * n_pos * cumneg_lower + n_pos * n_neg) AS BIGINT) AS u2,
       CAST(SUM(2 * n_pos * cumneg_lower + n_pos * n_neg) AS DOUBLE)
         / (2.0 * SUM(n_pos) * SUM(n_neg)) AS auc
FROM cum
"""


@register(
    "eval_auc_roc_exact",
    oracle=_AUC_ORACLE,
    tags=("ext", "eval", "ml", "auc", "metric"),
    description="exact AUC-ROC with tie handling, integer Mann-Whitney U",
)
def eval_auc_roc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact AUC-ROC as the normalized Mann-Whitney U statistic,
    computed WITHOUT per-row ranking: group predictions into distinct
    score levels, then one ordered pass over the levels accumulates
    2U = sum(2*n_pos_l*cumneg_below + n_pos_l*n_neg_l) — the
    pos-beats-neg pairs plus half-credit ties, kept doubled so every
    intermediate is an exact integer. AUC = U2/(2*P*N), one IEEE
    division. Same prediction stream as eval_calibration_ece (labels
    are Bernoulli(conf) by construction), so AUC lands meaningfully
    above 0.5.

    Scale: the quadratic pair count never materializes — the level
    relation is <=1000 rows regardless of input size (the window runs
    over an AGGREGATED relation, which is why the single-partition
    sort is safe), and the per-level reduce is map-side combinable."""
    preds = load_table(spark, sf_dir, "orders").select(
        (F.col("o_orderkey") * 37 % 1000).alias("milli"),
        F.when(
            F.col("o_orderkey") * 91 % 1000
            < F.col("o_orderkey") * 37 % 1000,
            1,
        )
        .otherwise(0)
        .alias("label"),
    )
    levels = preds.groupBy("milli").agg(
        F.sum("label").cast("long").alias("n_pos"),
        F.sum(1 - F.col("label")).cast("long").alias("n_neg"),
    )
    w = Window.orderBy("milli").rowsBetween(Window.unboundedPreceding, -1)
    cum = levels.withColumn(
        "cumneg_lower", F.coalesce(F.sum("n_neg").over(w), F.lit(0))
    )
    u2 = (
        F.lit(2) * F.col("n_pos") * F.col("cumneg_lower")
        + F.col("n_pos") * F.col("n_neg")
    )
    return cum.agg(
        F.sum("n_pos").cast("long").alias("n_pos"),
        F.sum("n_neg").cast("long").alias("n_neg"),
        F.sum(u2).cast("long").alias("u2"),
        (
            F.sum(u2).cast("double")
            / (F.lit(2.0) * F.sum("n_pos") * F.sum("n_neg"))
        ).alias("auc"),
    )


# ---------------------------------------------------------------------------
# Retrieval MRR + hits@k over a per-query ranking
# ---------------------------------------------------------------------------

# lcm(1..20): makes sum of reciprocal ranks an exact integer
_MRR_LCM = 232792560

_MRR_ORACLE = f"""
WITH q AS (
  SELECT doc_id AS qid FROM documents WHERE doc_id < 100
),
cand AS (
  SELECT qid, c,
         (qid * 31 + c * 17) % 1000 AS score,
         CASE WHEN c = (qid * 13) % 20 THEN 1 ELSE 0 END AS rel
  FROM q, LATERAL (SELECT unnest(range(0, 20)) AS c) t
),
ranked AS (
  SELECT qid, c, rel,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, c)
           AS rnk
  FROM cand
),
hit AS (
  SELECT qid, rnk FROM ranked WHERE rel = 1
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(SUM(CASE WHEN rnk <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS hits_1,
       CAST(SUM(CASE WHEN rnk <= 5 THEN 1 ELSE 0 END) AS BIGINT) AS hits_5,
       CAST(SUM(CASE WHEN rnk <= 10 THEN 1 ELSE 0 END) AS BIGINT)
         AS hits_10,
       CAST(SUM({_MRR_LCM} // rnk) AS BIGINT) AS rr_scaled,
       CAST(SUM({_MRR_LCM} // rnk) AS DOUBLE)
         / ({_MRR_LCM}.0 * COUNT(*)) AS mrr
FROM hit
"""


@register(
    "eval_mrr_hits_at_k",
    oracle=_MRR_ORACLE,
    tags=("ext", "eval", "retrieval", "mrr", "metric"),
    description="MRR + hits@k with reciprocal ranks in exact lcm units",
)
def eval_mrr_hits_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval eval: mean reciprocal rank and hits@{1,5,10} over
    100 queries x 20 ranked candidates. The ranking is a real
    per-query window (ROW_NUMBER over score DESC with a
    deterministic candidate tie-break); the relevant item's rank
    feeds MRR in units of lcm(1..20) = 232792560, so the SUM of
    reciprocal ranks is an exact integer and mrr is one IEEE
    division. hits@k are plain integer counts.

    Scale: the window partitions by query — unbounded query counts
    parallelize; candidate lists are bounded by construction (top-k
    retrieval output), so no per-query state exceeds k rows."""
    q = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 100)
        .select(F.col("doc_id").alias("qid"))
    )
    cand = q.select(
        "qid", F.explode(F.sequence(F.lit(0), F.lit(19))).alias("c")
    ).select(
        "qid",
        "c",
        ((F.col("qid") * 31 + F.col("c") * 17) % 1000).alias("score"),
        F.when(F.col("c") == (F.col("qid") * 13) % 20, 1)
        .otherwise(0)
        .alias("rel"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("c"))
    hit = (
        cand.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rel") == 1)
        .select("qid", "rnk")
    )
    return hit.agg(
        F.count("*").cast("long").alias("n_queries"),
        F.sum(F.when(F.col("rnk") <= 1, 1).otherwise(0))
        .cast("long")
        .alias("hits_1"),
        F.sum(F.when(F.col("rnk") <= 5, 1).otherwise(0))
        .cast("long")
        .alias("hits_5"),
        F.sum(F.when(F.col("rnk") <= 10, 1).otherwise(0))
        .cast("long")
        .alias("hits_10"),
        F.sum(F.expr(f"{_MRR_LCM} div rnk")).cast("long").alias("rr_scaled"),
        (
            F.sum(F.expr(f"{_MRR_LCM} div rnk")).cast("double")
            / (F.lit(float(_MRR_LCM)) * F.count("*"))
        ).alias("mrr"),
    )


# ---------------------------------------------------------------------------
# Quantized GAE: the RL advantage recursion as a Catalyst fold
# ---------------------------------------------------------------------------

_GAE_ORACLE = """
WITH m AS (
  SELECT doc_id AS tid, 10 + doc_id % 6 AS t_len
  FROM documents WHERE doc_id < 80
),
rw AS (
  SELECT tid, t_len,
         list_transform(range(0, t_len),
                        t -> ((tid * 7 + t * 11) % 21) - 10) AS r
  FROM m
),
adv AS (
  SELECT tid, t_len,
         list_transform(range(1, t_len + 1),
           i -> list_reduce(list_reverse(r[i:t_len]),
                            (acc, x) -> x + (acc * 3) // 4)) AS a
  FROM rw
)
SELECT tid,
       CAST(t_len AS INTEGER) AS n_steps,
       CAST(a[1] AS BIGINT) AS a0,
       CAST(list_aggregate(a, 'sum') AS BIGINT) AS adv_sum,
       CAST(list_aggregate(a, 'max') AS BIGINT) AS adv_max,
       CAST(list_aggregate(a, 'min') AS BIGINT) AS adv_min
FROM adv
ORDER BY tid
"""


@register(
    "ml_gae_quantized_advantages",
    oracle=_GAE_ORACLE,
    tags=("ext", "ml", "rl", "gae", "sequential"),
    description="quantized GAE advantage recursion as a pure Catalyst fold",
)
def ml_gae_quantized_advantages(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Generalized Advantage Estimation (Schulman et al. 2016), the
    advantage estimator of PPO-family RLHF, in the engine's
    quantized-exact form: A_t = r_t + trunc(3*A_{t+1}/4) — a
    gamma*lambda = 3/4 discount with TRUNCATING division so every
    advantage is an exact integer (Spark `div` and DuckDB `//` agree
    on truncation toward zero; DETERMINISM.md). The backward
    recursion is expressed as a higher-order AGGREGATE fold over the
    reversed reward suffix — pure Catalyst, no UDF, no Python loop —
    one fold per step giving the full advantage sequence.

    Scale: trajectories are rows; the O(T^2) suffix folds are
    row-local expression evaluation over bounded horizons (T<=15
    here; real rollouts are bounded by the context window), so the
    op is embarrassingly parallel with zero shuffle beyond the scan."""
    m = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 80)
        .select(
            F.col("doc_id").alias("tid"),
            (10 + F.col("doc_id") % 6).cast("int").alias("t_len"),
        )
    )
    adv = m.withColumn(
        "r",
        F.expr(
            "transform(sequence(0, t_len - 1),"
            " t -> CAST(((tid * 7 + t * 11) % 21) - 10 AS BIGINT))"
        ),
    ).withColumn(
        "a",
        F.expr(
            "transform(sequence(1, t_len),"
            " i -> aggregate(reverse(slice(r, i, t_len - i + 1)),"
            " CAST(0 AS BIGINT), (acc, x) -> x + ((acc * 3) div 4)))"
        ),
    )
    return adv.select(
        "tid",
        F.col("t_len").alias("n_steps"),
        F.element_at("a", 1).cast("long").alias("a0"),
        F.expr(
            "aggregate(a, CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        ).alias("adv_sum"),
        F.array_max("a").cast("long").alias("adv_max"),
        F.array_min("a").cast("long").alias("adv_min"),
    ).orderBy("tid")


# ---------------------------------------------------------------------------
# Brier score with Murphy decomposition, exact integer numerators
# ---------------------------------------------------------------------------

_BRIER_ORACLE = """
WITH preds AS (
  SELECT (o_orderkey * 37) % 1000 AS milli,
         CASE WHEN (o_orderkey * 91) % 1000 < (o_orderkey * 37) % 1000
              THEN 1 ELSE 0 END AS label
  FROM orders
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
         CAST(SUM(label) AS BIGINT) AS base,
         CAST(SUM((milli - 1000 * label) * (milli - 1000 * label))
              AS BIGINT) AS brier_num
  FROM preds
),
bins AS (
  SELECT milli // 100 AS bin,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(label) AS BIGINT) AS o_sum,
         CAST(SUM(milli) AS BIGINT) AS milli_sum
  FROM preds GROUP BY bin
)
SELECT bin, n, o_sum, milli_sum,
       CAST((milli_sum - 1000 * o_sum) * (milli_sum - 1000 * o_sum)
            AS BIGINT) AS rel_num,
       CAST((o_sum * n_total - base * n) * (o_sum * n_total - base * n)
            AS BIGINT) AS res_num,
       CAST((milli_sum - 1000 * o_sum) * (milli_sum - 1000 * o_sum)
            AS DOUBLE) / (1000000.0 * n) AS reliability,
       CAST((o_sum * n_total - base * n) * (o_sum * n_total - base * n)
            AS DOUBLE) / (CAST(n AS DOUBLE) * n_total * n_total)
         AS resolution,
       CAST(brier_num AS DOUBLE) / (1000000.0 * n_total) AS brier
FROM bins, tot
ORDER BY bin
"""


@register(
    "eval_brier_decomposition",
    oracle=_BRIER_ORACLE,
    tags=("ext", "eval", "ml", "brier", "calibration"),
    description="Brier score + Murphy reliability/resolution, integer numerators",
)
def eval_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Brier score and its Murphy (1973) decomposition —
    reliability (calibration deficit) and resolution (sharpness) per
    confidence decile. Every statistic has an exact BIGINT numerator:
    the per-row squared error (milli - 1000*label)^2, the per-bin
    reliability numerator (sum_milli - 1000*o_sum)^2, and the
    resolution numerator (o_sum*N - base*n)^2 — denominators are
    pushed into a single trailing IEEE division each. Companion to
    eval_calibration_ece and eval_auc_roc_exact over the same
    prediction stream: together they give the standard
    proper-scoring-rule view of a reward model.

    Scale: one 10-key groupBy with map-side combine plus a 1-row
    broadcast — identical topology to the ECE query."""
    preds = load_table(spark, sf_dir, "orders").select(
        (F.col("o_orderkey") * 37 % 1000).alias("milli"),
        F.when(
            F.col("o_orderkey") * 91 % 1000
            < F.col("o_orderkey") * 37 % 1000,
            1,
        )
        .otherwise(0)
        .alias("label"),
    )
    tot = preds.agg(
        F.count("*").cast("long").alias("n_total"),
        F.sum("label").cast("long").alias("base"),
        F.sum(
            (F.col("milli") - 1000 * F.col("label"))
            * (F.col("milli") - 1000 * F.col("label"))
        )
        .cast("long")
        .alias("brier_num"),
    )
    bins = preds.groupBy(
        (F.col("milli") / 100).cast("long").alias("bin")
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("label").cast("long").alias("o_sum"),
        F.sum("milli").cast("long").alias("milli_sum"),
    )
    rel_num = (F.col("milli_sum") - 1000 * F.col("o_sum")) * (
        F.col("milli_sum") - 1000 * F.col("o_sum")
    )
    res_num = (
        F.col("o_sum") * F.col("n_total") - F.col("base") * F.col("n")
    ) * (F.col("o_sum") * F.col("n_total") - F.col("base") * F.col("n"))
    return (
        bins.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            "n",
            "o_sum",
            "milli_sum",
            rel_num.cast("long").alias("rel_num"),
            res_num.cast("long").alias("res_num"),
            (rel_num.cast("double") / (F.lit(1000000.0) * F.col("n"))).alias(
                "reliability"
            ),
            (
                res_num.cast("double")
                / (
                    F.col("n").cast("double")
                    * F.col("n_total")
                    * F.col("n_total")
                )
            ).alias("resolution"),
            (
                F.col("brier_num").cast("double")
                / (F.lit(1000000.0) * F.col("n_total"))
            ).alias("brier"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# Progressive JPEG (spectral selection) pixel decode
# ---------------------------------------------------------------------------

from wilayah_aceh_etl_spark.plans.round7_queries import (  # noqa: E402
    _JPEG_STATS_ORACLE,
)


@register(
    "multimodal_jpeg_progressive_pixel_stats",
    # oracle shared VERBATIM with multimodal_jpeg_pixel_stats:
    # progressive spectral selection reorders the BITSTREAM (DC scan
    # first, AC spectrum in band scans), never the quantized
    # coefficients — decoded pixels are bit-identical to baseline
    # (equality property-pinned in tests/test_properties.py)
    oracle=_JPEG_STATS_ORACLE,
    tags=("ext", "multimodal", "decode", "pixels", "jpeg", "progressive"),
    description="PROGRESSIVE (SOF2 spectral-selection) JPEG pixel decode",
)
def multimodal_jpeg_progressive_pixel_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The same images as multimodal_jpeg_pixel_stats but encoded
    PROGRESSIVE (SOF2, spectral selection): a DC scan carrying every
    block's DC coefficient, then AC band scans (1-5, 6-63) with
    T.81 G.1.2.2 end-of-band coding. The decoder accumulates
    coefficient slices across scans and transforms once after EOI —
    a scan-order or EOBRUN bug shifts coefficients between blocks
    and the shared closed-form oracle catches it. (The successive-
    approximation dimension has its own query below.)

    Scale note: progressive is the ANTI-parallel JPEG layout — every
    scan touches every block, so unlike restart-interval baselines a
    single progressive scan cannot be split mid-stream; the parallel
    axis is the image corpus, which is how this pipeline shards
    anyway (one decode per row through Arrow batches)."""
    from wilayah_aceh_etl_spark.operators import multimodal as M

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    media = M.attach_jpeg_payload(docs, "doc_id", progressive=True)
    return (
        M.jpeg_pixel_stats(media)
        .select(
            "media_id", "width", "height", "n_pixels", "sum_gray",
            "min_gray", "max_gray", "top_left", "bottom_right",
        )
        .orderBy("media_id")
    )


# ---------------------------------------------------------------------------
# Streaming corpus-quality monitor (foreachBatch)
# ---------------------------------------------------------------------------


def _await_stream_or_raise(sq, timeout_s: int) -> None:
    """awaitTermination returns False on timeout with the query
    STILL RUNNING — reading the sink then would yield partial
    results (a confusing parity failure) and leak an active query
    (r9 ADVICE). Stop and fail loudly instead."""
    if not sq.awaitTermination(timeout_s):
        sq.stop()
        raise TimeoutError(
            f"streaming query {sq.name or sq.id} did not finish "
            f"within {timeout_s}s; stopped to avoid reading a "
            "partial sink"
        )


_QUALITY_MONITOR_ORACLE = """
WITH per_doc AS (
  SELECT doc_id, doc_id % 4 AS batch,
         len(string_split(text, ' ')) AS wc,
         length(text) - len(string_split(text, ' ')) + 1 AS chars,
         len(list_filter(string_split(text, ' '),
                         x -> regexp_matches(x, '^[a-z]+$'))) AS alpha_wc,
         len(list_filter(string_split(text, ' '),
                         x -> x IN ('the', 'be', 'to', 'of',
                                    'and', 'that', 'have', 'with')))
           AS stop_wc
  FROM documents
),
top_word AS (
  SELECT doc_id, MAX(c) AS top_cnt
  FROM (
    SELECT doc_id, u, COUNT(*) AS c
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS u
          FROM documents)
    GROUP BY doc_id, u
  )
  GROUP BY doc_id
),
flags AS (
  SELECT p.batch,
         CASE WHEN wc BETWEEN 50 AND 100000 THEN 1 ELSE 0 END AS r_wc,
         CASE WHEN 3 * wc <= chars AND chars <= 10 * wc
              THEN 1 ELSE 0 END AS r_mwl,
         CASE WHEN 5 * alpha_wc >= 4 * wc THEN 1 ELSE 0 END AS r_alpha,
         CASE WHEN stop_wc >= 2 THEN 1 ELSE 0 END AS r_stop,
         CASE WHEN 5 * top_cnt <= wc THEN 1 ELSE 0 END AS r_rep
  FROM per_doc p JOIN top_word t USING (doc_id)
),
per_batch AS (
  SELECT batch,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(r_wc) AS BIGINT) AS pass_word_count,
         CAST(SUM(r_mwl) AS BIGINT) AS pass_mean_word_len,
         CAST(SUM(r_alpha) AS BIGINT) AS pass_alpha_ratio,
         CAST(SUM(r_stop) AS BIGINT) AS pass_stopwords,
         CAST(SUM(r_rep) AS BIGINT) AS pass_repetition,
         CAST(SUM(CASE WHEN r_wc + r_mwl + r_alpha + r_stop + r_rep = 5
                       THEN 1 ELSE 0 END) AS BIGINT) AS pass_all
  FROM flags GROUP BY batch
)
SELECT CAST(batch AS INTEGER) AS batch,
       n_docs, pass_word_count, pass_mean_word_len, pass_alpha_ratio,
       pass_stopwords, pass_repetition, pass_all,
       CAST(SUM(n_docs) OVER (ORDER BY batch
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_docs,
       CAST(SUM(pass_all) OVER (ORDER BY batch
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_pass_all
FROM per_batch
ORDER BY batch
"""


@register(
    "streaming_quality_monitor_rates",
    oracle=_QUALITY_MONITOR_ORACLE,
    tags=("streaming", "text", "quality", "gopher", "foreachBatch"),
    description="streaming Gopher-rule quality monitor over micro-batches",
)
def streaming_quality_monitor_rates(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The OBSERVABILITY half of the corpus ingest loop through the
    real streaming path: documents arrive as four mtime-ordered
    micro-batches; foreachBatch reduces each to one Gopher-rule
    summary row in a batch-partitioned monitor table
    (streaming/quality_monitor.py — replay-idempotent per-batch
    overwrite, zero cross-batch state inside the stream); the final
    read derives the cumulative pass curves with a window over the
    four summary rows. The oracle replays the same batch split and
    rules in SQL, so the hash pins micro-batch routing, the shared
    rule definitions (operators/text_analysis.py::gopher_rule_flags,
    the same exprs text_gopher_quality_rules gates), and the
    cumulative arithmetic at once."""
    import os
    import shutil

    from wilayah_aceh_etl_spark.scratch import scratch_dir
    from wilayah_aceh_etl_spark.streaming.quality_monitor import (
        quality_monitor_stream,
    )

    docs = load_table(spark, sf_dir, "documents")
    base = scratch_dir("qmon_src")
    for k in range(4):
        tmp = base + f"_stage{k}"
        docs.filter(F.col("doc_id") % 4 == k).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        dst = os.path.join(base, f"batch{k}.parquet")
        os.rename(os.path.join(tmp, part), dst)
        shutil.rmtree(tmp)
        t = 1_600_000_000 + k * 1000
        os.utime(dst, (t, t))
    monitor = scratch_dir("qmon_tbl", create=False)
    ckpt = scratch_dir("qmon_ck", create=False)
    src = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(base)
    )
    sq = quality_monitor_stream(src, monitor, ckpt).trigger(
        availableNow=True
    ).start()
    _await_stream_or_raise(sq, 600)
    w_cum = Window.orderBy("batch").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        spark.read.parquet(monitor)
        .select(
            F.col("batch").cast("int").alias("batch"),
            "n_docs",
            "pass_word_count",
            "pass_mean_word_len",
            "pass_alpha_ratio",
            "pass_stopwords",
            "pass_repetition",
            "pass_all",
        )
        .withColumn(
            "cum_docs", F.sum("n_docs").over(w_cum).cast("long")
        )
        .withColumn(
            "cum_pass_all", F.sum("pass_all").over(w_cum).cast("long")
        )
        .orderBy("batch")
    )


@register(
    "multimodal_jpeg_progressive_sa_pixel_stats",
    # oracle shared VERBATIM with multimodal_jpeg_pixel_stats:
    # successive approximation ships the SAME quantized coefficients
    # bit by bit across scans — decoded pixels are bit-identical to
    # baseline (equality property-pinned for arbitrary gradients)
    oracle=_JPEG_STATS_ORACLE,
    tags=("ext", "multimodal", "decode", "pixels", "jpeg", "progressive"),
    description="SUCCESSIVE-APPROXIMATION progressive JPEG pixel decode",
)
def multimodal_jpeg_progressive_sa_pixel_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The same images encoded with the canonical 4-scan SUCCESSIVE
    APPROXIMATION script (T.81 G.1.2.3): DC and AC spectra at Al=1
    first (a complete half-precision picture), then a raw-bit DC
    refinement scan and the intricate AC refinement scan — runs
    count only zero-history positions, newly-nonzero coefficients
    arrive as +-1 size-1 symbols, and every already-nonzero
    coefficient passed on the walk carries one correction bit in
    position order. A single mis-ordered correction bit desynchronizes
    the whole remaining scan, which the shared closed-form oracle
    catches. This completes the progressive feature square:
    spectral selection x successive approximation, encoder and
    decoder both real; the JPEG seam narrows to arithmetic coding
    and multi-component progressive scans."""
    from wilayah_aceh_etl_spark.operators import multimodal as M

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    media = M.attach_jpeg_payload(docs, "doc_id", successive=True)
    return (
        M.jpeg_pixel_stats(media)
        .select(
            "media_id", "width", "height", "n_pixels", "sum_gray",
            "min_gray", "max_gray", "top_left", "bottom_right",
        )
        .orderBy("media_id")
    )


# ---------------------------------------------------------------------------
# Unigram (SentencePiece-class) tokenizer: Viterbi segmentation
# ---------------------------------------------------------------------------

# cost*64 + ntok encoding: appending a piece adds cost*64 + 1, so the
# DP needs only MIN — cost uniquely determines ntok at fixed prefix
# length (10a + 12b + 15c and a + 2b + 3c pin (a,b,c): the only
# integer null direction is (39, -15, 8)-scaled, impossible at
# word lengths <= 8), so min-by-encoded == min-by-cost.
_UNI_L1 = 10 * 64 + 1  # single char, cost 10
_UNI_L2 = 12 * 64 + 1  # learned bigram piece, cost 12
_UNI_L3 = 15 * 64 + 1  # learned trigram piece, cost 15
_UNI_MAXLEN = 8  # corpus max word length (asserted by construction)


def _uni_dp_step_sql(i: int) -> str:
    """One unrolled Viterbi position: dp[i] = min over piece lengths
    of dp[i-L] + enc(L), gated on the piece table for L in {2, 3}
    (single chars always segment). MATERIALIZED per the DuckDB
    chained-CTE re-evaluation pitfall (DETERMINISM.md §7)."""
    return f"""
dp{i} AS MATERIALIZED (
  SELECT * FROM dp{i - 1}
  UNION ALL
  SELECT d.w, {i} AS pos,
         MIN(d.enc + CASE {i} - d.pos
               WHEN 1 THEN {_UNI_L1}
               WHEN 2 THEN {_UNI_L2}
               ELSE {_UNI_L3} END) AS enc
  FROM dp{i - 1} d
  WHERE length(d.w) >= {i}
    AND d.pos >= {i} - 3 AND d.pos < {i}
    AND ({i} - d.pos = 1
         OR ({i} - d.pos = 2
             AND substr(d.w, d.pos + 1, 2) IN (SELECT g FROM bi))
         OR ({i} - d.pos = 3
             AND substr(d.w, d.pos + 1, 3) IN (SELECT g FROM tri)))
  GROUP BY d.w
)"""


_UNIGRAM_ORACLE = (
    """
WITH toks AS (
  SELECT doc_id, w FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
  ) WHERE length(w) >= 1
),
words AS (SELECT DISTINCT w FROM toks),
bi AS MATERIALIZED (
  SELECT g FROM (
    SELECT substr(w, i, 2) AS g, COUNT(*) AS c
    FROM toks, LATERAL (SELECT unnest(range(1, length(w))) AS i) t
    GROUP BY g ORDER BY c DESC, g LIMIT 20
  )
),
tri AS MATERIALIZED (
  SELECT g FROM (
    SELECT substr(w, i, 3) AS g, COUNT(*) AS c
    FROM toks, LATERAL (SELECT unnest(range(1, length(w) - 1)) AS i) t
    GROUP BY g ORDER BY c DESC, g LIMIT 10
  )
),
dp0 AS (SELECT w, 0 AS pos, 0 AS enc FROM words),
"""
    + ",".join(_uni_dp_step_sql(i) for i in range(1, _UNI_MAXLEN + 1))
    + f"""
,
seg AS (SELECT w, enc FROM dp{_UNI_MAXLEN} WHERE pos = length(w))
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(enc // 64) AS BIGINT) AS total_cost,
       CAST(SUM(enc % 64) AS BIGINT) AS n_tokens
FROM toks JOIN seg USING (w)
GROUP BY doc_id
ORDER BY doc_id
"""
)


@register(
    "tokenizer_unigram_viterbi_counts",
    oracle=_UNIGRAM_ORACLE,
    tags=("ext", "text", "tokenizer", "unigram", "viterbi"),
    description="unigram-LM (SentencePiece-class) Viterbi segmentation",
)
def tokenizer_unigram_viterbi_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The THIRD tokenizer family (BPE train/apply are registered
    separately): unigram-LM segmentation a la SentencePiece — a
    piece vocabulary (every single char, the top-20 corpus bigrams,
    the top-10 corpus trigrams, frequency-then-lexicographic
    tie-break) with integer costs 10/12/15, and per-word VITERBI
    minimum-cost segmentation. The DP runs as a pure Catalyst
    higher-order fold over word positions with the cost*64 + ntok
    encoding (appending a piece adds cost*64 + 1, so min-by-encoded
    is min-by-cost, and cost uniquely pins the token count — the
    header derivation). The oracle unrolls the same DP as 8
    MATERIALIZED chained CTEs gated on its own piece tables.

    Scale: piece selection is two map-side-combinable n-gram counts;
    the learned pieces are MODEL STATE (30 strings) collected to the
    driver and folded into the expression — the broadcast-weights
    topology of the ML trainers. Segmentation itself is per-DISTINCT-
    word, joined back to the corpus, so the expensive fold runs
    |vocabulary| times, not |corpus| times."""
    docs = load_table(spark, sf_dir, "documents")
    # empty tokens (double spaces) would make sequence(1, length(w))
    # DESCEND (the known Spark pitfall) — filter them in BOTH engines
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.length("w") >= 1)
    bi_top = (
        toks.filter(F.length("w") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, length(w) - 1),"
                    " i -> substring(w, i, 2))"
                )
            ).alias("g")
        )
        .groupBy("g")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), F.asc("g"))
        .limit(20)
    )
    tri_top = (
        toks.filter(F.length("w") >= 3)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, length(w) - 2),"
                    " i -> substring(w, i, 3))"
                )
            ).alias("g")
        )
        .groupBy("g")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), F.asc("g"))
        .limit(10)
    )
    # model state: 30 learned pieces to the driver (like the BPE
    # merge table and the k-means centroids — O(model), not O(data))
    bi = [r.g for r in bi_top.collect()]
    tri = [r.g for r in tri_top.collect()]

    def lit(g: str) -> str:
        # SQL-escape: learned pieces are corpus-derived strings
        return "'" + g.replace("\\", "\\\\").replace("'", "\\'") + "'"

    bi_lit = ",".join(lit(g) for g in bi)
    tri_lit = ",".join(lit(g) for g in tri)
    enc_expr = f"""
element_at(
  aggregate(sequence(1, length(w)), array(0),
    (acc, i) -> array_append(acc,
      least(
        element_at(acc, i) + {_UNI_L1},
        CASE WHEN i >= 2 AND array_contains(array({bi_lit}),
                                            substring(w, i - 1, 2))
             THEN element_at(acc, i - 1) + {_UNI_L2} ELSE 999999 END,
        CASE WHEN i >= 3 AND array_contains(array({tri_lit}),
                                            substring(w, i - 2, 3))
             THEN element_at(acc, i - 2) + {_UNI_L3} ELSE 999999 END))),
  length(w) + 1)
"""
    seg = toks.select("w").distinct().withColumn("enc", F.expr(enc_expr))
    return (
        toks.join(seg, "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum(F.expr("enc div 64")).cast("long").alias("total_cost"),
            F.sum(F.col("enc") % 64).cast("long").alias("n_tokens"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Fleiss' kappa: multi-rater agreement, exact integer num/den
# ---------------------------------------------------------------------------

_FLEISS_ORACLE = """
WITH ratings AS (
  SELECT o_orderkey AS i, r,
         CASE WHEN (o_orderkey * 11 + r * 5) % 10 < 7
              THEN o_orderkey % 3
              ELSE (o_orderkey * 11 + r) % 3 END AS cat
  FROM orders, LATERAL (SELECT unnest(range(0, 5)) AS r) t
  WHERE o_orderkey < 60000
),
nic AS (
  SELECT i, cat, CAST(COUNT(*) AS BIGINT) AS n
  FROM ratings GROUP BY i, cat
),
a_agg AS (
  SELECT CAST(SUM(n * n) AS BIGINT) AS a_sq,
         CAST(COUNT(DISTINCT i) AS BIGINT) AS n_items
  FROM nic
),
b_agg AS (
  SELECT CAST(SUM(cs * cs) AS BIGINT) AS b_sq
  FROM (SELECT cat, SUM(n) AS cs FROM nic GROUP BY cat)
)
SELECT n_items,
       CAST(5 AS INTEGER) AS n_raters,
       a_sq, b_sq,
       CAST((a_sq - n_items * 5) * (n_items * 5) * (n_items * 5)
            - b_sq * (n_items * 5 * 4) AS BIGINT) AS kappa_num,
       CAST((n_items * 5 * 4)
            * ((n_items * 5) * (n_items * 5) - b_sq) AS BIGINT)
         AS kappa_den,
       CAST((a_sq - n_items * 5) * (n_items * 5) * (n_items * 5)
            - b_sq * (n_items * 5 * 4) AS DOUBLE)
         / ((n_items * 5 * 4)
            * ((n_items * 5) * (n_items * 5) - b_sq)) AS fleiss_kappa
FROM a_agg, b_agg
"""


@register(
    "labels_fleiss_kappa",
    oracle=_FLEISS_ORACLE,
    tags=("ext", "eval", "labels", "agreement", "kappa"),
    description="Fleiss' kappa for 5 raters with exact integer num/den",
)
def labels_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-rater agreement (Fleiss 1971) — the R>2 generalization
    of the registered Cohen's kappa, the standard QA statistic for
    labeling crews: 5 synthetic raters per item agree with the true
    label 70% of the time. With A = sum n_ic^2 and B = sum of squared
    category column sums, kappa = (Pbar - Pe)/(1 - Pe) clears to the
    single integer fraction ((A-NR)(NR)^2 - B*NR(R-1)) /
    (NR(R-1)((NR)^2 - B)) — both sides BIGINT (items bounded to keep
    the products under 2^63 at any SF), one IEEE division.

    Scale: one (item, category) combine then a C-row reduce; the
    quadratics are over counts, never rows."""
    ratings = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 60000)
        .select(
            F.col("o_orderkey").alias("i"),
            F.explode(F.sequence(F.lit(0), F.lit(4))).alias("r"),
        )
        .select(
            "i",
            F.when(
                (F.col("i") * 11 + F.col("r") * 5) % 10 < 7,
                F.col("i") % 3,
            )
            .otherwise((F.col("i") * 11 + F.col("r")) % 3)
            .alias("cat"),
        )
    )
    nic = ratings.groupBy("i", "cat").agg(
        F.count("*").cast("long").alias("n")
    )
    a_agg = nic.agg(
        F.sum(F.col("n") * F.col("n")).cast("long").alias("a_sq"),
        F.countDistinct("i").cast("long").alias("n_items"),
    )
    b_agg = (
        nic.groupBy("cat")
        .agg(F.sum("n").alias("cs"))
        .agg(F.sum(F.col("cs") * F.col("cs")).cast("long").alias("b_sq"))
    )
    nr = F.col("n_items") * 5
    num = (F.col("a_sq") - nr) * nr * nr - F.col("b_sq") * (nr * 4)
    den = (nr * 4) * (nr * nr - F.col("b_sq"))
    return a_agg.crossJoin(F.broadcast(b_agg)).select(
        "n_items",
        F.lit(5).cast("int").alias("n_raters"),
        "a_sq",
        "b_sq",
        num.cast("long").alias("kappa_num"),
        den.cast("long").alias("kappa_den"),
        (num.cast("double") / den).alias("fleiss_kappa"),
    )


# ---------------------------------------------------------------------------
# Forecast accuracy: WAPE + MASE for the seasonal-naive baseline
# ---------------------------------------------------------------------------

_FORECAST_EVAL_ORACLE = """
WITH daily AS (
  SELECT date_trunc('day', ts) AS d, CAST(COUNT(*) AS BIGINT) AS a
  FROM events GROUP BY d
),
lagged AS (
  SELECT d, a,
         LAG(a, 7) OVER (ORDER BY d) AS f,
         LAG(a, 1) OVER (ORDER BY d) AS prev
  FROM daily
)
SELECT CAST(COUNT(f) AS BIGINT) AS h_days,
       CAST(SUM(CASE WHEN f IS NOT NULL
                     THEN ABS(f - a) ELSE 0 END) AS BIGINT) AS sum_err,
       CAST(SUM(CASE WHEN f IS NOT NULL THEN a ELSE 0 END) AS BIGINT)
         AS sum_actual,
       CAST(COUNT(prev) AS BIGINT) AS t_days,
       CAST(SUM(CASE WHEN prev IS NOT NULL
                     THEN ABS(a - prev) ELSE 0 END) AS BIGINT)
         AS sum_naive,
       CAST(SUM(CASE WHEN f IS NOT NULL
                     THEN ABS(f - a) ELSE 0 END) AS DOUBLE)
         / SUM(CASE WHEN f IS NOT NULL THEN a ELSE 0 END) AS wape,
       CAST(SUM(CASE WHEN f IS NOT NULL
                     THEN ABS(f - a) ELSE 0 END) * COUNT(prev) AS DOUBLE)
         / (COUNT(f) * SUM(CASE WHEN prev IS NOT NULL
                                THEN ABS(a - prev) ELSE 0 END)) AS mase
FROM lagged
"""


@register(
    "eval_forecast_wape_mase",
    oracle=_FORECAST_EVAL_ORACLE,
    tags=("ext", "eval", "forecast", "timeseries", "metric"),
    description="WAPE + MASE of the seasonal-naive forecast, integer sums",
)
def eval_forecast_wape_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-accuracy metrics for the lag-7 seasonal-naive
    baseline over the daily event series: WAPE (sum|f-a| / sum a —
    the scale-free operations metric) and MASE (Hyndman 2006 —
    horizon MAE over in-sample naive-1 MAE, cleared to the integer
    fraction sum_err*T / (H*sum_naive)). Every sum is an exact
    BIGINT over integer daily counts; each metric is one IEEE
    division. Companion to forecast_conformal_interval and
    events_seasonal_naive, which produce the forecasts this query
    scores.

    Scale: the window runs over the aggregated daily relation (30
    rows here; always O(days), never O(events))."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", F.col("ts")).alias("d"))
        .agg(F.count("*").cast("long").alias("a"))
    )
    w = Window.orderBy("d")
    lagged = daily.select(
        "a",
        F.lag("a", 7).over(w).alias("f"),
        F.lag("a", 1).over(w).alias("prev"),
    )
    sum_err = F.sum(
        F.when(F.col("f").isNotNull(), F.abs(F.col("f") - F.col("a")))
        .otherwise(0)
    )
    sum_actual = F.sum(
        F.when(F.col("f").isNotNull(), F.col("a")).otherwise(0)
    )
    sum_naive = F.sum(
        F.when(
            F.col("prev").isNotNull(), F.abs(F.col("a") - F.col("prev"))
        ).otherwise(0)
    )
    return lagged.agg(
        F.count("f").cast("long").alias("h_days"),
        sum_err.cast("long").alias("sum_err"),
        sum_actual.cast("long").alias("sum_actual"),
        F.count("prev").cast("long").alias("t_days"),
        sum_naive.cast("long").alias("sum_naive"),
        (sum_err.cast("double") / sum_actual).alias("wape"),
        (
            (sum_err * F.count("prev")).cast("double")
            / (F.count("f") * sum_naive)
        ).alias("mase"),
    )


# ---------------------------------------------------------------------------
# Pairwise learning-to-rank: rank-perceptron on preference pairs
# ---------------------------------------------------------------------------


def _rankperc_step_sql(i: int) -> str:
    """One rank-perceptron iteration as DuckDB CTEs — integer-only,
    mirroring operators/ml_train.py::rank_perceptron_train_integer
    (misranked under PRE-update weights, checksum of POST weights)."""
    return f"""
mar{i} AS (
  SELECT u.pid, CAST(SUM(w.wv * u.dq) AS BIGINT) AS m
  FROM u JOIN w{i - 1} w ON w.pos = u.pos
  GROUP BY u.pid
),
mis{i} AS (SELECT pid FROM mar{i} WHERE m <= 0),
upd{i} AS (
  SELECT u.pos, CAST(SUM(u.dq) AS BIGINT) AS s
  FROM u JOIN mis{i} USING (pid)
  GROUP BY u.pos
),
w{i} AS MATERIALIZED (
  SELECT w.pos, w.wv + COALESCE(s.s, 0) AS wv
  FROM w{i - 1} w LEFT JOIN upd{i} s USING (pos)
),
met{i} AS (
  SELECT {i} AS iter,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM mis{i}) AS n_misranked,
         (SELECT CAST(SUM(wv) AS BIGINT) FROM w{i}) AS w_checksum
)"""


_RANK_PERCEPTRON_ORACLE = (
    """
WITH q AS MATERIALIZED (
  SELECT vec_id,
         generate_subscripts(CAST(embedding AS DOUBLE[]), 1) AS pos,
         CAST(ROUND(unnest(CAST(embedding AS DOUBLE[])) * 4096) AS BIGINT)
           AS xq
  FROM embeddings
),
h AS (
  SELECT vec_id,
         CAST(SUM(CASE WHEN pos <= 32 THEN xq ELSE -xq END) AS BIGINT) AS h
  FROM q GROUP BY vec_id
),
pairs AS (
  SELECT a.vec_id AS pid, a.h > b.h AS a_wins
  FROM h a JOIN h b ON b.vec_id = a.vec_id + 250
  WHERE a.vec_id < 250
),
u AS MATERIALIZED (
  SELECT p.pid, qa.pos,
         CASE WHEN p.a_wins THEN qa.xq - qb.xq
              ELSE qb.xq - qa.xq END AS dq
  FROM pairs p
  JOIN q qa ON qa.vec_id = p.pid
  JOIN q qb ON qb.vec_id = p.pid + 250 AND qb.pos = qa.pos
),
w0 AS (SELECT i AS pos, CAST(0 AS BIGINT) AS wv FROM range(1, 65) t(i)),
"""
    + ",".join(_rankperc_step_sql(i) for i in (1, 2, 3))
    + """,
met4 AS (
  SELECT 4 AS iter,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM (
            SELECT u.pid
            FROM u JOIN w3 w ON w.pos = u.pos
            GROUP BY u.pid
            HAVING CAST(SUM(w.wv * u.dq) AS BIGINT) <= 0)) AS n_misranked,
         (SELECT CAST(SUM(wv) AS BIGINT) FROM w3) AS w_checksum
)
SELECT iter, n_misranked, w_checksum
FROM (SELECT * FROM met1 UNION ALL SELECT * FROM met2
      UNION ALL SELECT * FROM met3 UNION ALL SELECT * FROM met4)
ORDER BY iter
"""
)


@register(
    "ml_rank_perceptron_pairs",
    oracle=_RANK_PERCEPTRON_ORACLE,
    tags=("ext", "ml", "training", "ranking", "integer-exact"),
    description="pairwise LTR rank-perceptron, all-integer, train + eval rows",
)
def ml_rank_perceptron_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise LEARNING-TO-RANK through the distributed-trainer
    machinery: 250 preference pairs (item i vs item i+250) labeled
    by a hidden integer utility over the quantized features, trained
    with the rank-perceptron update w += (xq_winner - xq_loser) on
    misranked pairs for 3 iterations, plus a final EVAL row scoring
    the trained weights on the same pairs — the feature-based
    counterpart of ml_bradley_terry_strengths, and the reward-model
    training shape for preference data. Everything is exact int64
    (operators/ml_train.py::rank_perceptron_train_integer); the
    oracle replays the full trajectory with chained MATERIALIZED
    CTEs."""
    from wilayah_aceh_etl_spark.operators.ml_train import (
        rank_perceptron_train_integer,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return rank_perceptron_train_integer(emb).orderBy("iter")


# ---------------------------------------------------------------------------
# Multi-component (color) progressive JPEG
# ---------------------------------------------------------------------------

from wilayah_aceh_etl_spark.plans.registry import _REGISTRY  # noqa: E402

# oracle shared VERBATIM with multimodal_jpeg_color_pixel_stats:
# the progressive scan script reorders the bitstream (interleaved DC
# scan, then per-component AC scans), never the quantized
# coefficients — decoded planes are bit-identical to the baseline
# color encoding (equality property-pinned)
_COLOR_STATS_ORACLE = _REGISTRY["multimodal_jpeg_color_pixel_stats"].oracle


@register(
    "multimodal_jpeg_color_progressive_stats",
    oracle=_COLOR_STATS_ORACLE,
    tags=("ext", "multimodal", "decode", "pixels", "jpeg", "progressive"),
    description="multi-component PROGRESSIVE color-JPEG decode (3 planes)",
)
def multimodal_jpeg_color_progressive_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The same 4:4:4 color images encoded PROGRESSIVE with the
    canonical multi-component scan script T.81 prescribes: one
    INTERLEAVED DC scan (Ns=3, three independent predictors, Y and
    chroma DC tables) followed by one NON-interleaved AC band scan
    per component (progressive AC scans must be single-component per
    the spec — the detail that makes color progressive structurally
    different from grayscale). A predictor mix-up in the interleaved
    DC scan or a component-order bug in the AC scans corrupts a
    whole plane, which the shared per-plane closed-form oracle
    catches. Color successive approximation stays the documented
    seam; the JPEG family now covers baseline/restart/color/4:2:0
    plus progressive in grayscale (both dimensions) and color
    (spectral selection)."""
    from wilayah_aceh_etl_spark.operators import multimodal as M

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    media = M.attach_color_jpeg_payload(docs, "doc_id", progressive=True)
    return (
        M.jpeg_color_pixel_stats(media)
        .select(
            "media_id", "width", "height", "n_pixels",
            "sum_y", "sum_cb", "sum_cr",
            "y_top_left", "cr_bottom_right",
        )
        .orderBy("media_id")
    )


@register(
    "multimodal_jpeg_color_progressive_sa_stats",
    # oracle shared VERBATIM (see multimodal_jpeg_color_progressive_stats)
    oracle=_COLOR_STATS_ORACLE,
    tags=("ext", "multimodal", "decode", "pixels", "jpeg", "progressive"),
    description="color SUCCESSIVE-APPROXIMATION progressive JPEG decode",
)
def multimodal_jpeg_color_progressive_sa_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The same color images through the FULL 8-scan successive-
    approximation color script: interleaved DC at Al=1, three
    per-component AC first scans at Al=1, an interleaved raw-bit DC
    refinement (three components' bits interleave per MCU), and
    three per-component G.1.2.3 AC refinement scans — the complete
    progressive feature matrix (spectral selection x successive
    approximation x single/multi-component) now decodes through one
    pair of decoders. The JPEG seam is down to arithmetic coding and
    chroma-subsampled progressive."""
    from wilayah_aceh_etl_spark.operators import multimodal as M

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    media = M.attach_color_jpeg_payload(docs, "doc_id", successive=True)
    return (
        M.jpeg_color_pixel_stats(media)
        .select(
            "media_id", "width", "height", "n_pixels",
            "sum_y", "sum_cb", "sum_cr",
            "y_top_left", "cr_bottom_right",
        )
        .orderBy("media_id")
    )


# ---------------------------------------------------------------------------
# Model-based quality scoring at SERVING shape (round 9, r8 verdict
# ask #6): a fastText-style linear quality classifier INFERENCE pass
# — hashed-token features -> broadcast weight vector -> per-doc
# logit + threshold keep/drop. Composes the existing machinery end
# to end (feature_hashing_trick's 64-bin md5 hashing, ml_train's
# quantized-GD logreg) with zero new operator code; the oracle
# re-derives the full pipeline: hashing, training, serving.
# ---------------------------------------------------------------------------

# 64-bin md5 token hash — the same digit arithmetic as
# feature_hashing_trick (plans/round5_queries.py)
_QC_H4_TOK = " + ".join(
    f"(instr('0123456789abcdef', md5(tok)[{p}:{p}]) - 1) * {w}"
    for p, w in ((1, 4096), (2, 256), (3, 16), (4, 1))
)


# Clean quality-domain proxy label and its doc_id%17 planted-flip
# variant (the confident-learning query trains on the NOISY labels —
# that is the method's setting)
_QC_Y_CLEAN = "CASE WHEN lang = 'en' THEN 1 ELSE 0 END"
_QC_Y_NOISY = (
    f"CASE WHEN doc_id % 17 = 0 THEN 1 - ({_QC_Y_CLEAN}) "
    f"ELSE ({_QC_Y_CLEAN}) END"
)


def _qc_features_sql(label_case: str, extra_cols: str = "") -> str:
    """The hashed token-RATE feature CTEs (docs0 → toks → ntok →
    binned → xv) of the model-based curation family — _qc_train_sql
    composes them with the standard training CTEs; the DoReMi oracle
    composes them with its own domain-aware relation. `extra_cols`
    rides along in docs0 (e.g. ', source AS dom'); with the default
    '' the emitted SQL is byte-identical to the pre-factoring text
    (pinned by tests/test_round9_ops.py::test_qc_train_sql_stable)."""
    return f"""
WITH docs0 AS MATERIALIZED (
  SELECT doc_id, text,
         {label_case} AS y{extra_cols}
  FROM documents
),
toks AS MATERIALIZED (
  SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM docs0
),
ntok AS MATERIALIZED (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_toks
  FROM toks GROUP BY doc_id
),
binned AS MATERIALIZED (
  SELECT doc_id, ({_QC_H4_TOK}) % 64 AS bin,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM toks GROUP BY 1, 2
),
xv AS MATERIALIZED (
  SELECT n.doc_id,
         list(CAST(COALESCE(b.cnt, 0) AS DOUBLE) / n.n_toks
              ORDER BY g.i) AS x
  FROM ntok n
  CROSS JOIN range(64) g(i)
  LEFT JOIN binned b ON b.doc_id = n.doc_id AND b.bin = g.i
  GROUP BY n.doc_id, n.n_toks
)"""


def _qc_train_sql(label_case: str, split_pred: str) -> str:
    """Shared DuckDB CTE prefix of the model-based curation family:
    the _qc_features_sql feature CTEs, the training relation `v`
    (labels from `label_case`, rows from `split_pred`), and the
    three quantized-GD logreg iterations w1..w3
    (round7_queries._lr_step_sql). Ends after w3's CTE so a caller
    appends its own `,scored AS (...) ... SELECT`."""
    from wilayah_aceh_etl_spark.plans.round7_queries import _lr_step_sql

    return _qc_features_sql(label_case) + f""",
v AS MATERIALIZED (
  SELECT x0.doc_id AS vec_id, x0.x, d.y
  FROM xv x0 JOIN docs0 d USING (doc_id)
  WHERE {split_pred}
),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v),
u AS (
  SELECT vec_id, unnest(x) AS val, generate_subscripts(x, 1) AS pos FROM v
),
w0 AS (
  SELECT (SELECT list(0.0) FROM range(64)) AS w, 0.0 AS b
),
""" + ",".join(_lr_step_sql(i) for i in (1, 2, 3))


def _qc_oracle() -> str:
    return (
        _qc_train_sql(_QC_Y_CLEAN, "x0.doc_id % 5 != 0")
        + """,
scored AS (
  SELECT x0.doc_id,
         list_dot_product(x0.x, (SELECT w FROM w3)) +
           (SELECT b FROM w3) AS m
  FROM xv x0
)
SELECT doc_id,
       CAST(ROUND(m * 16777216) AS BIGINT) AS logit_q,
       CAST(CASE WHEN m > 0 THEN 1 ELSE 0 END AS INTEGER) AS keep
FROM scored
ORDER BY doc_id
"""
    )


def _qc_feature_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of _qc_train_sql's feature CTEs: per-doc 64-bin
    md5-hashed token-RATE vector (count/n_tokens — fastText's
    mean-of-ngram-vectors normalization). Shared by the quality
    classifier, EL2N pruning, and confident-learning queries; one
    tokenize + two hash aggregates per doc, no corpus-wide state."""
    return _qc_feature_vectors_from(
        load_table(spark, sf_dir, "documents")
    )


def _qc_feature_vectors_from(docs: DataFrame) -> DataFrame:
    """_qc_feature_vectors over an arbitrary documents relation —
    per-doc features have no corpus-wide state, so the SAME exprs
    serve a batch table or one micro-batch of a stream (the
    streaming classifier filter scores each trigger through this)."""
    from wilayah_aceh_etl_spark.functions.text import hex4_to_int

    docs = docs.select("doc_id", "text")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    ntok = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_toks")
    )
    binned = (
        toks.select(
            "doc_id", (hex4_to_int(F.md5(F.col("tok"))) % 64).alias("bin")
        )
        .groupBy("doc_id", "bin")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    bm = binned.groupBy("doc_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("bin", "cnt"))
        ).alias("bm")
    )
    return ntok.join(bm, "doc_id").select(
        "doc_id",
        F.array(
            *[
                F.coalesce(F.element_at("bm", F.lit(i)), F.lit(0))
                .cast("double")
                / F.col("n_toks")
                for i in range(64)
            ]
        ).alias("x"),
    )


@register(
    "corpus_quality_classifier_serving",
    oracle=_qc_oracle(),
    tags=(
        "ext",
        "text",
        "quality",
        "classifier",
        "hashing-trick",
        "ml",
        "serving",
    ),
    description="fastText-style quality classifier: hashed features, "
    "logreg weights, per-doc keep/drop at serving shape",
)
def corpus_quality_classifier_serving(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Model-based quality filtering at SERVING shape — the published
    curation pattern (GPT-3/CCNet-style fastText quality classifier;
    Brown et al. 2020 Appendix A): a linear classifier over hashed
    token features scores every document, and keep/drop is a logit
    threshold. Train-time is the existing quantized-GD logreg
    (operators/ml_train.py::logreg_fit, 3 iterations, lr=0.5) on
    the doc_id%5!=0 split with y = [lang='en'] as the quality-domain
    proxy; features are the vocabulary-free 64-bin md5 hashing trick
    (feature_hashing_trick), each bin a token RATE (count/n_tokens —
    fastText's mean-of-ngram-vectors normalization), so scores are
    length-invariant.

    The SERVING pass is the scale story: the fitted weight vector is
    64+1 doubles embedded as a literal map-side expression (the
    broadcast-weights device every trainer here uses), so scoring is
    one corpus scan with zero joins and zero shuffles — per doc one
    tokenize + hash aggregate + one 64-term dot. At 100 TB that is
    embarrassingly parallel, exactly how fastText quality filters
    run over Common Crawl. logit_q = ROUND(logit·2²⁴) keeps the
    hash-gate integer-exact; the oracle re-derives hashing, all
    three GD iterations, and the serving scores in SQL.

    Separability is pinned by
    tests/test_round9_ops.py::test_quality_classifier_separates_planted_vocab
    (disjoint planted vocabularies -> every holdout doc on the right
    side of the threshold), DSIR-style."""
    from wilayah_aceh_etl_spark.operators.ml_train import logreg_fit
    from wilayah_aceh_etl_spark.functions.vectors import (
        array_literal,
        dot as vdot,
    )

    docs0 = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    xv = _qc_feature_vectors(spark, sf_dir)
    train = xv.join(docs0, "doc_id").filter(F.col("doc_id") % 5 != 0)
    w, b = logreg_fit(
        train, n_iter=3, lr=0.5, id_col="doc_id", vec_col="x"
    )
    # serving: broadcast weights as a literal expression, zero joins
    m = vdot("x", array_literal(w)) + F.lit(float(b))
    return xv.select(
        "doc_id",
        F.round(m * 16777216).cast("long").alias("logit_q"),
        (m > 0).cast("int").alias("keep"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# CCNet perplexity buckets: the head/middle/tail LM-perplexity split
# (Wenzek et al. 2020) that CCNet uses to stratify Common Crawl by
# language-model quality before training-data selection.
# ---------------------------------------------------------------------------

_BIGRAM_LP3_SQL = """
words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
uni AS (SELECT doc_id, UNNEST(w) AS tok FROM words),
c1 AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM uni GROUP BY tok),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM uni),
big AS (
  SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
  FROM words, UNNEST(range(1, len(w))) AS t(i)
  WHERE len(w) >= 2
),
c2 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c FROM big GROUP BY 1, 2),
lpterms AS (
  SELECT b.doc_id,
         ln(0.7 * c2.c / ca.c + 0.3 * cb.c / CAST(n.total AS DOUBLE)) AS lp
  FROM big b
  JOIN c2 ON c2.w1 = b.w1 AND c2.w2 = b.w2
  JOIN c1 ca ON ca.tok = b.w1
  JOIN c1 cb ON cb.tok = b.w2
  CROSS JOIN n
),
lp AS (
  SELECT doc_id, ROUND(SUM(lp) / COUNT(*), 3) AS lp3
  FROM lpterms GROUP BY doc_id
)
"""


@register(
    "corpus_perplexity_buckets_ccnet",
    oracle="WITH "
    + _BIGRAM_LP3_SQL
    + """,
b AS (
  SELECT l.doc_id, d.lang, l.lp3,
         NTILE(3) OVER (PARTITION BY d.lang
                        ORDER BY l.lp3 DESC, l.doc_id) AS bucket
  FROM lp l JOIN documents d ON d.doc_id = l.doc_id
)
SELECT doc_id, lang, lp3, CAST(bucket AS INTEGER) AS bucket,
       CAST(CASE WHEN bucket <= 2 THEN 1 ELSE 0 END AS INTEGER) AS keep
FROM b ORDER BY doc_id
""",
    tags=("ext", "text", "lm", "quality", "curation", "ccnet"),
    description="CCNet head/middle/tail LM-perplexity buckets per "
    "language; keep = head+middle",
)
def corpus_perplexity_buckets_ccnet(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CCNet's perplexity stratification (Wenzek et al. 2020 §4.4):
    score every document with a language-model log-probability, then
    split EACH LANGUAGE into equal head/middle/tail terciles by that
    score and keep head+middle — the published recipe for turning a
    raw crawl into an LM-quality-stratified corpus. The LM signal is
    the registered interpolated-bigram score (text_bigram_lm_logprob,
    round5_queries — composed by calling it, zero duplicated plan
    code); documents under two tokens have no bigram score and drop
    out before bucketing, matching the oracle's inner joins.

    Scale shape: the LM tables are token-keyed aggregates (the
    natural hash keys), and the tercile window partitions BY LANGUAGE
    (ORDER BY the 3-decimal-rounded score with doc_id tiebreak, so
    bucket boundaries are engine-deterministic) — never a global
    sort. NTILE within a language is a single-key sort at 100 TB;
    CCNet itself shards this per (language, crawl-snapshot) and so
    would we — the snapshot key is absent from this corpus, noted
    honestly. keep = bucket<=2 is one projected comparison."""
    from wilayah_aceh_etl_spark.plans.round5_queries import (
        text_bigram_lm_logprob,
    )

    lp = text_bigram_lm_logprob(spark, sf_dir).select(
        "doc_id", F.col("avg_logprob").alias("lp3")
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    w = Window.partitionBy("lang").orderBy(
        F.col("lp3").desc(), F.col("doc_id").asc()
    )
    b = lp.join(docs, "doc_id").select(
        "doc_id", "lang", "lp3", F.ntile(3).over(w).alias("bucket")
    )
    return b.select(
        "doc_id",
        "lang",
        "lp3",
        F.col("bucket").cast("int").alias("bucket"),
        (F.col("bucket") <= 2).cast("int").alias("keep"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Data-diet pruning by EL2N margin (Paul et al. 2021): drop the
# EASIEST 30% of training examples by classifier margin.
# ---------------------------------------------------------------------------


def _el2n_oracle() -> str:
    return (
        _qc_train_sql(_QC_Y_CLEAN, "x0.doc_id % 5 != 0")
        + """,
scored AS (
  SELECT v.vec_id AS doc_id, v.y,
         CAST(ROUND((list_dot_product(v.x, (SELECT w FROM w3)) +
                     (SELECT b FROM w3)) * 16777216) AS BIGINT) AS logit_q
  FROM v
),
h AS (
  SELECT doc_id, y, -(2 * y - 1) * logit_q AS hardness_q FROM scored
),
kk AS (SELECT (3 * COUNT(*)) // 10 AS k FROM h),
ranked AS (
  SELECT doc_id, y, hardness_q,
         ROW_NUMBER() OVER (ORDER BY hardness_q ASC, doc_id ASC) AS rn
  FROM h
)
SELECT doc_id, CAST(y AS INTEGER) AS y,
       CAST(hardness_q AS BIGINT) AS hardness_q,
       CAST(CASE WHEN rn <= (SELECT k FROM kk) THEN 1 ELSE 0 END AS INTEGER)
         AS pruned
FROM ranked ORDER BY doc_id
"""
    )


@register(
    "data_pruning_el2n_margin",
    oracle=_el2n_oracle(),
    tags=("ext", "ml", "curation", "pruning", "data-diet"),
    description="data-diet pruning: drop the easiest 30% of training "
    "docs by exact integer classifier margin",
)
def data_pruning_el2n_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-diet pruning (Paul et al. 2021, 'Deep Learning on a Data
    Diet'): score every training example with the trained classifier
    and PRUNE the easiest 30% — the examples the model is already
    most confident about, which contribute least to training. For a
    binary linear model the paper's EL2N score ||p(x)−y||₂ is a
    strictly DECREASING function of the signed margin (2y−1)·logit,
    so ranking by hardness_q = −(2y−1)·logit_q (an exact BIGINT on
    the already-hash-pinned quantized logit) reproduces the EL2N
    order with zero floating-point divergence risk — the same
    monotone-integer substitution the repo's Gopher thresholds use.
    Training is the shared quantized-GD logreg on the hashed-feature
    split (corpus_quality_classifier_serving's exact pipeline).

    Scale shape: NO global row_number over the corpus. The prune
    boundary comes from a HISTOGRAM of the quantized margin — one
    hash aggregate, a cumulative window over the (much smaller)
    distinct-margin relation, and a 1-row (threshold, boundary-quota)
    broadcast back onto the corpus; boundary ties resolve in a
    window PARTITIONED by margin value. k = floor(0.3·n) is computed
    as (3n) div 10, exact integer in both engines. At 100 TB the
    same plan holds (distinct quantized margins are value-bounded);
    if they weren't, the documented substitute is an
    approx-percentile threshold — the histogram form keeps the gate
    exact. The oracle pins equivalence to the definitional global
    rank."""
    from wilayah_aceh_etl_spark.operators.ml_train import logreg_fit
    from wilayah_aceh_etl_spark.functions.vectors import (
        array_literal,
        dot as vdot,
    )

    docs0 = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    xv = _qc_feature_vectors(spark, sf_dir)
    v = xv.join(docs0, "doc_id").filter(F.col("doc_id") % 5 != 0)
    w, b = logreg_fit(v, n_iter=3, lr=0.5, id_col="doc_id", vec_col="x")
    m = vdot("x", array_literal(w)) + F.lit(float(b))
    logit_q = F.round(m * 16777216).cast("long")
    h = v.select(
        "doc_id",
        "y",
        (-(F.lit(2) * F.col("y") - 1) * logit_q)
        .cast("long")
        .alias("hardness_q"),
    )
    hist = h.groupBy("hardness_q").agg(F.count(F.lit(1)).alias("c"))
    wcum = Window.orderBy("hardness_q").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(
        "hardness_q", "c", F.sum("c").over(wcum).alias("cum")
    )
    kdf = h.agg(F.expr("(3 * count(*)) div 10").alias("k"))
    tq = (
        cum.crossJoin(kdf)
        .filter(F.col("cum") >= F.col("k"))
        .orderBy("hardness_q")
        .limit(1)
        .select(
            F.col("hardness_q").alias("t"),
            (F.col("k") - (F.col("cum") - F.col("c"))).alias("quota"),
        )
    )
    wg = Window.partitionBy("hardness_q").orderBy("doc_id")
    return (
        h.withColumn("rn", F.row_number().over(wg))
        .crossJoin(tq)
        .select(
            "doc_id",
            F.col("y").cast("int").alias("y"),
            "hardness_q",
            (
                (F.col("hardness_q") < F.col("t"))
                | (
                    (F.col("hardness_q") == F.col("t"))
                    & (F.col("rn") <= F.col("quota"))
                )
            )
            .cast("int")
            .alias("pruned"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Confident-learning label-noise audit (Northcutt et al. 2021), in
# exact quantized-logit space, with doc_id%17 planted label flips so
# the audit demonstrably finds real noise.
# ---------------------------------------------------------------------------


def _cl_oracle() -> str:
    return (
        _qc_train_sql(_QC_Y_NOISY, "TRUE")
        + """,
scored AS (
  SELECT v.vec_id AS doc_id, v.y,
         CAST(ROUND((list_dot_product(v.x, (SELECT w FROM w3)) +
                     (SELECT b FROM w3)) * 16777216) AS BIGINT) AS m_q
  FROM v
),
th AS (
  SELECT
    CAST(SUM(CASE WHEN y = 1 THEN m_q ELSE 0 END) AS BIGINT) AS s1,
    CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
    CAST(SUM(CASE WHEN y = 0 THEN -m_q ELSE 0 END) AS BIGINT) AS s0,
    CAST(SUM(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0
  FROM scored
),
assigned AS (
  SELECT s.doc_id, s.y, s.m_q,
         CASE
           WHEN s.m_q * t.n1 >= t.s1 AND (-s.m_q) * t.n0 >= t.s0
             THEN CASE WHEN s.m_q >= 0 THEN 1 ELSE 0 END
           WHEN s.m_q * t.n1 >= t.s1 THEN 1
           WHEN (-s.m_q) * t.n0 >= t.s0 THEN 0
           ELSE NULL
         END AS suggested
  FROM scored s CROSS JOIN th t
)
SELECT doc_id, CAST(y AS INTEGER) AS y_noisy,
       CAST(m_q AS BIGINT) AS m_q,
       CAST(suggested AS INTEGER) AS suggested,
       CAST(CASE WHEN doc_id % 17 = 0 THEN 1 ELSE 0 END AS INTEGER)
         AS planted
FROM assigned
WHERE suggested IS NOT NULL AND suggested <> y
ORDER BY doc_id
"""
    )


@register(
    "labels_confident_learning_noise",
    oracle=_cl_oracle(),
    tags=("ext", "ml", "labels", "noise", "confident-learning"),
    description="confident-learning label-noise audit on planted "
    "doc_id%17 flips, exact quantized-logit thresholds",
)
def labels_confident_learning_noise(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Confident-learning label-noise detection (Northcutt, Jiang &
    Chuang 2021): train on the NOISY labels, compute per-class
    confidence thresholds t_j as the class's mean self-confidence,
    and flag every example that confidently qualifies for a class
    other than its given label. This query PLANTS the noise itself —
    doc_id%17==0 rows train with the flipped label (the pHash
    planted-duplicate precedent, so the audit demonstrably finds
    real noise and the gate row is never vacuous) — and emits the
    flagged rows with the suggested corrected label.

    Cross-engine exactness: confidence lives in QUANTIZED LOGIT
    space (class 1: m_q, class 0: −m_q — the same monotone transform
    of the paper's predicted probability for both classes), so
    thresholds are exact integer means compared by
    cross-multiplication (m_q·n_j ≥ s_j), the repo's standard
    integer-threshold idiom; both-classes ties resolve by sign(m_q).
    In-sample self-confidence replaces the paper's cross-validated
    probabilities — documented simplification, standard for linear
    models. Scale shape: one corpus training pass (broadcast-weight
    logreg), then one projection + one 4-long global aggregate
    broadcast back — no joins over data, embarrassingly parallel.

    tests/test_round9_ops.py::test_confident_learning_flags_planted_flips
    pins on a separable planted-vocabulary corpus that the flagged
    set is EXACTLY the planted flips, each with the clean label
    suggested."""
    from wilayah_aceh_etl_spark.operators.ml_train import logreg_fit
    from wilayah_aceh_etl_spark.functions.vectors import (
        array_literal,
        dot as vdot,
    )

    y_clean = F.when(F.col("lang") == "en", 1).otherwise(0)
    docs0 = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 17 == 0, 1 - y_clean)
        .otherwise(y_clean)
        .alias("y"),
    )
    xv = _qc_feature_vectors(spark, sf_dir)
    v = xv.join(docs0, "doc_id")
    w, b = logreg_fit(v, n_iter=3, lr=0.5, id_col="doc_id", vec_col="x")
    m = vdot("x", array_literal(w)) + F.lit(float(b))
    m_q = F.round(m * 16777216).cast("long")
    scored = v.select("doc_id", "y", m_q.alias("m_q"))
    th = scored.agg(
        F.sum(F.when(F.col("y") == 1, F.col("m_q")).otherwise(0))
        .cast("long")
        .alias("s1"),
        F.sum(F.when(F.col("y") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("y") == 0, -F.col("m_q")).otherwise(0))
        .cast("long")
        .alias("s0"),
        F.sum(F.when(F.col("y") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n0"),
    )
    q1 = F.col("m_q") * F.col("n1") >= F.col("s1")
    q0 = (-F.col("m_q")) * F.col("n0") >= F.col("s0")
    suggested = (
        F.when(q1 & q0, F.when(F.col("m_q") >= 0, 1).otherwise(0))
        .when(q1, 1)
        .when(q0, 0)
    )
    return (
        scored.crossJoin(th)
        .withColumn("suggested", suggested)
        .filter(
            F.col("suggested").isNotNull()
            & (F.col("suggested") != F.col("y"))
        )
        .select(
            "doc_id",
            F.col("y").cast("int").alias("y_noisy"),
            "m_q",
            F.col("suggested").cast("int").alias("suggested"),
            (F.col("doc_id") % 17 == 0).cast("int").alias("planted"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Training-DYNAMICS curation (round 9, fourth sitting): dataset
# cartography, forgetting events, RHO-loss selection — the published
# methods that score examples against EVERY epoch's model rather
# than the final one. All three compose ml_train's quantized-GD
# trainer (logreg_fit_trajectory keeps the iterates) over the
# embeddings corpus; the oracles re-derive every iteration via the
# prefix-parameterized _lr_step_sql CTEs.
#
# lr = 2.0 is deliberately hotter than the qc family's 0.5: at 0.5
# this near-noise corpus barely moves in 3 iterations (measured:
# conf in [0.494, 0.508], 1-5 forgetting events per SF), while at
# 8.0 the full-batch step overshoots so hard the WHOLE corpus flips
# sign each iteration (every example "forgotten" — degenerate the
# other way). 2.0 was probed at all three SFs: every cartography
# region populated (sf0.01: 337 ambiguous / 80 easy / 83 hard) and
# 20-205 forgetting events — heterogeneous, non-vacuous dynamics.
# ---------------------------------------------------------------------------

_TD_LR = "2.0"


def _emb_train_sql(pfx: str, split_pred: str) -> str:
    """Prefixed v/u/nn/w0 CTEs over the embeddings table
    (y = [label < 5], rows filtered by `split_pred`) plus the three
    quantized-GD iterations {pfx}w1..{pfx}w3 — the embeddings-table
    twin of _qc_train_sql, shared by the training-dynamics family.
    The prefix lets one WITH clause train TWO models (RHO-loss)."""
    from wilayah_aceh_etl_spark.plans.round7_queries import _lr_step_sql

    return f"""
{pfx}v AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x,
         CASE WHEN label < 5 THEN 1 ELSE 0 END AS y
  FROM embeddings
  WHERE {split_pred}
),
{pfx}nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM {pfx}v),
{pfx}u AS (
  SELECT vec_id, unnest(x) AS val, generate_subscripts(x, 1) AS pos
  FROM {pfx}v
),
{pfx}w0 AS (
  SELECT (SELECT list(0.0) FROM range(64)) AS w, 0.0 AS b
),
""" + ",".join(_lr_step_sql(i, lr=_TD_LR, pfx=pfx) for i in (1, 2, 3))


def _td_p_sql(m: str) -> str:
    """True-class probability under the trainer's RATIONAL sigmoid —
    pure arithmetic on the bitwise-pinned margin, so the dynamics
    scores carry zero transcendental divergence risk."""
    sig = f"0.5 + {m} / (2.0 * (1.0 + abs({m})))"
    return f"CASE WHEN y = 1 THEN {sig} ELSE 1.0 - ({sig}) END"


_TD_MARGINS_SQL = """
pe AS MATERIALIZED (
  SELECT v.vec_id, v.y,
         list_dot_product(v.x, (SELECT w FROM w1)) + (SELECT b FROM w1) AS m1,
         list_dot_product(v.x, (SELECT w FROM w2)) + (SELECT b FROM w2) AS m2,
         list_dot_product(v.x, (SELECT w FROM w3)) + (SELECT b FROM w3) AS m3
  FROM v v
)
"""


def _cartography_oracle() -> str:
    return (
        "WITH "
        + _emb_train_sql("", "TRUE")
        + ","
        + _TD_MARGINS_SQL
        + f""",
pp AS (
  SELECT vec_id, y,
         {_td_p_sql("m1")} AS p1,
         {_td_p_sql("m2")} AS p2,
         {_td_p_sql("m3")} AS p3,
         (CASE WHEN (m1 > 0) = (y = 1) THEN 1 ELSE 0 END
          + CASE WHEN (m2 > 0) = (y = 1) THEN 1 ELSE 0 END
          + CASE WHEN (m3 > 0) = (y = 1) THEN 1 ELSE 0 END) AS n_correct
  FROM pe
),
cf AS (
  SELECT vec_id, y, n_correct, p1, p2, p3,
         (p1 + p2 + p3) / 3.0 AS conf
  FROM pp
),
q AS (
  SELECT vec_id, y, n_correct,
         CAST(ROUND(conf * 16777216) AS BIGINT) AS conf_q,
         CAST(ROUND(sqrt(((p1 - conf) * (p1 - conf)
                          + (p2 - conf) * (p2 - conf)
                          + (p3 - conf) * (p3 - conf)) / 3.0)
                    * 16777216) AS BIGINT) AS var_q
  FROM cf
)
SELECT vec_id, CAST(y AS INTEGER) AS y, conf_q, var_q,
       CAST(n_correct AS INTEGER) AS n_correct,
       CASE WHEN var_q > 16777 THEN 'ambiguous'
            WHEN conf_q >= 8388608 THEN 'easy'
            ELSE 'hard' END AS region
FROM q ORDER BY vec_id
"""
    )


@register(
    "data_cartography_regions",
    oracle=_cartography_oracle(),
    tags=("ext", "ml", "curation", "training-dynamics", "cartography"),
    description="dataset cartography: per-example confidence/"
    "variability across GD epochs -> easy/ambiguous/hard regions",
)
def data_cartography_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset Cartography (Swayamdipta et al. 2020): map every
    training example by its TRAINING DYNAMICS — confidence = mean
    over epochs of the model's probability on the true label,
    variability = the std of that probability, correctness = how
    many epochs predict the label right — and region the map:
    high-variability examples are AMBIGUOUS (the ones worth
    training on), confident ones EASY, the rest HARD (where label
    errors concentrate). Epoch models are the quantized-GD logreg's
    iterates (operators/ml_train.py::logreg_fit_trajectory — same
    _gd_step as every other trainer, so the weights are bitwise the
    oracle's w1..w3 CTEs); the probability is the trainer's own
    RATIONAL sigmoid, so confidence/variability are pure arithmetic
    on bitwise-pinned margins — mean is one fixed-order 3-term sum,
    std one IEEE-exact sqrt — and the region thresholds compare
    QUANTIZED integers (var_q > 16777 ~ 0.001, conf_q >= 8388608 =
    0.5 exactly; the fixed grid the paper draws on the conf/var
    plane, constants probed non-vacuous at all three SFs).

    Scale shape: training is the broadcast-weight trainer (per-epoch
    shuffle = partitions x 65 quantized longs); the map itself is
    ONE corpus scan with all three epochs' weights embedded as
    literal arrays — 3 dots per row, zero joins, zero shuffles,
    embarrassingly parallel at 100 TB.

    tests/test_round9_ops.py::test_cartography_flipped_labels_are_hard
    pins the paper's headline use (planted label flips land in the
    low-confidence region)."""
    from wilayah_aceh_etl_spark.functions.vectors import (
        array_literal,
        as_double,
        dot,
    )
    from wilayah_aceh_etl_spark.operators.ml_train import (
        logreg_fit_trajectory_cached,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        F.when(F.col("label") < 5, 1).otherwise(0).alias("y"),
    )
    traj = logreg_fit_trajectory_cached(
        emb, cache_key=sf_dir, n_iter=3, lr=float(_TD_LR)
    )
    v = emb.select(
        "vec_id", as_double("embedding").alias("x"), "y"
    )
    ps, accs = [], []
    for w, b in traj:
        m = dot("x", array_literal(w)) + F.lit(float(b))
        sig = F.lit(0.5) + m / (F.lit(2.0) * (F.lit(1.0) + F.abs(m)))
        ps.append(F.when(F.col("y") == 1, sig).otherwise(F.lit(1.0) - sig))
        accs.append(((m > 0) == (F.col("y") == 1)).cast("int"))
    pp = v.select(
        "vec_id",
        "y",
        ps[0].alias("p1"),
        ps[1].alias("p2"),
        ps[2].alias("p3"),
        (accs[0] + accs[1] + accs[2]).alias("n_correct"),
    )
    conf = (F.col("p1") + F.col("p2") + F.col("p3")) / F.lit(3.0)
    cf = pp.select("vec_id", "y", "n_correct", "p1", "p2", "p3",
                   conf.alias("conf"))
    var = (
        (F.col("p1") - F.col("conf")) * (F.col("p1") - F.col("conf"))
        + (F.col("p2") - F.col("conf")) * (F.col("p2") - F.col("conf"))
        + (F.col("p3") - F.col("conf")) * (F.col("p3") - F.col("conf"))
    ) / F.lit(3.0)
    q = cf.select(
        "vec_id",
        "y",
        "n_correct",
        F.round(F.col("conf") * 16777216).cast("long").alias("conf_q"),
        F.round(F.sqrt(var) * 16777216).cast("long").alias("var_q"),
    )
    return q.select(
        "vec_id",
        F.col("y").cast("int").alias("y"),
        "conf_q",
        "var_q",
        F.col("n_correct").cast("int").alias("n_correct"),
        F.when(F.col("var_q") > 16777, "ambiguous")
        .when(F.col("conf_q") >= 8388608, "easy")
        .otherwise("hard")
        .alias("region"),
    ).orderBy("vec_id")


def _forgetting_oracle() -> str:
    return (
        "WITH "
        + _emb_train_sql("", "TRUE")
        + ","
        + _TD_MARGINS_SQL
        + """,
acc AS (
  SELECT vec_id, y,
         CASE WHEN (m1 > 0) = (y = 1) THEN 1 ELSE 0 END AS acc1,
         CASE WHEN (m2 > 0) = (y = 1) THEN 1 ELSE 0 END AS acc2,
         CASE WHEN (m3 > 0) = (y = 1) THEN 1 ELSE 0 END AS acc3
  FROM pe
)
SELECT vec_id, CAST(y AS INTEGER) AS y,
       CAST(acc1 AS INTEGER) AS acc1,
       CAST(acc2 AS INTEGER) AS acc2,
       CAST(acc3 AS INTEGER) AS acc3,
       CAST((CASE WHEN acc1 = 1 AND acc2 = 0 THEN 1 ELSE 0 END
             + CASE WHEN acc2 = 1 AND acc3 = 0 THEN 1 ELSE 0 END)
            AS INTEGER) AS n_forget,
       CAST(CASE WHEN acc1 = 1 THEN 1 WHEN acc2 = 1 THEN 2
                 WHEN acc3 = 1 THEN 3 ELSE 0 END AS INTEGER)
         AS first_learned,
       CAST(CASE WHEN (acc1 = 1 OR acc2 = 1 OR acc3 = 1)
                  AND NOT (acc1 = 1 AND acc2 = 0)
                  AND NOT (acc2 = 1 AND acc3 = 0)
                 THEN 1 ELSE 0 END AS INTEGER) AS unforgettable
FROM acc ORDER BY vec_id
"""
    )


@register(
    "data_pruning_forgetting_events",
    oracle=_forgetting_oracle(),
    tags=("ext", "ml", "curation", "training-dynamics", "forgetting"),
    description="forgetting events per example across GD epochs; "
    "unforgettable examples are the prunable ones",
)
def data_pruning_forgetting_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Forgetting events (Toneva et al. 2019, 'An Empirical Study of
    Example Forgetting during Deep Neural Network Learning'): an
    example is FORGOTTEN when the model classified it right at epoch
    e and wrong at e+1; examples that are learned and never
    forgotten ('unforgettable') are the ones the paper shows can be
    dropped from training with no accuracy cost — the
    forgetting-count is the pruning signal. Epoch predictions come
    from the same lr=2.0 trajectory as data_cartography_regions
    (logreg_fit_trajectory); every output column is an EXACT INTEGER
    decided by the sign of a bitwise-pinned margin — this is the
    fully-deterministic end of the training-dynamics family (no
    probabilities, no rounding anywhere).

    Scale shape: identical to cartography — broadcast-weight
    training, then ONE corpus scan with three literal-weight dots
    per row; zero joins, zero shuffles, no global state. Probed
    non-vacuous at all three SFs (20-205 forgetting events)."""
    from wilayah_aceh_etl_spark.functions.vectors import (
        array_literal,
        as_double,
        dot,
    )
    from wilayah_aceh_etl_spark.operators.ml_train import (
        logreg_fit_trajectory_cached,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        F.when(F.col("label") < 5, 1).otherwise(0).alias("y"),
    )
    traj = logreg_fit_trajectory_cached(
        emb, cache_key=sf_dir, n_iter=3, lr=float(_TD_LR)
    )
    v = emb.select(
        "vec_id", as_double("embedding").alias("x"), "y"
    )
    accs = []
    for w, b in traj:
        m = dot("x", array_literal(w)) + F.lit(float(b))
        accs.append(((m > 0) == (F.col("y") == 1)).cast("int"))
    acc = v.select(
        "vec_id",
        "y",
        accs[0].alias("acc1"),
        accs[1].alias("acc2"),
        accs[2].alias("acc3"),
    )
    forget12 = ((F.col("acc1") == 1) & (F.col("acc2") == 0)).cast("int")
    forget23 = ((F.col("acc2") == 1) & (F.col("acc3") == 0)).cast("int")
    ever = (
        (F.col("acc1") == 1) | (F.col("acc2") == 1) | (F.col("acc3") == 1)
    )
    return acc.select(
        "vec_id",
        F.col("y").cast("int").alias("y"),
        F.col("acc1").cast("int").alias("acc1"),
        F.col("acc2").cast("int").alias("acc2"),
        F.col("acc3").cast("int").alias("acc3"),
        (forget12 + forget23).cast("int").alias("n_forget"),
        F.when(F.col("acc1") == 1, 1)
        .when(F.col("acc2") == 1, 2)
        .when(F.col("acc3") == 1, 3)
        .otherwise(0)
        .cast("int")
        .alias("first_learned"),
        (ever & (forget12 + forget23 == 0)).cast("int").alias(
            "unforgettable"
        ),
    ).orderBy("vec_id")


def _rho_oracle() -> str:
    sig_m = "0.5 + mm / (2.0 * (1.0 + abs(mm)))"
    sig_i = "0.5 + mi / (2.0 * (1.0 + abs(mi)))"
    return (
        "WITH "
        + _emb_train_sql("tr", "vec_id % 5 != 0")
        + ","
        + _emb_train_sql("il", "vec_id % 5 = 0")
        + f""",
sc AS (
  SELECT v.vec_id, v.y,
         list_dot_product(v.x, (SELECT w FROM trw3))
           + (SELECT b FROM trw3) AS mm,
         list_dot_product(v.x, (SELECT w FROM ilw3))
           + (SELECT b FROM ilw3) AS mi
  FROM trv v
),
pr AS (
  SELECT vec_id, y,
         CASE WHEN y = 1 THEN {sig_m} ELSE 1.0 - ({sig_m}) END AS pm,
         CASE WHEN y = 1 THEN {sig_i} ELSE 1.0 - ({sig_i}) END AS pi
  FROM sc
)
SELECT vec_id, CAST(y AS INTEGER) AS y,
       CAST(ROUND(pm * 16777216) AS BIGINT) AS p_train_q,
       CAST(ROUND(pi * 16777216) AS BIGINT) AS p_holdout_q,
       CAST(ROUND((pi / pm) * 16777216) AS BIGINT) AS rho_ratio_q
FROM pr
ORDER BY pi / pm DESC, vec_id
LIMIT 20
"""
    )


@register(
    "data_selection_rho_loss",
    oracle=_rho_oracle(),
    tags=("ext", "ml", "curation", "selection", "rho-loss"),
    description="RHO-loss selection: top-20 by reducible holdout "
    "loss (train-model loss minus reference-model loss)",
)
def data_selection_rho_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reducible Holdout Loss selection (RHO-loss; Mindermann et al.
    2022, 'Prioritized Training on Points that are Learnable, Worth
    Learning, and Not Yet Learnt'): score each training candidate by
    L_train(x) - L_holdout(x) — the loss under the training model
    minus the loss under a reference model trained on held-out data
    — and select the top-k. High reducible loss means the point is
    LEARNABLE (the reference model gets it right) but NOT YET LEARNT
    (the training model doesn't); noisy/unlearnable points score low
    because BOTH models miss them. Both models are the quantized-GD
    logreg (3 iterations, lr=2.0): main on vec_id%5!=0, reference on
    the vec_id%5==0 holdout.

    Determinism device (the EL2N monotone-substitution idiom): with
    L = -ln(p) the score is ln(p_holdout) - ln(p_train) =
    ln(p_holdout/p_train), a strictly increasing function of the
    RATIO p_holdout/p_train — so ranking by the ratio reproduces the
    exact RHO order while staying PURE ARITHMETIC on bitwise-pinned
    rational-sigmoid probabilities (no transcendental in the
    ordering; ln never computed). Selection is orderBy+limit →
    TakeOrderedAndProject, the scale-safe top-k.

    Scale shape: two broadcast-weight trainings (the holdout side is
    1/5 of one corpus pass), then ONE scan of the candidate pool
    with both weight vectors embedded literally — two dots per row,
    zero joins. tests/test_round9_ops.py::test_rho_loss_selects_learnable_not_noise
    pins the paper's semantics on a planted corpus (label-noise
    points rank below clean not-yet-learnt points)."""
    from wilayah_aceh_etl_spark.functions.vectors import (
        array_literal,
        as_double,
        dot,
    )
    from wilayah_aceh_etl_spark.operators.ml_train import logreg_fit

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        F.when(F.col("label") < 5, 1).otherwise(0).alias("y"),
    )
    train = emb.filter(F.col("vec_id") % 5 != 0)
    holdout = emb.filter(F.col("vec_id") % 5 == 0)
    wm, bm = logreg_fit(train, n_iter=3, lr=float(_TD_LR))
    wi, bi = logreg_fit(holdout, n_iter=3, lr=float(_TD_LR))
    v = train.select(
        "vec_id", as_double("embedding").alias("x"), "y"
    )

    def _p(w: list[float], b: float):
        m = dot("x", array_literal(w)) + F.lit(float(b))
        sig = F.lit(0.5) + m / (F.lit(2.0) * (F.lit(1.0) + F.abs(m)))
        return F.when(F.col("y") == 1, sig).otherwise(F.lit(1.0) - sig)

    pr = v.select(
        "vec_id", "y", _p(wm, bm).alias("pm"), _p(wi, bi).alias("pi")
    )
    return (
        pr.orderBy((F.col("pi") / F.col("pm")).desc(), "vec_id")
        .limit(20)
        .select(
            "vec_id",
            F.col("y").cast("int").alias("y"),
            F.round(F.col("pm") * 16777216).cast("long").alias("p_train_q"),
            F.round(F.col("pi") * 16777216).cast("long").alias("p_holdout_q"),
            F.round((F.col("pi") / F.col("pm")) * 16777216)
            .cast("long")
            .alias("rho_ratio_q"),
        )
    )


def _ssl_prototypes_oracle() -> str:
    from wilayah_aceh_etl_spark.plans.ext_queries import (
        _COS,
        _VEC_CTE,
        _ivf_km_step_sql,
    )

    cos = _COS.format(a="v.e", b="c.ce")
    return (
        "WITH "
        + _VEC_CTE
        + """,
u AS (
  SELECT vec_id, unnest(e) AS val, generate_subscripts(e, 1) AS pos FROM v
),
c1 AS (SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id < 16),
"""
        + ",".join(_ivf_km_step_sql(i) for i in (1, 2))
        + f""",
fs AS (
  SELECT v.vec_id, c.cid, {cos} AS cs FROM v CROSS JOIN c3 c
),
asn AS (
  SELECT vec_id, cid, cs FROM (
    SELECT vec_id, cid, cs,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY cs DESC, cid) AS rk
    FROM fs
  ) WHERE rk = 1
),
pr AS (
  SELECT vec_id, cid,
         CAST(ROUND(cs * 16777216) AS BIGINT) AS proto_q
  FROM asn
),
kk AS (SELECT (2 * COUNT(*)) // 10 AS k FROM pr),
ranked AS (
  SELECT vec_id, cid, proto_q,
         ROW_NUMBER() OVER (ORDER BY proto_q DESC, vec_id) AS rn
  FROM pr
)
SELECT vec_id, CAST(cid AS BIGINT) AS cid, proto_q,
       CAST(CASE WHEN rn <= (SELECT k FROM kk) THEN 1 ELSE 0 END
            AS INTEGER) AS pruned
FROM ranked ORDER BY vec_id
"""
    )


@register(
    "data_pruning_ssl_prototypes",
    oracle=_ssl_prototypes_oracle(),
    tags=("ext", "ml", "curation", "pruning", "prototypes", "kmeans"),
    description="SSL-prototype pruning: drop the 20% most "
    "prototypical vectors (highest cosine to trained k-means center)",
)
def data_pruning_ssl_prototypes(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Self-supervised prototype pruning (Sorscher et al. 2022,
    'Beyond neural scaling laws: beating power law scaling via data
    pruning'): cluster the embedding corpus with k-means (the
    prototypes), score every example by COSINE TO ITS ASSIGNED
    PROTOTYPE, and — data being abundant — prune the most
    prototypical 20%: the paper's central result is that with enough
    data you should keep the HARD (atypical) examples and drop the
    easy redundant core. Prototypes are the existing spherical
    quantized-mean k-means (2 Lloyd iterations, first-16 seeds);
    assignment is the map-side argmax with the (cos, -cid)
    tie-break every oracle mirrors
    (operators/similarity.py::prototype_assignments — pure
    composition, zero new numeric paths).

    Scale shape: NO global row_number — the prune boundary reuses
    data_pruning_el2n_margin's HISTOGRAM device on the quantized
    cosine (hash aggregate over distinct micro-cosines, cumulative
    window on that small relation, 1-row threshold+quota broadcast;
    boundary ties resolve in a window PARTITIONED by the quantized
    value). k = floor(0.2·n) is (2n) div 10, exact in both engines;
    the oracle pins equivalence to the definitional global rank.

    tests/test_round9_ops.py::test_ssl_prototypes_prunes_cluster_cores
    pins the semantics on a planted corpus (tight cluster cores
    pruned, outliers kept)."""
    from wilayah_aceh_etl_spark.operators.similarity import (
        prototype_assignments,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    proto = prototype_assignments(emb, n_centroids=16, n_iter=2)
    h = proto.select(
        "vec_id",
        "cid",
        F.round(F.col("proto_cos") * 16777216).cast("long").alias("proto_q"),
    ).withColumn("neg_q", -F.col("proto_q"))
    hist = h.groupBy("neg_q").agg(F.count(F.lit(1)).alias("c"))
    wcum = Window.orderBy("neg_q").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select("neg_q", "c", F.sum("c").over(wcum).alias("cum"))
    kdf = h.agg(F.expr("(2 * count(*)) div 10").alias("k"))
    tq = (
        cum.crossJoin(kdf)
        .filter(F.col("cum") >= F.col("k"))
        .orderBy("neg_q")
        .limit(1)
        .select(
            F.col("neg_q").alias("t"),
            (F.col("k") - (F.col("cum") - F.col("c"))).alias("quota"),
        )
    )
    wg = Window.partitionBy("neg_q").orderBy("vec_id")
    return (
        h.withColumn("rn", F.row_number().over(wg))
        .crossJoin(tq)
        .select(
            "vec_id",
            F.col("cid").cast("long").alias("cid"),
            "proto_q",
            (
                (F.col("neg_q") < F.col("t"))
                | (
                    (F.col("neg_q") == F.col("t"))
                    & (F.col("rn") <= F.col("quota"))
                )
            )
            .cast("int")
            .alias("pruned"),
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# DoReMi domain reweighting (Xie et al. 2023): Group-DRO over the
# documents' source domains, exact-integer multiplicative weights.
# ---------------------------------------------------------------------------


def _doremi_step_sql(t: int) -> str:
    """One DoReMi step as DuckDB CTEs, mirroring
    operators/ml_train.py::doremi_domain_weights bit for bit:
    quantized per-domain excess loss vs the reference, the INTEGER
    linearized-MW update, the exact-int-ratio per-domain training
    weight, and the weighted quantized-GD proxy update."""
    return f"""
mx{t} AS MATERIALIZED (
  SELECT v.vec_id, v.dom, v.y, v.pref,
         list_dot_product(v.x, (SELECT w FROM dw{t - 1})) +
           (SELECT b FROM dw{t - 1}) AS m
  FROM dv v
),
px{t} AS MATERIALIZED (
  SELECT vec_id, dom, y, pref,
         0.5 + m / (2.0 * (1.0 + abs(m))) AS sg
  FROM mx{t}
),
ex{t} AS (
  SELECT dom,
         CAST(SUM(CAST(ROUND((pref -
                (CASE WHEN y = 1 THEN sg ELSE 1.0 - sg END))
                * 16777216) AS BIGINT)) AS BIGINT) AS s
  FROM px{t} GROUP BY dom
),
al{t} AS MATERIALIZED (
  -- the aq·excess product runs in HUGEINT: in BIGINT it nears 2^63
  -- once a domain holds ~1e4 rows of large excess (aq ~ 5.7e7,
  -- excess <= nd·2^24), where DuckDB would abort while the Python
  -- side's arbitrary-precision ints keep going (r9 ADVICE). The
  -- quotient is back under ~2^27, so aq stays BIGINT downstream.
  SELECT a.dom,
         CAST(a.aq + (CAST(a.aq AS HUGEINT) * GREATEST(e.s, 0))
              // (2 * d.nd * 16777216) AS BIGINT) AS aq
  FROM al{t - 1} a JOIN ex{t} e USING (dom) JOIN dn d USING (dom)
),
sal{t} AS (SELECT CAST(SUM(aq) AS BIGINT) AS sq FROM al{t}),
an{t} AS (
  SELECT dom,
         CAST(aq AS DOUBLE) / CAST((SELECT sq FROM sal{t}) AS DOUBLE) AS a
  FROM al{t}
),
wt{t} AS (
  SELECT a.dom,
         CAST(a.aq * (SELECT n FROM dnn) AS DOUBLE) /
           CAST((SELECT sq FROM sal{t}) * d.nd AS DOUBLE) AS wt
  FROM al{t} a JOIN dn d USING (dom)
),
gw{t} AS (
  SELECT u.pos,
         CAST(SUM(CAST(ROUND(w.wt * (p.sg - p.y) * u.val * 16777216)
                       AS BIGINT)) AS BIGINT) AS s
  FROM px{t} p
  JOIN du u ON u.vec_id = p.vec_id
  JOIN wt{t} w ON w.dom = p.dom
  GROUP BY u.pos
),
gb{t} AS (
  SELECT CAST(SUM(CAST(ROUND(w.wt * (p.sg - p.y) * 16777216)
                       AS BIGINT)) AS BIGINT) AS s
  FROM px{t} p JOIN wt{t} w ON w.dom = p.dom
),
dw{t} AS MATERIALIZED (
  SELECT
    (SELECT list(
        wl.wj - 0.5 * (CAST(COALESCE(g.s, 0) AS DOUBLE) / 16777216 /
                       (SELECT n FROM dnn))
        ORDER BY wl.pos)
     FROM (SELECT unnest(w) AS wj, generate_subscripts(w, 1) AS pos
           FROM dw{t - 1}) wl
     LEFT JOIN gw{t} g ON g.pos = wl.pos) AS w,
    (SELECT b FROM dw{t - 1}) -
      0.5 * (CAST((SELECT s FROM gb{t}) AS DOUBLE) / 16777216 /
             (SELECT n FROM dnn)) AS b
)"""


def _doremi_oracle() -> str:
    from wilayah_aceh_etl_spark.plans.round7_queries import _lr_step_sql

    sig_r = "0.5 + mr / (2.0 * (1.0 + abs(mr)))"
    return (
        _qc_features_sql(_QC_Y_CLEAN, extra_cols=", source AS dom")
        + f""",
rv AS MATERIALIZED (
  SELECT x0.doc_id AS vec_id, x0.x, d.y
  FROM xv x0 JOIN docs0 d USING (doc_id)
),
rnn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM rv),
ru AS (
  SELECT vec_id, unnest(x) AS val, generate_subscripts(x, 1) AS pos
  FROM rv
),
rw0 AS (
  SELECT (SELECT list(0.0) FROM range(64)) AS w, 0.0 AS b
),
"""
        + ",".join(_lr_step_sql(i, pfx="r") for i in (1, 2, 3))
        + f""",
dmr AS MATERIALIZED (
  SELECT x0.doc_id AS vec_id, x0.x, d.y, d.dom,
         list_dot_product(x0.x, (SELECT w FROM rw3)) +
           (SELECT b FROM rw3) AS mr
  FROM xv x0 JOIN docs0 d USING (doc_id)
),
dv AS MATERIALIZED (
  SELECT vec_id, x, y, dom,
         CASE WHEN y = 1 THEN {sig_r} ELSE 1.0 - ({sig_r}) END AS pref
  FROM dmr
),
dnn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM dv),
dn AS (
  SELECT dom, CAST(COUNT(*) AS BIGINT) AS nd FROM dv GROUP BY dom
),
du AS (
  SELECT vec_id, unnest(x) AS val, generate_subscripts(x, 1) AS pos
  FROM dv
),
al0 AS (SELECT dom, CAST(16777216 AS BIGINT) AS aq FROM dn),
dw0 AS (
  SELECT (SELECT list(0.0) FROM range(64)) AS w, 0.0 AS b
),
"""
        + ",".join(_doremi_step_sql(t) for t in (1, 2, 3))
        + """
SELECT an1.dom AS source, d.nd AS n_docs,
       CAST(ROUND(an1.a * 16777216) AS BIGINT) AS alpha1_q,
       CAST(ROUND(an2.a * 16777216) AS BIGINT) AS alpha2_q,
       CAST(ROUND(an3.a * 16777216) AS BIGINT) AS alpha3_q,
       CAST(ROUND((an1.a + an2.a + an3.a) / 3.0 * 16777216) AS BIGINT)
         AS alpha_bar_q
FROM an1 JOIN an2 USING (dom) JOIN an3 USING (dom) JOIN dn d USING (dom)
ORDER BY source
"""
    )


@register(
    "data_mixture_doremi_weights",
    oracle=_doremi_oracle(),
    tags=("ext", "ml", "curation", "mixture", "doremi", "group-dro"),
    description="DoReMi Group-DRO domain reweighting: per-source "
    "mixture weights from proxy-vs-reference excess loss",
)
def data_mixture_doremi_weights(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DoReMi (Xie et al. 2023): learn the PRETRAINING MIXTURE by
    Group DRO — train a reference model normally, retrain a proxy
    from zero while upweighting, between steps, whichever domains
    the proxy lags the reference on most (their EXCESS loss), and
    ship the step-averaged domain weights as the corrected mixture.
    Domains are the documents' `source` buckets; both models are the
    quantized-GD logreg over the shared hashed token-rate features
    (y = [lang='en'], the quality-domain proxy task), 3 steps,
    lr=0.5. The operator docstring
    (operators/ml_train.py::doremi_domain_weights) itemizes the
    determinism devices: quantized-before-sum excess losses, the
    INTEGER linearized multiplicative-weights update (no exp), the
    exact-int-ratio per-row training weight, and the weighted
    gradient quantized per row — the oracle re-derives all of it,
    reference training included, in SQL.

    Scale shape: two broadcast-weight trainings over one persisted
    feature relation; the DRO state crossing the driver per step is
    D=20 longs. Output is one row per domain (the mixture table a
    sampler consumes — data_mixture_rates is the apply side).

    tests/test_round9_ops.py::test_doremi_upweights_learnable_domain
    pins the DRO semantics on a planted corpus: the separable
    (learnable) domain's weight rises above the label-noise domain's.
    """
    from wilayah_aceh_etl_spark.operators.ml_train import (
        doremi_domain_weights,
    )

    docs0 = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
        F.col("source").alias("dom"),
    )
    xv = _qc_feature_vectors(spark, sf_dir)
    v = xv.join(docs0, "doc_id")
    return (
        doremi_domain_weights(
            v,
            n_iter=3,
            lr=0.5,
            id_col="doc_id",
            vec_col="x",
            label_col="y",
            domain_col="dom",
        )
        .select(
            F.col("dom").alias("source"),
            "n_docs",
            "alpha1_q",
            "alpha2_q",
            "alpha3_q",
            "alpha_bar_q",
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Tokenizer fertility by language + Kneser-Ney bigram LM — the two
# published text/tokenizer metrics the registry still lacked.
# ---------------------------------------------------------------------------


def _fertility_oracle() -> str:
    from wilayah_aceh_etl_spark.plans.round8_queries import (
        _BPE_APPLY_ORACLE,
    )

    return (
        "WITH base AS ("
        + _BPE_APPLY_ORACLE
        + """)
SELECT d.lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(b.n_words) AS BIGINT) AS n_words,
       CAST(SUM(b.n_tokens) AS BIGINT) AS n_tokens,
       ROUND(CAST(SUM(b.n_tokens) AS DOUBLE) / SUM(b.n_words), 6)
         AS fertility,
       ROUND(CAST(SUM(b.n_chars) AS DOUBLE) / SUM(b.n_tokens), 6)
         AS chars_per_token
FROM base b JOIN documents d USING (doc_id)
GROUP BY d.lang
ORDER BY d.lang
"""
    )


@register(
    "tokenizer_fertility_by_lang",
    oracle=_fertility_oracle(),
    tags=("ext", "text", "tokenizer", "bpe", "multilingual"),
    description="per-language tokenizer fertility (subword tokens "
    "per word) and compression under the trained BPE",
)
def tokenizer_fertility_by_lang(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Tokenizer FERTILITY per language (Ács 2019; Rust et al. 2021,
    'How Good is Your Tokenizer?'): subword tokens per whitespace
    word, the standard metric for how equitably one shared
    vocabulary serves each language — high-fertility languages pay
    more sequence length (and more compute) per word, the
    'tokenizer premium' multilingual-LM work audits. Composed by
    CALLING tokenizer_bpe_apply_counts (train 3 BPE merges on the
    corpus, tokenize, per-doc counts — zero duplicated plan code)
    and aggregating its exact-integer counts per language; fertility
    and chars-per-token are each ONE IEEE division of exact BIGINTs,
    rounded for display. Scale shape: inherits the apply query's
    vocabulary-sized tokenization + broadcast join; the per-language
    rollup is one 2-column aggregate."""
    from wilayah_aceh_etl_spark.plans.round8_queries import (
        tokenizer_bpe_apply_counts,
    )

    base = tokenizer_bpe_apply_counts(spark, sf_dir)
    langs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang"
    )
    return (
        base.join(langs, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_words").cast("long").alias("n_words"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.round(
                F.sum("n_tokens").cast("double") / F.sum("n_words"), 6
            ).alias("fertility"),
            F.round(
                F.sum("n_chars").cast("double") / F.sum("n_tokens"), 6
            ).alias("chars_per_token"),
        )
        .orderBy("lang")
    )


@register(
    "text_bigram_kneser_ney",
    oracle="""
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
big AS MATERIALIZED (
  SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
  FROM words, UNNEST(range(1, len(w))) AS t(i)
  WHERE len(w) >= 2
),
c2 AS MATERIALIZED (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2 FROM big GROUP BY 1, 2
),
cl AS (
  SELECT w1, CAST(SUM(c2) AS BIGINT) AS cl,
         CAST(COUNT(*) AS BIGINT) AS nf
  FROM c2 GROUP BY w1
),
cr AS (
  SELECT w2, CAST(COUNT(*) AS BIGINT) AS nb FROM c2 GROUP BY w2
),
nbig AS (SELECT CAST(COUNT(*) AS BIGINT) AS nbig FROM c2),
lpterms AS (
  SELECT b.doc_id,
         ln((c2.c2 - 0.75) / cl.cl
            + 0.75 * cl.nf / cl.cl * (cr.nb / CAST(n.nbig AS DOUBLE)))
           AS lp
  FROM big b
  JOIN c2 ON c2.w1 = b.w1 AND c2.w2 = b.w2
  JOIN cl ON cl.w1 = b.w1
  JOIN cr ON cr.w2 = b.w2
  CROSS JOIN nbig n
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       ROUND(SUM(lp) / COUNT(*), 3) AS kn_avg_logprob
FROM lpterms GROUP BY doc_id
ORDER BY doc_id
""",
    tags=("ext", "text", "lm", "kneser-ney", "quality"),
    description="interpolated Kneser-Ney bigram LM logprob per doc "
    "(absolute discounting + continuation probability)",
)
def text_bigram_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM (Kneser & Ney 1995; Chen &
    Goodman 1999's benchmark formulation) — the LM that CCNet-style
    perplexity filters actually ship (KenLM is modified KN):
    P(w2|w1) = (c(w1,w2) − D)/c(w1·) + D·N1+(w1,·)/c(w1·) ·
    N1+(·,w2)/N1+(··), with absolute discount D = 0.75 and the
    CONTINUATION probability (how many distinct contexts a word
    follows) replacing the raw unigram — the insight that made KN
    the strongest n-gram smoother. Every count is an exact integer
    from two aggregates over the bigram-type table (c2 → per-w1
    totals+continuations, per-w2 contexts, one global type count);
    in-corpus bigrams always have c ≥ 1 > D, so the discounted term
    stays positive. The per-doc score is mean ln P rounded to 3
    decimals (text_bigram_lm_logprob's exact output contract, so
    the two LMs are drop-in comparable).

    Scale shape: identical to the interpolated-bigram query — the
    LM tables hash-partition on token (the natural key), the
    broadcast 1-row type total rides a cross join, and scoring is
    candidate-scoped joins on (w1, w2); no corpus self-join."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select("doc_id", F.split("text", " ").alias("w"))
    big = (
        words.filter(F.size("w") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(slice(w, 1, size(w) - 1),"
                    " (x, i) -> struct(x AS w1, element_at(w, i + 2) AS w2))"
                )
            ).alias("bg"),
        )
        .select(
            "doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2")
        )
    )
    c2 = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    cl = c2.groupBy("w1").agg(
        F.sum("c2").alias("cl"), F.count(F.lit(1)).alias("nf")
    )
    cr = c2.groupBy("w2").agg(F.count(F.lit(1)).alias("nb"))
    nbig = c2.agg(F.count(F.lit(1)).alias("nbig"))
    lp = F.log(
        (F.col("c2") - F.lit(0.75)) / F.col("cl")
        + F.lit(0.75) * F.col("nf") / F.col("cl")
        * (F.col("nb") / F.col("nbig").cast("double"))
    )
    return (
        big.join(c2, ["w1", "w2"])
        .join(cl, "w1")
        .join(cr, "w2")
        .crossJoin(F.broadcast(nbig))
        .select("doc_id", lp.alias("lp"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.round(F.sum("lp") / F.count(F.lit(1)), 3).alias(
                "kn_avg_logprob"
            ),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# k-center greedy coreset (farthest-point traversal) — the coreset-
# selection family's canonical member.
# ---------------------------------------------------------------------------


def _kcenter_oracle(k: int = 8) -> str:
    def d2(p: str) -> str:
        ce = f"(SELECT e FROM p{p})"
        return (
            f"greatest(list_dot_product(v.e, v.e)"
            f" - 2 * list_dot_product(v.e, {ce})"
            f" + list_dot_product({ce}, {ce}), 0)"
        )

    ctes = [
        "v AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e"
        " FROM embeddings)",
        "p1 AS MATERIALIZED (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT 1)",
    ]
    for j in range(2, k + 1):
        terms = ", ".join(d2(str(i)) for i in range(1, j))
        dmin = terms if j == 2 else f"LEAST({terms})"
        notin = " AND ".join(
            f"v.vec_id != (SELECT vec_id FROM p{i})" for i in range(1, j)
        )
        ctes.append(
            f"m{j} AS MATERIALIZED (SELECT v.vec_id, v.e, {dmin} AS dmin"
            f" FROM v v WHERE {notin})"
        )
        ctes.append(
            f"p{j} AS MATERIALIZED (SELECT vec_id, e, dmin FROM m{j}"
            f" ORDER BY dmin DESC, vec_id LIMIT 1)"
        )
    selects = [
        "SELECT 1 AS step, (SELECT vec_id FROM p1) AS vec_id,"
        " 0.0 AS radius"
    ] + [
        f"SELECT {j}, vec_id, ROUND(sqrt(dmin), 6) FROM p{j}"
        for j in range(2, k + 1)
    ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + "\n"
        + "\nUNION ALL ".join(selects)
        + "\nORDER BY step"
    )


@register(
    "data_selection_kcenter_coreset",
    oracle=_kcenter_oracle(8),
    tags=("ext", "ml", "curation", "coreset", "k-center"),
    description="k-center greedy coreset: 8 farthest-point centers "
    "with the coverage radius at each step",
)
def data_selection_kcenter_coreset(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """k-center greedy coreset selection (Sener & Savarese 2018,
    'Active Learning for CNNs: A Core-Set Approach'; the classic
    Gonzalez 1985 farthest-point traversal with its 2-approximation
    guarantee): start from the first vector, repeatedly add the
    point FARTHEST from the selected set, and report each step's
    max-min distance — the coverage radius, which certifies how well
    k centers summarize the corpus (and is non-increasing in k, the
    monotonicity tests/test_round9_ops.py pins). Greedy k-center is
    the coreset front-end of active-learning and data-selection
    pipelines — the diversity-first complement of the density-first
    SSL-prototype pruning above.

    Determinism: distances are the k-means oracle's exact expression
    — greatest(e·e − 2·e·c + c·c, 0) on bitwise-pinned dot folds —
    the min over selected centers is LEAST (order-insensitive over
    IEEE doubles), argmax ties break to the LOW vec_id via the
    max-of-(d, −vec_id) struct device, and the emitted radius is
    ROUND(sqrt(dmin), 6) computed ENGINE-side on both sides.

    Scale shape: step j is ONE corpus scan — a map-side expression
    against ≤k literal centers feeding a single partial-combined
    max-struct aggregate (the same broadcast-state pattern as the
    k-means trainer); driver state is O(k·d). k scans for k centers
    is the standard distributed greedy k-center; at 100 TB each
    scan is embarrassingly parallel with no joins and no shuffle
    beyond the k-row aggregate. The scans are SEQUENTIAL, though —
    wall-clock is k × full-scan latency — so this exact-greedy form
    is for k in the tens; if ever exposed as a library operator
    with user-chosen k in the hundreds, the published 100-TB form
    is sample-then-refine coresets (e.g. Bachem et al.'s lightweight
    coresets: one uniform/importance sample pass, then greedy on
    the sample), trading the 2-approximation for one scan."""
    from wilayah_aceh_etl_spark.functions.vectors import (
        array_literal,
        as_double,
        dot,
    )

    k = 8
    v = (
        load_table(spark, sf_dir, "embeddings")
        .select(
            "vec_id", as_double("embedding").alias("e")
        )
        .persist()
    )
    try:
        seed = v.orderBy("vec_id").limit(1).first()
        centers = [(int(seed["vec_id"]), list(seed["e"]))]
        out = [(1, centers[0][0], None)]  # radius filled engine-side

        def _d2(cv: list[float]):
            carr = array_literal(cv)
            return F.greatest(
                dot("e", "e")
                - 2 * dot("e", carr)
                + dot(carr, carr),
                F.lit(0.0),
            )

        for j in range(2, k + 1):
            dists = [_d2(cv) for _, cv in centers]
            dmin = dists[0] if len(dists) == 1 else F.least(*dists)
            picked = set(cid for cid, _ in centers)
            # the winning VECTOR rides along in the max struct — the
            # unique -vec_id tiebreak decides every comparison before
            # the array field is reached, so one scan per step picks
            # both the id and its coordinates (no second fetch pass)
            best = (
                v.filter(~F.col("vec_id").isin(*picked))
                .agg(
                    F.max(
                        F.struct(
                            dmin.alias("d"),
                            (-F.col("vec_id")).alias("nid"),
                            F.col("e").alias("e"),
                        )
                    ).alias("m")
                )
                .first()["m"]
            )
            nid = int(-best["nid"])
            centers.append((nid, list(best["e"])))
            out.append((j, nid, float(best["d"])))
        rows = spark.createDataFrame(
            out, "step int, vec_id long, dmin double"
        )
        return rows.select(
            "step",
            "vec_id",
            F.when(F.col("step") == 1, F.lit(0.0))
            .otherwise(F.round(F.sqrt("dmin"), 6))
            .alias("radius"),
        ).orderBy("step")
    finally:
        v.unpersist()


# ---------------------------------------------------------------------------
# UniMax language-budget allocation + Rényi tokenizer efficiency.
# ---------------------------------------------------------------------------

# UniMax parameters for the registered query: epoch cap E=1 and
# budget B = (4·total)//5. On this corpus's 2.5x language skew that
# puts the waterline MID-LIST (de/es/zh fully allocated, fr/en capped
# at the uniform share) so the gate row exercises both regimes; the
# planted test runs E=2 on a skewed corpus to pin the epoch-cap side.
_UNIMAX_E = 1


@register(
    "data_mixture_unimax_allocation",
    oracle=f"""
WITH c AS (
  SELECT lang, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS c
  FROM documents GROUP BY lang
),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS total,
               CAST(COUNT(*) AS BIGINT) AS nl FROM c),
bud AS (SELECT (4 * total) // 5 AS b FROM tot),
r AS (
  SELECT lang, c,
         ROW_NUMBER() OVER (ORDER BY c, lang) AS i,
         CAST(COALESCE(SUM(c) OVER (ORDER BY c, lang
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS cum
  FROM c
),
ok AS (
  SELECT lang, c, i, cum,
         {_UNIMAX_E} * c * ((SELECT nl FROM tot) - i + 1)
           <= (SELECT b FROM bud) - {_UNIMAX_E} * cum AS oki
  FROM r
),
fl AS (
  SELECT lang, c, i, cum, oki,
         MIN(CAST(oki AS INTEGER)) OVER (ORDER BY i
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1 AS is_full
  FROM ok
),
wl AS (  -- the waterline: uniform share at the first non-full rank
  SELECT CAST((SELECT b FROM bud) - {_UNIMAX_E} * cum AS DOUBLE) /
         ((SELECT nl FROM tot) - i + 1) AS u
  FROM fl WHERE NOT is_full ORDER BY i LIMIT 1
),
alloc AS (
  SELECT lang, c, is_full,
         CASE WHEN is_full THEN CAST({_UNIMAX_E} * c AS DOUBLE)
              ELSE (SELECT u FROM wl) END AS a
  FROM fl
)
SELECT lang, c AS n_tokens,
       CAST(is_full AS INTEGER) AS fully_allocated,
       ROUND(a, 6) AS alloc_tokens,
       ROUND(a / c, 6) AS epochs
FROM alloc ORDER BY lang
""",
    tags=("ext", "mixture", "sampling", "multilingual", "unimax"),
    description="UniMax language sampling: epoch-capped water-filling "
    "of a token budget across languages",
)
def data_mixture_unimax_allocation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """UniMax language-budget allocation (Chung et al. 2023, 'UniMax:
    Fairer and More Effective Language Sampling for Large-Scale
    Multilingual Pretraining'): spread a token budget B as UNIFORMLY
    as possible across languages, except no language repeats more
    than E epochs of its own data — the published alternative to
    temperature sampling (data_mixture_temperature_epochs is that
    baseline). Greedy smallest-corpus-first allocation has a closed
    form: sorted ascending by corpus size, a language is FULLY
    allocated (E epochs) while E·c_i·(remaining languages) fits the
    remaining budget, and everyone past the waterline gets the
    uniform share. The breakpoint predicate is INTEGER
    cross-multiplied (E·c·r ≤ B − E·cum — never a float), the
    prefix rule is a cumulative boolean MIN over the sorted ranks,
    and the share is ONE division of exact integers; E=1 and
    B=(4·total)//5 put the waterline mid-list on this corpus (both
    regimes in the gate row). The window sorts N_LANGUAGES rows —
    post-aggregation, metadata-scale at any corpus size."""
    c = (
        load_table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(
            F.sum(F.size(F.split("text", " ")))
            .cast("long")
            .alias("c")
        )
    )
    tot = c.agg(
        F.sum("c").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("nl"),
    ).withColumn("b", F.expr("(4 * total) div 5"))
    w = Window.orderBy("c", "lang")
    r = (
        c.crossJoin(F.broadcast(tot))
        .withColumn("i", F.row_number().over(w))
        .withColumn(
            "cum",
            F.coalesce(
                F.sum("c").over(
                    w.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ).cast("long"),
        )
    )
    e = F.lit(_UNIMAX_E)
    ok = r.withColumn(
        "oki",
        e * F.col("c") * (F.col("nl") - F.col("i") + 1)
        <= F.col("b") - e * F.col("cum"),
    )
    wi = Window.orderBy("i").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    fl = ok.withColumn(
        "is_full", F.min(F.col("oki").cast("int")).over(wi) == 1
    )
    # the waterline row: the LOWEST-rank non-full language. Sorting
    # is_full ASC first keeps this relation at exactly 1 row even if
    # EVERY language is fully allocated (budget >= E*total) — in that
    # case u rides along unused (no CASE branch reads it), matching
    # the oracle's NULL scalar subquery, instead of an empty cross
    # join dropping every output row.
    wl = (
        fl.orderBy(F.col("is_full").cast("int"), "i")
        .limit(1)
        .select(
            (
                (F.col("b") - e * F.col("cum")).cast("double")
                / (F.col("nl") - F.col("i") + 1)
            ).alias("u")
        )
    )
    alloc = fl.crossJoin(F.broadcast(wl)).select(
        "lang",
        F.col("c").alias("n_tokens"),
        F.col("is_full").cast("int").alias("fully_allocated"),
        F.when(F.col("is_full"), (e * F.col("c")).cast("double"))
        .otherwise(F.col("u"))
        .alias("a"),
        "c",
    )
    return alloc.select(
        "lang",
        "n_tokens",
        "fully_allocated",
        F.round(F.col("a"), 6).alias("alloc_tokens"),
        F.round(F.col("a") / F.col("c"), 6).alias("epochs"),
    ).orderBy("lang")


def _renyi_oracle() -> str:
    from wilayah_aceh_etl_spark.plans.round7_queries import _bpe_step_sql

    return (
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
tk AS MATERIALIZED (
  SELECT w,
         string_split(
           replace(replace(replace(
             array_to_string(string_split(w, ''), '|'),
             (SELECT a || '|' || b FROM best1), (SELECT a || b FROM best1)),
             (SELECT a || '|' || b FROM best2), (SELECT a || b FROM best2)),
             (SELECT a || '|' || b FROM best3), (SELECT a || b FROM best3)),
           '|') AS parts
  FROM (SELECT DISTINCT w FROM dwf)
),
stream AS (
  SELECT d.doc_id, UNNEST(t.parts) AS tok
  FROM dwf d JOIN tk t USING (w)
),
bylang AS (
  SELECT doc.lang, s.tok, CAST(COUNT(*) AS BIGINT) AS c
  FROM stream s JOIN documents doc USING (doc_id)
  GROUP BY 1, 2
),
agg AS (
  SELECT lang, CAST(SUM(c) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS vocab_size,
         CAST(SUM(c * c) AS BIGINT) AS sum_c2
  FROM bylang GROUP BY lang
)
SELECT lang, n_tokens, vocab_size, sum_c2,
       ROUND(ln((CAST(n_tokens AS DOUBLE) * n_tokens) / sum_c2), 6)
         AS renyi2,
       ROUND(ln((CAST(n_tokens AS DOUBLE) * n_tokens) / sum_c2)
             / ln(CAST(vocab_size AS DOUBLE)), 6) AS efficiency
FROM agg ORDER BY lang
"""
    )


@register(
    "tokenizer_renyi_efficiency",
    oracle=_renyi_oracle(),
    tags=("ext", "text", "tokenizer", "entropy", "renyi"),
    description="Rényi (collision) entropy efficiency of the BPE "
    "token distribution per language",
)
def tokenizer_renyi_efficiency(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Rényi efficiency of the tokenizer (Zouhar et al. 2023,
    'Tokenization and the Noiseless Channel'): a GOOD tokenizer
    spreads probability mass evenly over its vocabulary, and the
    Rényi entropy of the token unigram distribution — normalized by
    ln|V| — predicts downstream quality better than raw compression.
    This query scores the repo's own 3-merge BPE per language at
    α=2 (collision entropy), the family member that stays EXACT:
    H₂ = ln(N²/Σc²) needs only the integer token counts — Σc² is an
    exact BIGINT, N² one exact product — so both engines feed ln the
    bitwise-same rational (the paper's α=2.5 needs float powers of
    every probability; the α choice is documented, not hidden).
    Efficiency = H₂/ln V ∈ (0, 1], 1 = perfectly uniform usage.

    Scale shape: inherits the BPE apply path (vocabulary-sized
    tokenization, broadcast merge table), then two hash aggregates
    — (lang, token) counts and the per-language Σ/Σc²/count rollup —
    both on natural keys; no joins over the corpus beyond the
    vocab-sized broadcast."""
    from wilayah_aceh_etl_spark.plans.round7_queries import (
        _bpe_learn_merges,
    )

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
    tk = (
        words.select("w")
        .distinct()
        .select("w", F.split(tok, "\\|").alias("parts"))
    )
    stream = words.join(F.broadcast(tk), "w").select(
        "doc_id", F.explode("parts").alias("tok")
    )
    langs = docs.select("doc_id", "lang")
    bylang = (
        stream.join(langs, "doc_id")
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    agg = bylang.groupBy("lang").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab_size"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("sum_c2"),
    )
    h2 = F.log(
        (F.col("n_tokens").cast("double") * F.col("n_tokens"))
        / F.col("sum_c2")
    )
    return agg.select(
        "lang",
        "n_tokens",
        "vocab_size",
        "sum_c2",
        F.round(h2, 6).alias("renyi2"),
        F.round(h2 / F.log(F.col("vocab_size").cast("double")), 6).alias(
            "efficiency"
        ),
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# TracIn self-influence — gradient-based data attribution from the
# same lr=2.0 trajectory the cartography family trains.
# ---------------------------------------------------------------------------


def _tracin_oracle() -> str:
    def e_t(m: str) -> str:
        return f"(0.5 + {m} / (2.0 * (1.0 + abs({m}))) - y)"

    terms = " + ".join(
        f"{_TD_LR} * ({e_t(f'm{t}')} * {e_t(f'm{t}')}) * xx"
        for t in (1, 2, 3)
    )
    return (
        "WITH "
        + _emb_train_sql("", "TRUE")
        + """,
pe AS MATERIALIZED (
  SELECT v.vec_id, v.y,
         list_dot_product(v.x, v.x) AS xx,
         list_dot_product(v.x, (SELECT w FROM w1)) + (SELECT b FROM w1) AS m1,
         list_dot_product(v.x, (SELECT w FROM w2)) + (SELECT b FROM w2) AS m2,
         list_dot_product(v.x, (SELECT w FROM w3)) + (SELECT b FROM w3) AS m3
  FROM v v
)
"""
        + f"""
SELECT vec_id, CAST(y AS INTEGER) AS y,
       CAST(ROUND(({terms}) * 16777216) AS BIGINT) AS tracin_self_q
FROM pe ORDER BY vec_id
"""
    )


@register(
    "data_attribution_tracin_self",
    oracle=_tracin_oracle(),
    tags=("ext", "ml", "curation", "attribution", "tracin"),
    description="TracIn self-influence per example over the GD "
    "checkpoints; high self-influence flags mislabeled/memorized rows",
)
def data_attribution_tracin_self(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TracIn self-influence (Pruthi et al. 2020, 'Estimating
    Training Data Influence by Tracing Gradient Descent'): the
    influence of a training example ON ITSELF, summed over
    checkpoints — TracInCP(z, z) = Σ_t η·∇L_t(z)·∇L_t(z) — the
    paper's practical detector for mislabeled and memorized
    examples (they concentrate in the high-self-influence tail).
    For the logistic model the per-checkpoint gradient is
    (σ̂(m_t) − y)·x, so self-influence collapses to
    Σ_t η·e_t²·‖x‖² — PURE ARITHMETIC on the bitwise-pinned margins
    of the shared lr=2.0 trajectory (the same three checkpoints
    cartography and forgetting score against; one more lens on one
    training run, zero new trainer code). ‖x‖² is one dot fold, the
    three terms sum in fixed order, and the single emitted float is
    quantized ·2²⁴ engine-side.

    Scale shape: identical to the rest of the dynamics family —
    broadcast-weight training, then ONE corpus scan with three
    literal-weight dots plus one self-dot per row; zero joins.

    tests/test_round9_ops.py::test_tracin_flags_flipped_labels pins
    the paper's use: planted label flips land in the high-self-
    influence tail."""
    from wilayah_aceh_etl_spark.functions.vectors import (
        array_literal,
        as_double,
        dot,
    )
    from wilayah_aceh_etl_spark.operators.ml_train import (
        logreg_fit_trajectory_cached,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        F.when(F.col("label") < 5, 1).otherwise(0).alias("y"),
    )
    traj = logreg_fit_trajectory_cached(
        emb, cache_key=sf_dir, n_iter=3, lr=float(_TD_LR)
    )
    v = emb.select(
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
        terms.append(F.lit(float(_TD_LR)) * (e * e) * xx)
    self_infl = (terms[0] + terms[1]) + terms[2]
    return v.select(
        "vec_id",
        F.col("y").cast("int").alias("y"),
        F.round(self_infl * 16777216).cast("long").alias("tracin_self_q"),
    ).orderBy("vec_id")


# ---------------------------------------------------------------------------
# Mutual-information feature ranking (micro-nat exact-integer sums).
# ---------------------------------------------------------------------------

_MI_FEATURES_SQL = (
    ("priority", "o_orderpriority"),
    ("month", "CAST(month(o_orderdate) AS VARCHAR)"),
    # exact-cents idiom (see round6 cents queries): bucket on the
    # ROUNDed integer cents so both engines bin identically — a bare
    # CAST(double AS BIGINT) rounds in DuckDB but truncates in Spark,
    # silently splitting values just under a band edge (r9 ADVICE).
    (
        "price_band",
        "CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) // 5000000"
        " AS VARCHAR)",
    ),
    ("const", "'all'"),
)


def _mi_block_sql(name: str, expr: str) -> str:
    return f"""
c_{name} AS MATERIALIZED (
  SELECT {expr} AS v, o_orderstatus AS y,
         CAST(COUNT(*) AS BIGINT) AS nvy
  FROM orders GROUP BY 1, 2
),
v_{name} AS (SELECT v, CAST(SUM(nvy) AS BIGINT) AS nv
             FROM c_{name} GROUP BY v),
y_{name} AS (SELECT y, CAST(SUM(nvy) AS BIGINT) AS ny
             FROM c_{name} GROUP BY y),
n_{name} AS (SELECT CAST(SUM(nvy) AS BIGINT) AS n FROM c_{name}),
mi_{name} AS (
  SELECT '{name}' AS feature,
         CAST(COUNT(*) AS BIGINT) AS n_cells,
         CAST(ROUND(CAST(SUM(CAST(ROUND(1000000.0 * c.nvy *
             ln((CAST(c.nvy AS DOUBLE) * t.n) / (v.nv * y.ny)))
             AS BIGINT)) AS DOUBLE) / MAX(t.n)) AS BIGINT)
           AS mi_micronats
  FROM c_{name} c
  JOIN v_{name} v USING (v)
  JOIN y_{name} y USING (y)
  CROSS JOIN n_{name} t
)"""


@register(
    "feature_mutual_information_rank",
    oracle="WITH "
    + ",".join(_mi_block_sql(n, e) for n, e in _MI_FEATURES_SQL)
    + """
SELECT feature, n_cells, mi_micronats FROM (
  SELECT * FROM mi_priority
  UNION ALL SELECT * FROM mi_month
  UNION ALL SELECT * FROM mi_price_band
  UNION ALL SELECT * FROM mi_const
) ORDER BY feature
""",
    tags=("ext", "feature", "selection", "mutual-information"),
    description="mutual information of categorical features against "
    "order status, in exact micro-nats",
)
def feature_mutual_information_rank(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mutual-information feature ranking (the filter-method
    selection criterion of Battiti 1994's MIFS and every
    feature-selection survey since): I(X;Y) = Σ p(x,y)·ln(p(x,y)/
    (p(x)p(y))) between each candidate categorical feature and the
    order-status label. Exactness is the DSIR device: each cell's
    contribution n_xy·ln(n_xy·N/(n_x·n_y)) is quantized to INTEGER
    micro-nats BEFORE the sum (ln of one exact-int rational, one
    multiply, one round), so the reduce is order-free, and the final
    division by N happens once. The literal 'const' feature is the
    built-in negative control — its MI row is an exact 0.

    Scale shape: one (feature-value, label) hash aggregate per
    feature (the contingency table — thousands of cells at most,
    regardless of corpus rows), tiny marginal re-aggregates, a 1-row
    N broadcast; the corpus is scanned once per feature and nothing
    row-scale crosses the wire."""
    orders = load_table(spark, sf_dir, "orders")
    feats = [
        ("priority", F.col("o_orderpriority")),
        ("month", F.month("o_orderdate").cast("string")),
        (
            # exact-cents idiom, mirrored byte-for-byte with the
            # oracle's expression (ROUND then CAST: Spark truncates
            # double→BIGINT where DuckDB rounds — r9 ADVICE)
            "price_band",
            F.expr(
                "CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)"
                " div 5000000 AS STRING)"
            ),
        ),
        ("const", F.lit("all")),
    ]
    parts = []
    for name, fc in feats:
        cells = orders.groupBy(
            fc.alias("v"), F.col("o_orderstatus").alias("y")
        ).agg(F.count(F.lit(1)).cast("long").alias("nvy"))
        nv = cells.groupBy("v").agg(
            F.sum("nvy").cast("long").alias("nv")
        )
        ny = cells.groupBy("y").agg(
            F.sum("nvy").cast("long").alias("ny")
        )
        nn = cells.agg(F.sum("nvy").cast("long").alias("n"))
        term = (
            F.round(
                F.lit(1000000.0)
                * F.col("nvy")
                * F.log(
                    (F.col("nvy").cast("double") * F.col("n"))
                    / (F.col("nv") * F.col("ny"))
                )
            ).cast("long")
        )
        parts.append(
            cells.join(nv, "v")
            .join(ny, "y")
            .crossJoin(F.broadcast(nn))
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_cells"),
                F.round(
                    F.sum(term).cast("double") / F.max("n")
                )
                .cast("long")
                .alias("mi_micronats"),
            )
            .select(
                F.lit(name).alias("feature"), "n_cells", "mi_micronats"
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.orderBy("feature")


@register(
    "streaming_quality_classifier_filter",
    oracle=_qc_train_sql(_QC_Y_CLEAN, "x0.doc_id % 5 != 0")
    + """,
scored AS (
  SELECT x0.doc_id,
         list_dot_product(x0.x, (SELECT w FROM w3)) +
           (SELECT b FROM w3) AS m
  FROM xv x0
)
SELECT doc_id,
       CAST(doc_id % 4 AS INTEGER) AS batch,
       CAST(ROUND(m * 16777216) AS BIGINT) AS logit_q,
       CAST(CASE WHEN m > 0 THEN 1 ELSE 0 END AS INTEGER) AS keep
FROM scored
ORDER BY doc_id
""",
    tags=("streaming", "text", "quality", "classifier", "serving"),
    description="the fastText-style quality filter served over a "
    "document STREAM: train once, score every micro-batch",
)
def streaming_quality_classifier_filter(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """corpus_quality_classifier_serving through the real streaming
    path — the deployment shape of a model-based quality filter:
    the classifier trains ONCE, batch-side (an index-build artifact,
    like the IVF coarse quantizer), and documents arriving as four
    mtime-ordered micro-batches are scored per trigger by the
    literal-weights expression inside foreachBatch
    (streaming/classifier_filter.py — replay-idempotent per-batch
    overwrite, zero cross-batch state). Because per-doc scores have
    no corpus-wide serving state, the streamed verdicts are
    DEFINITIONALLY the batch query's — the oracle re-derives
    training + scoring in SQL and adds the doc_id%4 batch routing,
    so one hash pins micro-batch routing, the shared feature
    pipeline (_qc_feature_vectors_from runs on each batch), the
    trained weights, and the verdicts at once."""
    import os
    import shutil

    from wilayah_aceh_etl_spark.operators.ml_train import logreg_fit
    from wilayah_aceh_etl_spark.scratch import scratch_dir
    from wilayah_aceh_etl_spark.streaming.classifier_filter import (
        classifier_filter_stream,
    )

    docs = load_table(spark, sf_dir, "documents")
    docs0 = docs.select(
        "doc_id",
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    xv = _qc_feature_vectors(spark, sf_dir)
    train = xv.join(docs0, "doc_id").filter(F.col("doc_id") % 5 != 0)
    w, b = logreg_fit(train, n_iter=3, lr=0.5, id_col="doc_id", vec_col="x")

    base = scratch_dir("qcf_src")
    for k in range(4):
        tmp = base + f"_stage{k}"
        docs.filter(F.col("doc_id") % 4 == k).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        dst = os.path.join(base, f"batch{k}.parquet")
        os.rename(os.path.join(tmp, part), dst)
        shutil.rmtree(tmp)
        t = 1_600_000_000 + k * 1000
        os.utime(dst, (t, t))
    out = scratch_dir("qcf_tbl", create=False)
    ckpt = scratch_dir("qcf_ck", create=False)
    src = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(base)
    )
    sq = classifier_filter_stream(
        src, w, b, out, ckpt, _qc_feature_vectors_from
    ).trigger(availableNow=True).start()
    _await_stream_or_raise(sq, 600)
    return (
        spark.read.parquet(out)
        .select(
            "doc_id",
            F.col("batch").cast("int").alias("batch"),
            "logit_q",
            "keep",
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Unbiased Best-of-n estimator (the BoN curve of RLHF evaluation).
# ---------------------------------------------------------------------------


@register(
    "model_eval_best_of_n",
    oracle="""
WITH f AS (
  SELECT i, CAST(COALESCE(PRODUCT(j), 1) AS BIGINT) AS fact
  FROM UNNEST(range(13)) AS t(i)
       LEFT JOIN UNNEST(range(1, 13)) AS s(j) ON j <= i
  GROUP BY i
),
samples AS (
  SELECT prompt_id, reward_milli,
         ROW_NUMBER() OVER (PARTITION BY prompt_id
                            ORDER BY reward_milli, event_id) AS i
  FROM (
    SELECT user_id AS prompt_id, event_id,
           CAST(ROUND(value * 1000) AS BIGINT) AS reward_milli,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY event_id) AS rn
    FROM events WHERE user_id < 20
  ) WHERE rn <= 12
),
full_prompts AS (
  SELECT prompt_id FROM samples GROUP BY prompt_id HAVING COUNT(*) = 12
),
est AS (
  SELECT s.prompt_id, kk.n,
         CAST(SUM(CASE WHEN s.i >= kk.n THEN
           ((SELECT fact FROM f WHERE i = s.i - 1)
            / ((SELECT fact FROM f WHERE i = kk.n - 1)
               * (SELECT fact FROM f WHERE i = s.i - kk.n)))
           * s.reward_milli ELSE 0 END) AS BIGINT) AS num,
         (SELECT fact FROM f WHERE i = 12)
           / ((SELECT fact FROM f WHERE i = kk.n)
              * (SELECT fact FROM f WHERE i = 12 - kk.n)) AS den
  FROM samples s
       JOIN full_prompts fp ON s.prompt_id = fp.prompt_id
       CROSS JOIN UNNEST([1, 4, 8]) AS kk(n)
  GROUP BY s.prompt_id, kk.n
)
SELECT prompt_id, CAST(n AS INTEGER) AS n,
       ROUND(CAST(num AS DOUBLE) / den, 6) AS bon_estimate_milli
FROM est
ORDER BY prompt_id, n
""",
    tags=("ext", "ml", "eval", "best-of-n", "rlhf"),
    description="unbiased Best-of-n expected-max-reward estimator "
    "(exact integer order-statistic weights)",
)
def model_eval_best_of_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unbiased Best-of-n estimator (Nakano et al. 2021, WebGPT
    Appendix I — the BoN curve every RLHF / reward-model evaluation
    plots): from N sampled rewards per prompt, the expected MAXIMUM
    of n <= N draws without replacement is the order-statistic sum
    E[max_n] = Σ_{i>=n} C(i−1, n−1)·r_(i) / C(N, n) over the
    ascending-sorted rewards — evaluating best-of-n selection
    without re-sampling per n. Exactness is pass@k's device taken
    one step further: the binomial WEIGHTS are exact integer
    factorial ratios AND the weighted sum stays integer (weights ×
    milli-rewards), so the only float is the single final division.
    Rewards are the events' milli-quantized values, N = 12 samples
    per prompt (first 12 by event id, deterministic), rank ties
    break by event_id. Prompts with FEWER than 12 events are
    excluded outright: the fixed C(12, n) denominator would
    silently deflate their estimate (numerator truncated, N still
    assumed 12 — r9 ADVICE).

    Scale shape: one partitioned window (per-prompt rank), one
    grouped integer sum per (prompt, n), a 13-row factorial
    broadcast; rows crossing the wire are (prompts × n-grid)."""
    fact = {0: 1}
    for i in range(1, 13):
        fact[i] = fact[i - 1] * i
    fact_df = F.broadcast(
        spark.createDataFrame(
            [(i, v) for i, v in fact.items()], "i int, fact long"
        )
    )
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    w_rn = Window.partitionBy("user_id").orderBy("event_id")
    samples0 = ev.select(
        F.col("user_id").alias("prompt_id"),
        "event_id",
        F.round(F.col("value") * 1000).cast("long").alias("reward_milli"),
        F.row_number().over(w_rn).alias("rn"),
    ).filter(F.col("rn") <= 12)
    # drop prompts with fewer than 12 samples — the C(12, n)
    # denominator below assumes exactly N = 12 (r9 ADVICE)
    w_cnt = Window.partitionBy("prompt_id")
    samples0 = samples0.withColumn(
        "n_samples", F.count(F.lit(1)).over(w_cnt)
    ).filter(F.col("n_samples") == 12)
    w_i = Window.partitionBy("prompt_id").orderBy(
        "reward_milli", "event_id"
    )
    samples = samples0.select(
        "prompt_id",
        "reward_milli",
        F.row_number().over(w_i).alias("i"),
    )
    ns = spark.createDataFrame([(1,), (4,), (8,)], "n int")
    est = samples.crossJoin(F.broadcast(ns))
    for col, idx in (
        ("f_i1", F.col("i") - 1),
        ("f_n1", F.col("n") - 1),
        ("f_in", F.col("i") - F.col("n")),
        ("f_nn", F.col("n")),
        ("f_12n", F.lit(12) - F.col("n")),
    ):
        est = est.join(
            fact_df.select(
                F.col("i").alias(f"_{col}_i"), F.col("fact").alias(col)
            ),
            idx == F.col(f"_{col}_i"),
            "left",
        ).drop(f"_{col}_i")
    weight = (F.col("f_i1") / (F.col("f_n1") * F.col("f_in"))).cast("long")
    term = F.when(
        F.col("i") >= F.col("n"), weight * F.col("reward_milli")
    ).otherwise(F.lit(0).cast("long"))
    den = (
        F.lit(int(fact[12])).cast("long")
        / (F.col("f_nn") * F.col("f_12n"))
    ).cast("long")
    return (
        est.groupBy("prompt_id", "n")
        .agg(
            F.sum(term).cast("long").alias("num"),
            F.max(den).alias("den"),
        )
        .select(
            "prompt_id",
            "n",
            F.round(
                F.col("num").cast("double") / F.col("den"), 6
            ).alias("bon_estimate_milli"),
        )
        .orderBy("prompt_id", "n")
    )


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss random projection + distortion audit.
# ---------------------------------------------------------------------------


def _jl_signs(d: int = 64, k: int = 16) -> list[list[int]]:
    """The deterministic ±1 projection matrix, column-major: entry
    (j, col) is the parity of the first hex digit of
    md5('jl_<j>_<col>') — reproducible anywhere, no RNG state. Both
    the Spark expressions and the oracle SQL embed these SAME
    literals, so the projection is one shared constant, exactly like
    a trained-model artifact."""
    import hashlib

    return [
        [
            1
            if int(
                hashlib.md5(f"jl_{j}_{c}".encode()).hexdigest()[0], 16
            )
            % 2
            == 0
            else -1
            for j in range(d)
        ]
        for c in range(k)
    ]


def _jl_oracle(d: int = 64, k: int = 16) -> str:
    cols = _jl_signs(d, k)
    ys = [
        f"list_dot_product(e, {col}) / 4.0".replace("'", "")
        for col in [str([float(s) for s in c]) for c in cols]
    ]
    sq = " + ".join(f"(y{i} * y{i})" for i in range(k))
    ydefs = ",\n         ".join(f"{y} AS y{i}" for i, y in enumerate(ys))
    return f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
),
p AS (
  SELECT vec_id, list_dot_product(e, e) AS xx,
         {ydefs}
  FROM v
)
SELECT vec_id,
       CAST(ROUND(1000000.0 * ({sq}) / xx) AS BIGINT) AS distortion_ppm
FROM p ORDER BY vec_id
"""


@register(
    "embedding_jl_projection_audit",
    oracle=_jl_oracle(),
    tags=("ext", "embedding", "dimensionality", "jl", "projection"),
    description="Johnson-Lindenstrauss ±1 projection 64->16 with "
    "per-vector norm-distortion audit (ppm)",
)
def embedding_jl_projection_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Johnson-Lindenstrauss random projection with the distortion
    audit that certifies it (JL 1984; Achlioptas 2003's
    database-friendly ±1 entries — EXACTLY this construction, chosen
    over Gaussians precisely because it runs as integer adds inside
    a database): project every 64-d embedding to 16-d via y =
    R·x/√k with R ∈ {±1}, and report each vector's norm distortion
    ‖y‖²/‖x‖² in ppm — the quantity the JL lemma bounds and the
    go/no-go audit before swapping an ANN index to the cheaper
    dimension. R derives deterministically from md5 (no RNG state)
    and is embedded as SHARED LITERALS in the Spark expressions and
    the oracle SQL, like a trained-model artifact; each y_k is one
    dot fold, √16 = 4 divides exactly, the 16 squares sum in fixed
    order, and the ratio is one division quantized to ppm.

    Scale shape: a pure map-side expression — one corpus scan, 17
    dot folds per row, zero joins and zero shuffles; the audit
    aggregate a consumer would add on top is one map-side-combined
    summary. tests pin the JL property itself (mean distortion ~ 1,
    all positive, concentration within the lemma's envelope)."""
    from wilayah_aceh_etl_spark.functions.vectors import (
        array_literal,
        as_double,
        dot,
    )

    k = 16
    cols = _jl_signs(64, k)
    v = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("e")
    )
    ys = [
        (
            dot("e", array_literal(c))
            / F.lit(4.0)
        ).alias(f"y{i}")
        for i, c in enumerate(cols)
    ]
    p = v.select(
        "vec_id", dot("e", "e").alias("xx"), *ys
    )
    sq = (F.col("y0") * F.col("y0"))
    for i in range(1, k):
        sq = sq + (F.col(f"y{i}") * F.col(f"y{i}"))
    return p.select(
        "vec_id",
        F.round(F.lit(1000000.0) * sq / F.col("xx"))
        .cast("long")
        .alias("distortion_ppm"),
    ).orderBy("vec_id")


# ---------------------------------------------------------------------------
# AMS F2 (second frequency moment) sketch, audited against exact F2.
# ---------------------------------------------------------------------------

_AMS_SIGN = (
    "CASE WHEN (instr('0123456789abcdef', "
    "md5('ams_' || CAST({i} AS VARCHAR) || '_' || CAST({u} AS VARCHAR))"
    "[1:1]) - 1) % 2 = 0 THEN 1 ELSE -1 END"
)


@register(
    "approx_f2_ams_audit",
    oracle=f"""
WITH c AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY user_id
),
z AS (
  SELECT t.i,
         CAST(SUM(({_AMS_SIGN.format(i="t.i", u="c.user_id")}) * c.c)
              AS BIGINT) AS z
  FROM c CROSS JOIN UNNEST(range(8)) AS t(i)
  GROUP BY t.i
),
s AS (
  SELECT CAST(SUM(z * z) AS BIGINT) AS sum_z2 FROM z
),
f2 AS (SELECT CAST(SUM(c * c) AS BIGINT) AS f2_exact,
              CAST(COUNT(*) AS BIGINT) AS n_keys FROM c)
SELECT f2.n_keys, f2.f2_exact,
       CAST(ROUND(CAST(s.sum_z2 AS DOUBLE) / 8) AS BIGINT)
         AS ams_estimate,
       CAST(ROUND(1000000.0 * (CAST(s.sum_z2 AS DOUBLE) / 8 -
            f2.f2_exact) / f2.f2_exact) AS BIGINT) AS rel_err_ppm
FROM f2 CROSS JOIN s
""",
    tags=("ext", "sketch", "ams", "frequency-moment", "audit"),
    description="AMS F2 sketch (8 sign estimators) audited against "
    "the exact second frequency moment",
)
def approx_f2_ams_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Alon-Matias-Szegedy F2 sketch (AMS 1996, the result that
    founded streaming sketches): estimate the second frequency
    moment Σc² — the self-join size / skew statistic — from 8
    counters Z_i = Σ_u ±c_u whose squares average to F2 in
    expectation. Completes the sketch family with a FULLY
    ORACLE-HASHED member: unlike the HLL/CMS/GK rows (engine-
    specific internals → rows-only + guarantee audits), the AMS
    signs here are md5 parities (the repo's deterministic 4-wise
    stand-in, same device as the JL matrix), so both engines
    compute the identical estimate AND the identical exact F2, and
    the audit emits the realized relative error in ppm.

    Scale shape: one hash aggregate to per-key counts (the natural
    partitioning), an 8-way sign expansion of the (small) key-count
    relation, two tiny reduces; on a true stream the 8 counters ARE
    the state — O(1) memory, the sketch's whole point."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    ids = spark.createDataFrame([(i,) for i in range(8)], "i int")
    sign = (
        F.when(
            (
                F.instr(
                    F.lit("0123456789abcdef"),
                    F.substring(
                        F.md5(
                            F.concat(
                                F.lit("ams_"),
                                F.col("i").cast("string"),
                                F.lit("_"),
                                F.col("user_id").cast("string"),
                            )
                        ),
                        1,
                        1,
                    ),
                )
                - 1
            )
            % 2
            == 0,
            1,
        )
        .otherwise(-1)
    )
    z = (
        c.crossJoin(F.broadcast(ids))
        .select("i", (sign * F.col("c")).alias("sc"))
        .groupBy("i")
        .agg(F.sum("sc").cast("long").alias("z"))
    )
    s = z.agg(
        F.sum(F.col("z") * F.col("z")).cast("long").alias("sum_z2")
    )
    f2 = c.agg(
        F.sum(F.col("c") * F.col("c")).cast("long").alias("f2_exact"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
    )
    est = F.col("sum_z2").cast("double") / 8
    return f2.crossJoin(F.broadcast(s)).select(
        "n_keys",
        "f2_exact",
        F.round(est).cast("long").alias("ams_estimate"),
        F.round(
            F.lit(1000000.0)
            * (est - F.col("f2_exact"))
            / F.col("f2_exact")
        )
        .cast("long")
        .alias("rel_err_ppm"),
    )
