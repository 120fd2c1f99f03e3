"""Round-7 query family: distributed model training and the other
operators added in build round 5 (continuing the roundN_queries
naming run). Every query carries a DuckDB oracle unless noted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wilayah_aceh_etl_spark.plans.registry import register
from wilayah_aceh_etl_spark.session import local_frame
from wilayah_aceh_etl_spark.sources.tables import load_table


def _lr_step_sql(i: int, lr: str = "0.5", pfx: str = "") -> str:
    """One full-batch GD iteration as DuckDB CTEs, mirroring
    operators/ml_train.py::logreg_train_quantized bit for bit:
    rational sigmoid, quantized (·2²⁴) exact-integer gradient sums,
    identical update operation order. `pfx` prefixes every CTE name
    (and the v/u/nn/w0 inputs it reads), so an oracle can train TWO
    models in one WITH clause — the RHO-loss query's main/reference
    pair (plans/round9_queries.py) is the consumer."""
    p = pfx
    return f"""
{p}mar{i} AS MATERIALIZED (
  SELECT v.vec_id, v.y,
         list_dot_product(v.x, (SELECT w FROM {p}w{i - 1})) +
           (SELECT b FROM {p}w{i - 1}) AS m
  FROM {p}v v
),
{p}err{i} AS MATERIALIZED (
  SELECT vec_id, y, 0.5 + m / (2.0 * (1.0 + abs(m))) - y AS e FROM {p}mar{i}
),
{p}gw{i} AS (
  SELECT u.pos,
         CAST(SUM(CAST(ROUND(e.e * u.val * 16777216) AS BIGINT)) AS BIGINT)
           AS s
  FROM {p}err{i} e JOIN {p}u u ON u.vec_id = e.vec_id
  GROUP BY u.pos
),
{p}gb{i} AS (
  SELECT CAST(SUM(CAST(ROUND(e * 16777216) AS BIGINT)) AS BIGINT) AS s
  FROM {p}err{i}
),
{p}w{i} AS MATERIALIZED (
  SELECT
    (SELECT list(
        wl.wj - {lr} * (CAST(COALESCE(g.s, 0) AS DOUBLE) / 16777216 /
                       (SELECT n FROM {p}nn))
        ORDER BY wl.pos)
     FROM (SELECT unnest(w) AS wj, generate_subscripts(w, 1) AS pos
           FROM {p}w{i - 1}) wl
     LEFT JOIN {p}gw{i} g ON g.pos = wl.pos) AS w,
    (SELECT b FROM {p}w{i - 1}) -
      {lr} * (CAST((SELECT s FROM {p}gb{i}) AS DOUBLE) / 16777216 /
             (SELECT n FROM {p}nn)) AS b
),
{p}met{i} AS (
  SELECT {i} AS iter,
         CAST(SUM(CASE WHEN (m2 > 0) = (y = 1) THEN 1 ELSE 0 END) AS BIGINT)
           AS n_correct,
         CAST(ROUND((SELECT b FROM {p}w{i}) * 16777216) AS BIGINT) AS b_q,
         (SELECT CAST(SUM(CAST(ROUND(wj * 16777216) AS BIGINT)) AS BIGINT)
          FROM (SELECT unnest(w) AS wj FROM {p}w{i}))
           AS w_checksum
  FROM (
    SELECT v.y,
           list_dot_product(v.x, (SELECT w FROM {p}w{i})) +
             (SELECT b FROM {p}w{i}) AS m2
    FROM {p}v v
  )
)"""


_LOGREG_ORACLE = (
    """
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x,
         CASE WHEN label < 5 THEN 1 ELSE 0 END AS y
  FROM embeddings
),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v),
u AS (
  SELECT vec_id, unnest(x) AS val, generate_subscripts(x, 1) AS pos FROM v
),
w0 AS (
  SELECT (SELECT list(0.0) FROM range(64)) AS w, 0.0 AS b
),
"""
    + ",".join(_lr_step_sql(i) for i in (1, 2, 3))
    + """
SELECT iter, n_correct, b_q, w_checksum
FROM (SELECT * FROM met1 UNION ALL SELECT * FROM met2
      UNION ALL SELECT * FROM met3)
ORDER BY iter
"""
)


@register(
    "ml_logreg_train_quantized",
    oracle=_LOGREG_ORACLE,
    tags=("ext", "ml", "training", "iterative", "gradient-descent"),
    description="3 full-batch GD iterations of logistic regression, hash-pinned",
)
def ml_logreg_train_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed binary logistic regression (is the embedding's
    label < 5?) through the gate: three full-batch gradient-descent
    iterations whose ENTIRE trajectory — per-iteration accuracy,
    quantized bias, quantized weight checksum — hash-matches a SQL
    re-derivation. The training shape is the one that scales:
    broadcast weights into a map-side expression, per-row gradient
    contributions quantized to exact integers, one partial-combining
    aggregate keyed by feature position (65 groups), driver applies
    the update (operators/ml_train.py). Rational sigmoid for
    cross-engine determinism — see the module docstring for the
    exp() trade-off."""
    from wilayah_aceh_etl_spark.operators.ml_train import (
        logreg_train_quantized,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        F.when(F.col("label") < 5, 1).otherwise(0).alias("y"),
    )
    return logreg_train_quantized(emb, n_iter=3, lr=0.5).orderBy("iter")


def _perc_step_sql(i: int) -> str:
    """One batch-perceptron iteration as DuckDB CTEs — INTEGER
    arithmetic only, mirroring
    operators/ml_train.py::perceptron_train_integer."""
    return f"""
mar{i} AS (
  SELECT u.vec_id, u.ypm,
         CAST(SUM(w.wv * u.xq) AS BIGINT) + (SELECT b FROM b{i - 1}) AS m
  FROM u JOIN w{i - 1} w ON w.pos = u.pos
  GROUP BY u.vec_id, u.ypm
),
mis{i} AS (SELECT vec_id, ypm FROM mar{i} WHERE ypm * m <= 0),
upd{i} AS (
  SELECT u.pos, CAST(SUM(u.ypm * u.xq) AS BIGINT) AS s
  FROM u JOIN mis{i} USING (vec_id)
  GROUP BY u.pos
),
w{i} AS (
  SELECT w.pos, w.wv + COALESCE(s.s, 0) AS wv
  FROM w{i - 1} w LEFT JOIN upd{i} s USING (pos)
),
b{i} AS (
  SELECT (SELECT b FROM b{i - 1}) +
         COALESCE((SELECT CAST(SUM(ypm) AS BIGINT) FROM mis{i}), 0) AS b
),
met{i} AS (
  SELECT {i} AS iter,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM mis{i}) AS n_misclassified,
         (SELECT b FROM b{i}) AS b,
         (SELECT CAST(SUM(wv) AS BIGINT) FROM w{i}) AS w_checksum
)"""


_PERCEPTRON_ORACLE = (
    """
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x,
         CASE WHEN label < 5 THEN 1 ELSE -1 END AS ypm
  FROM embeddings
),
u AS (
  SELECT vec_id, ypm,
         generate_subscripts(x, 1) AS pos,
         CAST(ROUND(unnest(x) * 4096) AS BIGINT) AS xq
  FROM v
),
w0 AS (SELECT i AS pos, CAST(0 AS BIGINT) AS wv FROM range(1, 65) t(i)),
b0 AS (SELECT CAST(0 AS BIGINT) AS b),
"""
    + ",".join(_perc_step_sql(i) for i in (1, 2, 3))
    + """
SELECT iter, n_misclassified, b, w_checksum
FROM (SELECT * FROM met1 UNION ALL SELECT * FROM met2
      UNION ALL SELECT * FROM met3)
ORDER BY iter
"""
)


@register(
    "ml_perceptron_train_integer",
    oracle=_PERCEPTRON_ORACLE,
    tags=("ext", "ml", "training", "iterative", "integer-exact"),
    description="3 batch-perceptron iterations, all-integer (no float anywhere)",
)
def ml_perceptron_train_integer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The all-integer companion to ml_logreg_train_quantized:
    features quantized once to ROUND(x·2¹²), then the whole training
    loop — margins, misclassification set, updates, checksums — runs
    in exact int64 arithmetic on BOTH engines; there is no float
    anywhere a hash could flap on
    (operators/ml_train.py::perceptron_train_integer, incl. the
    overflow-headroom analysis for q_bits)."""
    from wilayah_aceh_etl_spark.operators.ml_train import (
        perceptron_train_integer,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        F.when(F.col("label") < 5, 1).otherwise(0).alias("y"),
    )
    return perceptron_train_integer(emb, n_iter=3, q_bits=12).orderBy("iter")


_LOGREG_HOLDOUT_ORACLE = (
    """
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x,
         CASE WHEN label < 5 THEN 1 ELSE 0 END AS y
  FROM embeddings WHERE vec_id % 5 != 0
),
vt AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x,
         CASE WHEN label < 5 THEN 1 ELSE 0 END AS y
  FROM embeddings WHERE vec_id % 5 = 0
),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v),
u AS (
  SELECT vec_id, unnest(x) AS val, generate_subscripts(x, 1) AS pos FROM v
),
w0 AS (
  SELECT (SELECT list(0.0) FROM range(64)) AS w, 0.0 AS b
),
"""
    + ",".join(_lr_step_sql(i) for i in (1, 2, 3))
    + """,
scored AS (
  SELECT vt.y,
         CASE WHEN list_dot_product(vt.x, (SELECT w FROM w3)) +
                   (SELECT b FROM w3) > 0 THEN 1 ELSE 0 END AS p
  FROM vt
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
       CAST(SUM(CASE WHEN p = 1 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       CAST(SUM(CASE WHEN p = 1 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       CAST(SUM(CASE WHEN p = 0 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
       CAST(SUM(CASE WHEN p = 0 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn
FROM scored
"""
)


@register(
    "ml_logreg_holdout_confusion",
    oracle=_LOGREG_HOLDOUT_ORACLE,
    tags=("ext", "ml", "training", "evaluation", "holdout"),
    description="train on 4/5 split, confusion matrix on the 1/5 holdout",
)
def ml_logreg_holdout_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The train/evaluate separation every real pipeline needs:
    fit on the vec_id%5!=0 split (same quantized GD as
    ml_logreg_train_quantized), score the UNSEEN vec_id%5=0 split,
    emit the confusion matrix — all integers, hash-pinned, with the
    oracle re-deriving the trained weights before scoring. The
    modulo split keeps the oracle focused on the eval logic; swap in
    the split_train_val_test hash split for production (same
    shape)."""
    from wilayah_aceh_etl_spark.operators.ml_train import (
        logreg_fit,
        score_confusion,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        F.when(F.col("label") < 5, 1).otherwise(0).alias("y"),
    )
    w, b = logreg_fit(emb.filter(F.col("vec_id") % 5 != 0), n_iter=3, lr=0.5)
    return score_confusion(emb.filter(F.col("vec_id") % 5 == 0), w, b)


# ---------------------------------------------------------------------------
# Sketch GUARANTEE audits: the four approximation queries are
# rows-only by nature (the estimate is engine-specific), but each
# sketch's CONTRACT is exactly checkable. These companions compute
# the estimate AND the exact value in one query and emit the
# contract verdict + exact context — so the sketches get a real
# hash gate after all, on the property that matters.
# ---------------------------------------------------------------------------


@register(
    "approx_percentile_rank_bound_audit",
    oracle="""
SELECT o_orderstatus, p,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       TRUE AS rank_within_eps
FROM orders
CROSS JOIN (VALUES (0.25), (0.5), (0.75)) AS t(p)
GROUP BY o_orderstatus, p
ORDER BY o_orderstatus, p
""",
    tags=("ext", "sketch", "percentile", "audit"),
    description="GK sketch rank-error guarantee audited against exact ranks",
)
def approx_percentile_rank_bound_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Greenwald-Khanna's HARD guarantee — the returned element's
    rank is within ±εN of the target (ε = 1/accuracy) — checked
    against the exact data: per status and quantile, the estimate's
    rank window [count(x<est), count(x≤est)] must intersect
    [(p−ε)N, (p+ε)N]. The oracle fixes the exact group sizes and
    pins the verdict TRUE, so a sketch regression (or a broken rank
    computation) flips the hash. This is the audit a pipeline runs
    before trusting approx_percentile_prices at 100 TB."""
    eps = 1.0 / 10000
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_totalprice"
    )
    est = (
        o.groupBy("o_orderstatus")
        .agg(
            F.percentile_approx(
                "o_totalprice", [0.25, 0.5, 0.75], 10000
            ).alias("_q"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .select(
            "o_orderstatus",
            "n_orders",
            F.posexplode("_q").alias("_i", "_est"),
        )
        .select(
            "o_orderstatus",
            "n_orders",
            F.element_at(F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)),
                         F.col("_i") + 1).alias("p"),
            "_est",
        )
    )
    ranks = (
        o.join(F.broadcast(est), "o_orderstatus")
        .groupBy("o_orderstatus", "p", "n_orders", "_est")
        .agg(
            F.sum((F.col("o_totalprice") < F.col("_est")).cast("long"))
            .alias("_lo"),
            F.sum((F.col("o_totalprice") <= F.col("_est")).cast("long"))
            .alias("_hi"),
        )
    )
    ok = (
        F.col("_hi") >= F.floor((F.col("p") - eps) * F.col("n_orders"))
    ) & (F.col("_lo") <= F.ceil((F.col("p") + eps) * F.col("n_orders")))
    return ranks.select(
        "o_orderstatus", "p", "n_orders", ok.alias("rank_within_eps")
    ).orderBy("o_orderstatus", "p")


@register(
    "approx_distinct_rsd_audit",
    oracle="""
SELECT l_returnflag,
       CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
       TRUE AS within_5x_rsd
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
    tags=("ext", "sketch", "hll", "audit"),
    description="HLL++ estimate audited within 5× its advertised rsd",
)
def approx_distinct_rsd_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ has no hard error bound (it is probabilistic),
    but a DETERMINISTIC dataset gives a deterministic estimate — so
    the audit 'estimate within 5× the advertised rsd of exact' is a
    stable, meaningful gate: it fails if the sketch implementation
    regresses materially or the rsd plumbing breaks, while tolerating
    the advertised noise. Exact and approximate distinct run in the
    SAME aggregate pass (two agg expressions, one shuffle)."""
    li = load_table(spark, sf_dir, "lineitem")
    g = li.groupBy("l_returnflag").agg(
        F.count_distinct("l_orderkey").cast("long").alias("exact_orders"),
        F.approx_count_distinct("l_orderkey", 0.01).alias("_est"),
    )
    ok = (
        F.abs(F.col("_est") - F.col("exact_orders"))
        <= 0.05 * F.col("exact_orders")
    )
    return g.select(
        "l_returnflag", "exact_orders", ok.alias("within_5x_rsd")
    ).orderBy("l_returnflag")


@register(
    "events_hll_merge_identity_audit",
    oracle="""
SELECT date_trunc('hour', ts) AS hour,
       CAST(COUNT(DISTINCT date_trunc('minute', ts)) AS BIGINT) AS n_minutes,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS merge_equals_direct,
       TRUE AS within_rsd
FROM events
GROUP BY 1
ORDER BY hour
""",
    tags=("ext", "sketch", "hll", "mergeable", "audit"),
    description="HLL partial-merge == direct-sketch identity, per hour",
)
def events_hll_merge_identity_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """THE property that makes sketch rollups valid at 100 TB:
    merging per-minute sketches must yield the same estimate as
    sketching the hour directly (registers update by max, so the
    sketch is a pure function of the distinct set). This audit
    computes both paths and pins their equality per hour — plus the
    estimate staying within 5% of the exact count. If Spark's
    hll_union_agg ever stopped being merge-exact, this hash gate
    catches it; events_hll_rollup's docstring claim becomes
    driver-checkable instead of test-only."""
    e = load_table(spark, sf_dir, "events")
    per_minute = e.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"),
        F.date_trunc("minute", F.col("ts")).alias("minute"),
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    merged = per_minute.groupBy("hour").agg(
        F.count(F.lit(1)).alias("n_minutes"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("_est_merged"),
    )
    direct = e.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour")).agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("_est_direct"),
        F.count_distinct("user_id").cast("long").alias("exact_users"),
    )
    j = merged.join(direct, "hour")
    return j.select(
        "hour",
        "n_minutes",
        "exact_users",
        (F.col("_est_merged") == F.col("_est_direct")).alias(
            "merge_equals_direct"
        ),
        (
            F.abs(F.col("_est_direct") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users")
        ).alias("within_rsd"),
    ).orderBy("hour")


@register(
    "events_cms_guarantee_audit",
    oracle="""
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_n,
       TRUE AS never_underestimates,
       TRUE AS within_eps_n
FROM events
GROUP BY user_id
ORDER BY exact_n DESC, user_id
LIMIT 20
""",
    tags=("ext", "sketch", "cms", "audit"),
    description="count-min contract (est ≥ exact, est ≤ exact + εN) audited",
)
def events_cms_guarantee_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min's one-sided contract, hash-gated: for the 20
    heaviest users, the sketch estimate must never underestimate
    (hard guarantee) and must stay within exact + ε·N (holds at the
    sketch's 99% confidence; deterministic here because the seed is
    fixed). Same probe path as events_cms_heavy_hitters — the
    pure-Python wire-format reader over the collected KB-sized
    sketch."""
    from wilayah_aceh_etl_spark.functions.sketches import (
        CountMinSketchReader,
    )

    e = load_table(spark, sf_dir, "events")
    cms_bytes = bytes(
        e.agg(
            F.count_min_sketch(
                F.col("user_id"), F.lit(0.001), F.lit(0.99), F.lit(42)
            ).alias("cms")
        ).head()[0]
    )
    n_total = e.count()
    top = (
        e.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), "user_id")
        .limit(20)
        .collect()
    )
    sketch = CountMinSketchReader.from_bytes(cms_bytes)
    eps_n = 0.001 * n_total
    rows = [
        (
            r["user_id"],
            r["exact_n"],
            sketch.estimate_count(r["user_id"]) >= r["exact_n"],
            sketch.estimate_count(r["user_id"]) <= r["exact_n"] + eps_n,
        )
        for r in top
    ]
    return local_frame(
        spark,
        rows,
        "user_id long, exact_n long, never_underestimates boolean,"
        " within_eps_n boolean",
    ).orderBy(F.col("exact_n").desc(), "user_id")


# ---------------------------------------------------------------------------
# Streaming near-dup admission against a persistent index
# ---------------------------------------------------------------------------


def _adm_step_sql(k: int) -> str:
    """One micro-batch of the streaming admission pipeline as DuckDB
    CTEs: batch k (doc_id % 4 = k) is verdicted against the union of
    all docs KEPT by batches < k — the sequential semantics of the
    foreachBatch index exactly."""
    exist = (
        "SELECT doc_id FROM documents WHERE FALSE"
        if k == 0
        else f"SELECT doc_id FROM exist{k - 1} "
        f"UNION ALL SELECT doc_id FROM ver{k - 1} WHERE kept"
    )
    return f"""
exist{k} AS ({exist}),
cand{k} AS (
  SELECT DISTINCT i.doc_id AS doc_a, e.doc_id AS doc_b
  FROM bands i
  JOIN bands e ON i.band_id = e.band_id AND i.band_hash = e.band_hash
  WHERE i.doc_id % 4 = {k}
    AND e.doc_id IN (SELECT doc_id FROM exist{k})
),
inter{k} AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
  FROM cand{k} c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY 1, 2
),
near{k} AS (
  SELECT doc_a, MIN(doc_b) AS near_dup_of
  FROM inter{k}
  JOIN adm_sizes sa ON doc_a = sa.doc_id
  JOIN adm_sizes sb ON doc_b = sb.doc_id
  WHERE ROUND(n_inter / (sa.n_sh + sb.n_sh - n_inter), 4) >= 0.5
  GROUP BY doc_a
),
exh{k} AS (
  SELECT DISTINCT md5(text) AS h FROM documents
  WHERE doc_id IN (SELECT doc_id FROM exist{k})
),
ver{k} AS (
  SELECT d.doc_id,
         (exh{k}.h IS NOT NULL) AS is_exact_dup,
         near{k}.near_dup_of,
         (exh{k}.h IS NULL AND near{k}.near_dup_of IS NULL) AS kept
  FROM documents d
  LEFT JOIN exh{k} ON md5(d.text) = exh{k}.h
  LEFT JOIN near{k} ON near{k}.doc_a = d.doc_id
  WHERE d.doc_id % 4 = {k}
)"""


def _admission_oracle() -> str:
    from wilayah_aceh_etl_spark.plans.ext_queries import (
        _BANDS_CTE,
        _SHINGLE_CTE,
        _SIGS_CTE,
    )

    return (
        "WITH "
        + _SHINGLE_CTE
        + ", "
        + _SIGS_CTE
        + ", "
        + _BANDS_CTE
        + """,
adm_sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
"""
        + ",".join(_adm_step_sql(k) for k in range(4))
        + """
SELECT doc_id, CAST(doc_id % 4 AS INTEGER) AS batch_tag,
       is_exact_dup, near_dup_of, kept
FROM (SELECT * FROM ver0 UNION ALL SELECT * FROM ver1
      UNION ALL SELECT * FROM ver2 UNION ALL SELECT * FROM ver3)
ORDER BY doc_id
"""
    )


@register(
    "streaming_dedup_admission_index",
    oracle=_admission_oracle(),
    tags=("streaming", "dedup", "minhash", "lsh", "index", "foreachBatch"),
    description="continuous corpus ingestion: near-dup admission vs a growing index",
)
def streaming_dedup_admission_index(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The production corpus-growth loop through the REAL streaming
    path: documents arrive as four mtime-ordered micro-batches
    (doc_id % 4); each batch is admitted against the docs already
    KEPT by earlier batches (exact md5 + banded-MinHash candidates →
    verified Jaccard ≥ 0.5), and admissions append to the index the
    next batch reads (streaming/dedup_admission.py). The oracle
    replays the same four sequential rounds in SQL, so the hash pins
    batch ordering, index growth, and both dedup paths at once —
    dedup_incremental_admission promoted from a one-shot batch to
    the continuously-running form."""
    import os
    import shutil

    from wilayah_aceh_etl_spark.scratch import scratch_dir

    docs = load_table(spark, sf_dir, "documents")
    base = scratch_dir("adm_src")
    for k in range(4):
        tmp = base + f"_stage{k}"
        docs.filter(F.col("doc_id") % 4 == k).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        dst = os.path.join(base, f"batch{k}.parquet")
        os.rename(os.path.join(tmp, part), dst)
        shutil.rmtree(tmp)
        t = 1_600_000_000 + k * 1000  # distinct mtimes fix batch order
        os.utime(dst, (t, t))
    admitted = scratch_dir("adm_idx", create=False)
    verdicts = scratch_dir("adm_out", create=False)
    ckpt = scratch_dir("adm_ck", create=False)

    from wilayah_aceh_etl_spark.streaming.dedup_admission import (
        admission_stream,
    )

    src = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(base)
    )
    sq = (
        admission_stream(src, admitted, verdicts, ckpt)
        .trigger(availableNow=True)
        .start()
    )
    sq.awaitTermination(600)
    return (
        spark.read.parquet(verdicts)
        .select(
            "doc_id",
            (F.col("doc_id") % 4).cast("int").alias("batch_tag"),
            "is_exact_dup",
            "near_dup_of",
            "kept",
        )
        .orderBy("doc_id")
    )


@register(
    "data_mixture_temperature_epochs",
    oracle="""
WITH s AS (
  SELECT source, CAST(SUM(n_chars) AS BIGINT) AS chars,
         CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY source
),
q AS (
  SELECT source, chars, n_docs,
         CAST(ROUND(sqrt(chars) * 16777216) AS BIGINT) AS wq
  FROM s
),
t AS (SELECT CAST(SUM(wq) AS BIGINT) AS tot, CAST(SUM(chars) AS BIGINT)
             AS all_chars FROM q)
SELECT source, chars, n_docs,
       ROUND(CAST(wq AS DOUBLE) / (SELECT tot FROM t), 6) AS mix_weight,
       ROUND((CAST(wq AS DOUBLE) / (SELECT tot FROM t))
             * (SELECT all_chars FROM t) / chars, 4) AS epochs_at_budget
FROM q
ORDER BY source
""",
    tags=("ext", "mixture", "sampling", "training"),
    description="temperature τ=0.5 mixture weights and per-source epochs",
)
def data_mixture_temperature_epochs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Temperature-based source reweighting (the XLM-R/mT5 device):
    sampling weight p_s ∝ size_s^τ with τ=0.5 upsamples small
    sources; epochs_at_budget = p_s·B/size_s (B = total corpus
    chars) says how many passes over each source one full-budget
    epoch implies — >1 means repetition, the quantity a training
    run monitors for memorization risk. Determinism: τ=0.5 makes
    the power a SQRT (correctly rounded per IEEE-754, so both
    engines agree to the bit) and the normalizing sum runs over
    QUANTIZED integers (ROUND(sqrt·2²⁴)) — order-independent, so
    the ratio is identical however partial aggregates combine. One
    shuffle (groupBy source); everything after is metadata-scale."""
    docs = load_table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.sum("n_chars").cast("long").alias("chars"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
    )
    q = s.withColumn(
        "_wq", F.round(F.sqrt(F.col("chars")) * 16777216).cast("long")
    )
    t = q.agg(
        F.sum("_wq").cast("long").alias("_tot"),
        F.sum("chars").cast("long").alias("_all"),
    )
    return (
        q.crossJoin(F.broadcast(t))
        .select(
            "source",
            "chars",
            "n_docs",
            F.round(F.col("_wq").cast("double") / F.col("_tot"), 6).alias(
                "mix_weight"
            ),
            F.round(
                (F.col("_wq").cast("double") / F.col("_tot"))
                * F.col("_all")
                / F.col("chars"),
                4,
            ).alias("epochs_at_budget"),
        )
        .orderBy("source")
    )


@register(
    "csv_malformed_modes_battery",
    oracle="""
WITH base AS (
  SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey < 1000
),
good AS (SELECT * FROM base WHERE o_orderkey % 97 != 0)
SELECT * FROM (
  SELECT 'DROPMALFORMED' AS mode,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM good) AS n_rows,
         CAST(0 AS BIGINT) AS n_corrupt,
         (SELECT CAST(SUM(o_custkey) AS BIGINT) FROM good) AS sum_cust,
         FALSE AS read_raised
  UNION ALL
  SELECT 'FAILFAST', NULL, NULL, NULL, TRUE
  UNION ALL
  SELECT 'PERMISSIVE',
         (SELECT CAST(COUNT(*) AS BIGINT) FROM base),
         (SELECT CAST(COUNT(*) AS BIGINT) FROM base)
           - (SELECT CAST(COUNT(*) AS BIGINT) FROM good),
         (SELECT CAST(SUM(o_custkey) AS BIGINT) FROM good),
         FALSE
)
ORDER BY mode
""",
    tags=("format", "csv", "malformed", "battery"),
    description="CSV parse modes on injected-corruption data, derived oracle",
)
def csv_malformed_modes_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirty-input semantics, pinned: orders rows are serialized to
    CSV with every 97th key's custkey corrupted to a non-integer;
    the battery reads the file back under all three parse modes and
    emits what each mode yields — PERMISSIVE keeps every line and
    flags the corrupt ones (n_corrupt from the corrupt-record
    column), DROPMALFORMED silently drops exactly them, FAILFAST
    raises on the first. The oracle DERIVES every count/sum from
    the same modulo arithmetic on orders, so this is behavior
    verification, not constant-pinning — the contract an ingest
    pipeline relies on when upstream data goes bad."""
    from wilayah_aceh_etl_spark.scratch import scratch_dir

    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 1000)
        .select("o_orderkey", "o_custkey")
    )
    line = F.when(
        F.col("o_orderkey") % 97 == 0,
        F.concat_ws(",", F.col("o_orderkey"), F.lit("X")),
    ).otherwise(F.concat_ws(",", F.col("o_orderkey"), F.col("o_custkey")))
    path = scratch_dir("csv_modes", create=False)
    o.select(line.alias("value")).coalesce(1).write.mode("overwrite").text(
        path
    )
    schema = "o_orderkey long, o_custkey long, _corrupt string"
    perm = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(path)
    )
    perm_row = perm.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.count("_corrupt").cast("long").alias("n_corrupt"),
        F.sum("o_custkey").cast("long").alias("sum_cust"),
    ).first()
    drop = (
        spark.read.schema("o_orderkey long, o_custkey long")
        .option("mode", "DROPMALFORMED")
        .csv(path)
    )
    drop_row = drop.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("o_custkey").cast("long").alias("sum_cust"),
    ).first()
    raised = False
    try:
        # .count() would skip column parsing (CSV count optimization)
        # and never hit the malformed field — force a full parse
        (
            spark.read.schema("o_orderkey long, o_custkey long")
            .option("mode", "FAILFAST")
            .csv(path)
            .agg(F.sum("o_custkey"))
            .collect()
        )
    except Exception:
        raised = True
    rows = [
        (
            "DROPMALFORMED",
            drop_row["n_rows"],
            0,
            drop_row["sum_cust"],
            False,
        ),
        ("FAILFAST", None, None, None, raised),
        (
            "PERMISSIVE",
            perm_row["n_rows"],
            perm_row["n_corrupt"],
            perm_row["sum_cust"],
            False,
        ),
    ]
    return local_frame(
        spark,
        rows,
        "mode string, n_rows bigint, n_corrupt bigint, sum_cust bigint,"
        " read_raised boolean",
    ).orderBy("mode")


# ---------------------------------------------------------------------------
# BPE merge training — the real iterative loop
# ---------------------------------------------------------------------------


def _bpe_step_sql(i: int) -> str:
    """One BPE training iteration as DuckDB CTEs: overlapping pair
    counts weighted by word frequency → argmax (count desc, pair
    asc) → left-greedy merge via string replace (replace() scans
    left-to-right over non-overlapping occurrences on both engines,
    which IS the classic BPE merge application)."""
    return f"""
p{i} AS (
  SELECT a, b, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
    SELECT freq, arr[k] AS a, arr[k + 1] AS b
    FROM (SELECT freq, string_split(s, '|') AS arr FROM w{i - 1}),
         UNNEST(range(1, len(arr))) AS t(k)
  ) GROUP BY a, b
),
best{i} AS (SELECT a, b, cnt FROM p{i} ORDER BY cnt DESC, a, b LIMIT 1),
w{i} AS (
  SELECT w, freq,
         replace(s, (SELECT a || '|' || b FROM best{i}),
                    (SELECT a || b FROM best{i})) AS s
  FROM w{i - 1}
),
met{i} AS (
  SELECT {i} AS iter, a AS merge_left, b AS merge_right,
         cnt AS pair_count,
         (SELECT CAST(SUM(freq * len(string_split(s, '|'))) AS BIGINT)
          FROM w{i}) AS total_tokens_after
  FROM best{i}
)"""


_BPE_ORACLE = (
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
    + """
SELECT iter, merge_left, merge_right, pair_count, total_tokens_after
FROM (SELECT * FROM met1 UNION ALL SELECT * FROM met2
      UNION ALL SELECT * FROM met3)
ORDER BY iter
"""
)


@register(
    "text_bpe_train_merges",
    oracle=_BPE_ORACLE,
    tags=("ext", "text", "bpe", "tokenizer", "iterative", "training"),
    description="3 real BPE merge-training iterations over the corpus vocab",
)
def text_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE TRAINING, not just pair counting (completes
    text_bpe_pair_counts into the actual loop a tokenizer build
    runs): per iteration, count adjacent token pairs over the
    frequency-weighted word vocabulary, pick the most frequent pair
    (ties: lexicographic), and MERGE it everywhere. The learned
    merge table plus the corpus token count after each merge is
    hash-pinned across engines. Two devices make the chained loop
    deterministic: tokenizations live as '|'-joined strings, and the
    merge is a literal string replace — both engines scan
    left-to-right over non-overlapping occurrences, which is exactly
    the classic greedy BPE merge (runs of an identical token merge
    floor(k/2) times from the left). Scale: state is (word, freq,
    tokenization) — the DISTINCT vocabulary, not the corpus; each
    iteration is one explode + one aggregate + a map-side replace,
    and the argmax is a 1-row collect (MapReduce BPE, as in
    sentencepiece's distributed mode)."""
    docs = load_table(spark, sf_dir, "documents")
    out = _bpe_learn_merges(docs, n_iter=3)
    return local_frame(
        spark,
        out,
        "iter int, merge_left string, merge_right string,"
        " pair_count bigint, total_tokens_after bigint",
    ).orderBy("iter")


def _bpe_learn_merges(docs: DataFrame, n_iter: int) -> list[tuple]:
    """The BPE training loop shared by text_bpe_train_merges and the
    tokenizer-apply query: returns [(iter, a, b, pair_count,
    total_tokens_after)] — O(n_iter) driver state, corpus never
    leaves the cluster."""
    vocab = (
        docs.select(
            F.explode(F.split(F.lower(F.col("text")), " ")).alias("w")
        )
        .filter(F.col("w").rlike("^[a-z]+$") & (F.length("w") >= 2))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    state = vocab.select(
        "w",
        "freq",
        F.regexp_replace(F.col("w"), "(?<=.)(?=.)", "|").alias("s"),
    ).persist()
    try:
        out = []
        for it in range(1, n_iter + 1):
            arr = F.split(F.col("s"), "\\|")
            pairs = F.transform(
                F.sequence(F.lit(0), F.size(arr) - 2),
                lambda k: F.struct(
                    F.element_at(arr, k + 1).alias("a"),
                    F.element_at(arr, k + 2).alias("b"),
                ),
            )
            top = (
                # single-token words have no pairs — and sequence(0,
                # size-2) would DESCEND for them (size-2 = -1) and
                # index out of bounds inside transform
                state.filter(F.size(arr) >= 2)
                .select("freq", F.explode(pairs).alias("p"))
                .groupBy("p.a", "p.b")
                .agg(F.sum("freq").cast("long").alias("cnt"))
                .orderBy(F.col("cnt").desc(), "a", "b")
                .limit(1)
                .collect()
            )
            if not top:  # vocabulary fully merged — mirror the
                break    # oracle's empty met{i} rows
            best = top[0]
            new_state = state.select(
                "w",
                "freq",
                F.replace(
                    F.col("s"),
                    F.lit(best["a"] + "|" + best["b"]),
                    F.lit(best["a"] + best["b"]),
                ).alias("s"),
            ).persist()
            n_after = new_state.agg(
                F.sum(
                    F.col("freq") * F.size(F.split(F.col("s"), "\\|"))
                )
                .cast("long")
                .alias("n")
            ).first()["n"]
            out.append(
                (it, best["a"], best["b"], int(best["cnt"]), int(n_after))
            )
            state.unpersist()
            state = new_state
        return out
    finally:
        state.unpersist()


def _sgd_step_sql(i: int) -> str:
    """One mini-batch SGD step (batch = vec_id % 4 == i-1) as DuckDB
    CTEs, mirroring ml_train.py::logreg_sgd_minibatch."""
    k = i - 1
    return f"""
vb{i} AS (SELECT * FROM v WHERE vec_id % 4 = {k}),
nb{i} AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM vb{i}),
mar{i} AS MATERIALIZED (
  SELECT vb.vec_id, vb.y,
         list_dot_product(vb.x, (SELECT w FROM w{i - 1})) +
           (SELECT b FROM w{i - 1}) AS m
  FROM vb{i} vb
),
err{i} AS MATERIALIZED (
  SELECT vec_id, y, 0.5 + m / (2.0 * (1.0 + abs(m))) - y AS e FROM mar{i}
),
gw{i} AS (
  SELECT u.pos,
         CAST(SUM(CAST(ROUND(e.e * u.val * 16777216) AS BIGINT)) AS BIGINT)
           AS s
  FROM err{i} e JOIN u ON u.vec_id = e.vec_id
  GROUP BY u.pos
),
gb{i} AS (
  SELECT CAST(SUM(CAST(ROUND(e * 16777216) AS BIGINT)) AS BIGINT) AS s
  FROM err{i}
),
w{i} AS MATERIALIZED (
  SELECT
    (SELECT list(
        wl.wj - 0.5 * (CAST(COALESCE(g.s, 0) AS DOUBLE) / 16777216 /
                       (SELECT n FROM nb{i}))
        ORDER BY wl.pos)
     FROM (SELECT unnest(w) AS wj, generate_subscripts(w, 1) AS pos
           FROM w{i - 1}) wl
     LEFT JOIN gw{i} g ON g.pos = wl.pos) AS w,
    (SELECT b FROM w{i - 1}) -
      0.5 * (CAST((SELECT s FROM gb{i}) AS DOUBLE) / 16777216 /
             (SELECT n FROM nb{i})) AS b
),
met{i} AS (
  SELECT {i} AS step, {k} AS batch_tag,
         (SELECT n FROM nb{i}) AS n_batch,
         (SELECT CAST(SUM(CASE WHEN (list_dot_product(v.x,
                    (SELECT w FROM w{i})) + (SELECT b FROM w{i}) > 0)
                    = (v.y = 1) THEN 1 ELSE 0 END) AS BIGINT) FROM v)
           AS n_correct,
         CAST(ROUND((SELECT b FROM w{i}) * 16777216) AS BIGINT) AS b_q,
         (SELECT CAST(SUM(CAST(ROUND(wj * 16777216) AS BIGINT)) AS BIGINT)
          FROM (SELECT unnest(w) AS wj FROM w{i})) AS w_checksum
)"""


_SGD_ORACLE = (
    """
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x,
         CASE WHEN label < 5 THEN 1 ELSE 0 END AS y
  FROM embeddings
),
u AS (
  SELECT vec_id, unnest(x) AS val, generate_subscripts(x, 1) AS pos FROM v
),
w0 AS (
  SELECT (SELECT list(0.0) FROM range(64)) AS w, 0.0 AS b
),
"""
    + ",".join(_sgd_step_sql(i) for i in (1, 2, 3, 4))
    + """
SELECT step, batch_tag, n_batch, n_correct, b_q, w_checksum
FROM (SELECT * FROM met1 UNION ALL SELECT * FROM met2
      UNION ALL SELECT * FROM met3 UNION ALL SELECT * FROM met4)
ORDER BY step
"""
)


@register(
    "ml_logreg_sgd_minibatch_epoch",
    oracle=_SGD_ORACLE,
    tags=("ext", "ml", "training", "iterative", "sgd"),
    description="one epoch of 4-mini-batch SGD, full trajectory hash-pinned",
)
def ml_logreg_sgd_minibatch_epoch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The training regime large models actually use, through the
    gate: one epoch of mini-batch SGD (batch k = vec_id % 4 == k,
    applied in order) — four weight updates for the same corpus-
    scan cost as ONE full-batch GD step. The oracle replays the
    sequential batch order exactly; full-set accuracy is re-measured
    after every update, so the hash pins the entire optimization
    path, not just the destination
    (operators/ml_train.py::logreg_sgd_minibatch)."""
    from wilayah_aceh_etl_spark.operators.ml_train import (
        logreg_sgd_minibatch,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        F.when(F.col("label") < 5, 1).otherwise(0).alias("y"),
    )
    return logreg_sgd_minibatch(emb, n_batches=4, lr=0.5).orderBy("step")


# ---------------------------------------------------------------------------
# Trained quality-classifier corpus filter (the fastText-style loop)
# ---------------------------------------------------------------------------

_QC_FEATURES_SQL = """
feat AS MATERIALIZED (
  SELECT doc_id, lang,
         CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS y,
         [CAST(n_chars AS DOUBLE) / 1000,
          CAST(len(string_split(text, ' ')) AS DOUBLE) / 100,
          CAST(n_chars AS DOUBLE) / len(string_split(text, ' ')) / 10,
          CAST(len(list_filter(string_split(text, ' '),
               x -> x IN ('the','a','of','and','to','in','is','it')))
            AS DOUBLE) / len(string_split(text, ' '))] AS x
  FROM documents
)
"""

_QC_ORACLE = (
    "WITH "
    + _QC_FEATURES_SQL
    + """,
v AS (SELECT doc_id AS vec_id, x, y FROM feat),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v),
u AS (
  SELECT vec_id, unnest(x) AS val, generate_subscripts(x, 1) AS pos FROM v
),
w0 AS (
  SELECT (SELECT list(0.0) FROM range(4)) AS w, 0.0 AS b
),
"""
    + ",".join(_lr_step_sql(i, lr="4.0") for i in range(1, 11))
    + """
SELECT f.lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN list_dot_product(f.x, (SELECT w FROM w10)) +
                          (SELECT b FROM w10) > 0
                THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
FROM feat f
GROUP BY f.lang
ORDER BY f.lang
"""
)


@register(
    "pipeline_quality_classifier_filter",
    oracle=_QC_ORACLE,
    tags=("ext", "ml", "pipeline", "quality", "classifier"),
    description="train a weak-label quality classifier, score the corpus per lang",
)
def pipeline_quality_classifier_filter(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The fastText-style corpus-filter loop, end to end and
    hash-pinned: derive cheap text features per document (length,
    word count, mean word length, English-stopword ratio — all
    exact-integer counts divided in a fixed order), take a weak
    QUALITY label (length ≥ 300 chars — the "longer is better"
    heuristic real pipelines bootstrap from), TRAIN the engine's
    own quantized logistic regression on the features (10 GD
    iterations, lr 4.0, d=4 — reaches ~96% train accuracy, a real
    learned boundary, not a base-rate degenerate), then score EVERY
    document with the trained weights and report keep rates per
    language. The oracle re-derives features, training and scoring —
    the hash pins the entire learn-then-filter loop, which is how
    production quality filters (CCNet/fastText-style) are built and
    applied. (The lang column was tried as the label first and is
    UNLEARNABLE here: the synthetic corpus draws the same vocabulary
    for every language — stopword ratios 0.057-0.064 across langs —
    so a classifier can only learn the base rate; a weak label must
    be encodable in the features.)"""
    from wilayah_aceh_etl_spark.operators.ml_train import (
        Q as _Q,  # noqa: F401  (documents the shared quantization)
        logreg_fit,
    )

    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    stop = F.filter(
        words,
        lambda x: x.isin(
            "the", "a", "of", "and", "to", "in", "is", "it"
        ),
    )
    feat = docs.select(
        "doc_id",
        "lang",
        F.when(F.col("n_chars") >= 300, 1).otherwise(0).alias("y"),
        F.array(
            F.col("n_chars").cast("double") / 1000,
            F.size(words).cast("double") / 100,
            F.col("n_chars").cast("double") / F.size(words) / 10,
            F.size(stop).cast("double") / F.size(words),
        ).alias("x"),
    ).persist()
    try:
        w, b = logreg_fit(
            feat.select(F.col("doc_id").alias("vec_id"), "x", "y"),
            n_iter=10,
            lr=4.0,
            vec_col="x",
        )
        from wilayah_aceh_etl_spark.functions.vectors import array_literal, dot

        score = dot("x", array_literal(w)) + F.lit(float(b))
        return (
            feat.groupBy("lang")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum((score > 0).cast("int")).cast("long").alias("n_flagged"),
            )
            .orderBy("lang")
        )
    finally:
        feat.unpersist()


@register(
    "data_curriculum_interleave",
    oracle="""
WITH sdim AS (
  SELECT source,
         ROW_NUMBER() OVER (ORDER BY source) AS sidx,
         (SELECT COUNT(DISTINCT source) FROM documents) AS n_sources
  FROM (SELECT DISTINCT source FROM documents)
),
ranked AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id) AS rk
  FROM documents
)
SELECT CAST((r.rk - 1) * s.n_sources + s.sidx AS BIGINT) AS position,
       r.doc_id, r.source, CAST(r.rk AS INTEGER) AS rank_in_source
FROM ranked r JOIN sdim s USING (source)
WHERE r.rk <= 5
ORDER BY position
""",
    tags=("ext", "curriculum", "ordering", "training"),
    description="curriculum order: round-robin interleave of per-source quality ranks",
)
def data_curriculum_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-order construction: rank documents within each
    source by a quality proxy (length desc), then interleave sources
    round-robin — every source's best doc first, then every
    second-best, ... (the ordering curriculum/source-mixing
    schedulers emit). The global position is the CLOSED FORM
    (rank-1)·n_sources + source_index rather than a corpus-wide
    window: per-source ranking partitions by source, the source
    index comes from a 20-row aggregated dim, and no single-task
    global sort exists anywhere in the plan — the detail that makes
    the ordering computable for a 10⁹-doc corpus (writers then
    range-partition on `position`)."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    sdim = (
        docs.select("source")
        .distinct()
        .withColumn(
            "sidx", F.row_number().over(Window.orderBy("source"))
        )
    )
    n_sources = sdim.count()
    ranked = docs.select(
        "doc_id",
        "source",
        F.row_number()
        .over(
            Window.partitionBy("source").orderBy(
                F.col("n_chars").desc(), "doc_id"
            )
        )
        .alias("rk"),
    ).filter(F.col("rk") <= 5)
    return (
        ranked.join(F.broadcast(sdim), "source")
        .select(
            ((F.col("rk") - 1) * n_sources + F.col("sidx"))
            .cast("long")
            .alias("position"),
            "doc_id",
            "source",
            F.col("rk").cast("int").alias("rank_in_source"),
        )
        .orderBy("position")
    )


@register(
    "events_classical_decomposition_daily",
    oracle="""
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents,
         dayofweek(date_trunc('day', ts)) AS dow
  FROM events GROUP BY 1, 3
),
tr AS (
  SELECT day, cents, dow,
         CAST(SUM(cents) OVER w AS BIGINT) AS trend7,
         COUNT(*) OVER w AS n_win
  FROM daily
  WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
full_win AS (
  SELECT day, cents, dow, trend7, 7 * cents - trend7 AS det7
  FROM tr WHERE n_win = 7
),
seas AS (
  SELECT dow, CAST(SUM(det7) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS c
  FROM full_win GROUP BY dow
),
adj AS (
  SELECT CAST(SUM(CAST(s AS DOUBLE) / c) AS DOUBLE) / 7 AS grand
  FROM seas
)
SELECT strftime(f.day, '%Y-%m-%d') AS day, f.cents, f.trend7,
       ROUND(CAST(se.s AS DOUBLE) / se.c - (SELECT grand FROM adj), 4)
         AS seasonal7,
       ROUND(CAST(f.det7 AS DOUBLE)
             - (CAST(se.s AS DOUBLE) / se.c - (SELECT grand FROM adj)), 4)
         AS resid7
FROM full_win f JOIN seas se ON se.dow = f.dow
ORDER BY f.day
""",
    tags=("ext", "timeseries", "decomposition", "stats"),
    description="classical additive decomposition: 7-day trend, DOW seasonal, residual",
)
def events_classical_decomposition_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Classical additive decomposition of the daily value series
    (the no-loess STL ancestor): trend = centered 7-day moving
    average (full windows only), seasonal = per-day-of-week mean of
    the detrended series re-centered to sum 0, residual = the rest.
    Determinism devices: daily totals are EXACT cents
    (Σ round(value·100)), the trend stays as the exact ×7 integer
    sum (no division until output), detrended values are exact
    integers, and the only doubles are two fixed-order divisions at
    the end — so a chained stats pipeline hash-matches without a
    single rounding judgment call. The trend window is
    partition-less BUT runs over the ~30-row daily AGGREGATE, the
    pattern the plan-quality guard endorses (aggregate first, then
    the global series op)."""
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
        F.dayofweek(F.date_trunc("day", F.col("ts"))).alias("dow"),
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    w = Window.orderBy("day").rowsBetween(-3, 3)
    tr = daily.select(
        "day",
        "cents",
        "dow",
        F.sum("cents").over(w).cast("long").alias("trend7"),
        F.count(F.lit(1)).over(w).alias("n_win"),
    ).filter(F.col("n_win") == 7)
    full_win = tr.withColumn(
        "det7", 7 * F.col("cents") - F.col("trend7")
    )
    seas = full_win.groupBy("dow").agg(
        F.sum("det7").cast("long").alias("s"),
        F.count(F.lit(1)).cast("long").alias("c"),
    )
    grand = seas.agg(
        (
            F.sum(F.col("s").cast("double") / F.col("c")) / F.lit(7)
        ).alias("grand")
    )
    seasonal = (
        F.col("s").cast("double") / F.col("c") - F.col("grand")
    )
    return (
        full_win.join(F.broadcast(seas), "dow")
        .crossJoin(F.broadcast(grand))
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "cents",
            "trend7",
            F.round(seasonal, 4).alias("seasonal7"),
            F.round(
                F.col("det7").cast("double") - seasonal, 4
            ).alias("resid7"),
        )
        .orderBy("day")
    )


_PREP_V2_ORACLE = (
    "WITH "
    + _QC_FEATURES_SQL.replace(
        "FROM documents", "FROM documents WHERE doc_id >= 50"
    )
    + """,
v AS (SELECT doc_id AS vec_id, x, y FROM feat),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v),
u AS (
  SELECT vec_id, unnest(x) AS val, generate_subscripts(x, 1) AS pos FROM v
),
w0 AS (
  SELECT (SELECT list(0.0) FROM range(4)) AS w, 0.0 AS b
),
"""
    + ",".join(_lr_step_sql(i, lr="4.0") for i in range(1, 11))
    + """,
raw AS (
  SELECT d.doc_id, d.source, d.text, d.n_chars
  FROM documents d WHERE d.doc_id >= 50
),
q1 AS (
  SELECT r.* FROM raw r JOIN feat f ON f.doc_id = r.doc_id
  WHERE list_dot_product(f.x, (SELECT w FROM w10)) + (SELECT b FROM w10) > 0
),
q2 AS (
  SELECT * FROM (
    SELECT q1.*, ROW_NUMBER() OVER (PARTITION BY md5(text)
                                    ORDER BY doc_id) AS rn
    FROM q1
  ) WHERE rn = 1
),
ve AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
vb AS (SELECT vec_id, e, """
    + "(CASE WHEN e[1] > 0 THEN 1 ELSE 0 END)"
    + " + ".join(
        [""]
        + [f"(CASE WHEN e[{i + 1}] > 0 THEN {2 ** i} ELSE 0 END)" for i in range(1, 8)]
    )
    + """ AS bucket FROM ve),
test AS (SELECT * FROM vb WHERE vec_id < 50),
contaminated AS (
  SELECT DISTINCT tr.vec_id
  FROM vb tr JOIN test te ON tr.bucket = te.bucket
  WHERE tr.vec_id >= 50
    AND list_dot_product(tr.e, te.e) /
        (sqrt(list_dot_product(tr.e, tr.e)) *
         sqrt(list_dot_product(te.e, te.e))) >= 0.2
),
q3 AS (
  SELECT q2.* FROM q2
  LEFT JOIN contaminated c ON c.vec_id = q2.doc_id
  WHERE c.vec_id IS NULL
),
mix AS (
  SELECT source,
         CAST(SUM(n_chars) AS BIGINT) AS chars,
         CAST(ROUND(sqrt(SUM(n_chars)) * 16777216) AS BIGINT) AS wq
  FROM q3 GROUP BY source
),
tot AS (SELECT CAST(SUM(wq) AS BIGINT) AS t FROM mix)
SELECT r.source,
       CAST(COUNT(DISTINCT r.doc_id) AS BIGINT) AS n_raw,
       CAST(COUNT(DISTINCT q1.doc_id) AS BIGINT) AS n_quality,
       CAST(COUNT(DISTINCT q2.doc_id) AS BIGINT) AS n_dedup,
       CAST(COUNT(DISTINCT q3.doc_id) AS BIGINT) AS n_clean,
       ROUND(CAST(ANY_VALUE(m.wq) AS DOUBLE) / (SELECT t FROM tot), 6)
         AS mix_weight
FROM raw r
LEFT JOIN q1 ON q1.doc_id = r.doc_id
LEFT JOIN q2 ON q2.doc_id = r.doc_id
LEFT JOIN q3 ON q3.doc_id = r.doc_id
LEFT JOIN mix m ON m.source = r.source
GROUP BY r.source
ORDER BY r.source
"""
)


@register(
    "pipeline_training_prep_v2",
    oracle=_PREP_V2_ORACLE,
    tags=("ext", "pipeline", "ml", "dedup", "decontamination", "mixture"),
    description="full prep: trained quality filter → dedup → decontam → mixture",
)
def pipeline_training_prep_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete modern training-data prep, one composed plan,
    hash-pinned end to end: (1) hold out docs 0-49 as the eval set;
    (2) drop low-quality docs by the TRAINED classifier (the
    pipeline_quality_classifier_filter model — 10 GD iterations,
    the oracle retrains it); (3) exact-dedup survivors (keep lowest
    id per md5); (4) drop docs semantically contaminated by the eval
    set (LSH-bucketed cosine ≥ 0.2, candidates-only); (5) compute
    temperature-τ=0.5 mixture weights over the clean corpus. The
    per-source funnel (raw → quality → dedup → clean) plus the final
    mixture weight is what a data-curation run reports. Every stage
    is a previously-gated operator; the composition adds three
    narrow joins and zero extra corpus shuffles beyond its stages."""
    from wilayah_aceh_etl_spark.functions.vectors import (
        array_literal,
        cosine,
        dot,
    )
    from wilayah_aceh_etl_spark.operators import similarity as SIM
    from wilayah_aceh_etl_spark.operators.ml_train import logreg_fit
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") >= 50
    )
    words = F.split(F.col("text"), " ")
    stop = F.filter(
        words,
        lambda x: x.isin("the", "a", "of", "and", "to", "in", "is", "it"),
    )
    feat = docs.select(
        "doc_id",
        F.when(F.col("n_chars") >= 300, 1).otherwise(0).alias("y"),
        F.array(
            F.col("n_chars").cast("double") / 1000,
            F.size(words).cast("double") / 100,
            F.col("n_chars").cast("double") / F.size(words) / 10,
            F.size(stop).cast("double") / F.size(words),
        ).alias("x"),
    ).persist()
    try:
        w, b = logreg_fit(
            feat.select(F.col("doc_id").alias("vec_id"), "x", "y"),
            n_iter=10,
            lr=4.0,
            vec_col="x",
        )
    finally:
        feat.unpersist()
    score = dot("x", array_literal(w)) + F.lit(float(b))
    scored = docs.join(
        feat.select("doc_id", "x"), "doc_id"
    ).withColumn("_keep_q", score > 0)
    q1 = scored.filter("_keep_q").select(
        "doc_id", "source", "text", "n_chars"
    )
    q2 = (
        q1.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy(F.md5("text")).orderBy("doc_id")
            ),
        )
        .filter("_rn = 1")
        .drop("_rn")
    )
    emb = load_table(spark, sf_dir, "embeddings")
    vb = SIM.bucket_assignments(emb, 8)
    test = vb.filter(F.col("vec_id") < 50).select(
        F.col("bucket").alias("t_bucket"), F.col("vec").alias("t_vec")
    )
    contaminated = (
        vb.filter(F.col("vec_id") >= 50)
        .join(F.broadcast(test), F.col("bucket") == F.col("t_bucket"))
        .filter(cosine("vec", "t_vec") >= 0.2)
        .select("vec_id")
        .distinct()
        .withColumn("_dirty", F.lit(True))
    )
    q3 = (
        q2.join(contaminated, q2.doc_id == contaminated.vec_id, "left")
        .filter(F.col("_dirty").isNull())
        .select("doc_id", "source", "n_chars")
    )
    mix = q3.groupBy("source").agg(
        F.round(F.sqrt(F.sum("n_chars")) * 16777216)
        .cast("long")
        .alias("_wq")
    )
    tot = mix.agg(F.sum("_wq").cast("long").alias("_t"))
    funnel = (
        docs.select("doc_id", "source")
        .join(q1.select("doc_id", F.lit(1).alias("_q1")), "doc_id", "left")
        .join(q2.select("doc_id", F.lit(1).alias("_q2")), "doc_id", "left")
        .join(q3.select("doc_id", F.lit(1).alias("_q3")), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_raw"),
            F.count("_q1").cast("long").alias("n_quality"),
            F.count("_q2").cast("long").alias("n_dedup"),
            F.count("_q3").cast("long").alias("n_clean"),
        )
    )
    return (
        funnel.join(mix, "source", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_raw",
            "n_quality",
            "n_dedup",
            "n_clean",
            F.round(F.col("_wq").cast("double") / F.col("_t"), 6).alias(
                "mix_weight"
            ),
        )
        .orderBy("source")
    )


_TOP_FEATURES_ORACLE = (
    """
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x,
         CASE WHEN label < 5 THEN 1 ELSE 0 END AS y
  FROM embeddings
),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v),
u AS (
  SELECT vec_id, unnest(x) AS val, generate_subscripts(x, 1) AS pos FROM v
),
w0 AS (
  SELECT (SELECT list(0.0) FROM range(64)) AS w, 0.0 AS b
),
"""
    + ",".join(_lr_step_sql(i) for i in (1, 2, 3))
    + """,
wq AS (
  SELECT pos, CAST(ROUND(wj * 16777216) AS BIGINT) AS w_q
  FROM (SELECT unnest(w) AS wj, generate_subscripts(w, 1) AS pos FROM w3)
)
SELECT CAST(pos AS INTEGER) AS dim, w_q,
       CAST(ROW_NUMBER() OVER (ORDER BY abs(w_q) DESC, pos) AS INTEGER)
         AS importance_rank
FROM wq
ORDER BY importance_rank
LIMIT 10
"""
)


@register(
    "ml_logreg_top_features",
    oracle=_TOP_FEATURES_ORACLE,
    tags=("ext", "ml", "training", "introspection"),
    description="top-10 |weight| dimensions of the trained logistic model",
)
def ml_logreg_top_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model INTROSPECTION through the gate: after the 3-iteration
    quantized GD training (same trajectory as
    ml_logreg_train_quantized — the oracle retrains), rank embedding
    dimensions by |weight|. The ranking compares QUANTIZED integer
    weights (ROUND(w·2²⁴), ties → low dim), so feature-importance
    order can never flap on a float — the report a feature-selection
    pass consumes."""
    from pyspark.sql.window import Window

    from wilayah_aceh_etl_spark.operators.ml_train import Q, logreg_fit

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        F.when(F.col("label") < 5, 1).otherwise(0).alias("y"),
    )
    w, _b = logreg_fit(emb, n_iter=3, lr=0.5)
    rows = [(j + 1, float(wj)) for j, wj in enumerate(w)]
    wdf = local_frame(spark, rows, "dim int, wj double").select(
        "dim", F.round(F.col("wj") * Q).cast("long").alias("w_q")
    )
    rk = Window.orderBy(F.abs(F.col("w_q")).desc(), "dim")
    return (
        wdf.withColumn(
            "importance_rank", F.row_number().over(rk).cast("int")
        )
        .orderBy("importance_rank")
        .limit(10)
    )


@register(
    "multimodal_wav_decimate_stats",
    oracle="""
WITH m AS (
  SELECT doc_id AS media_id,
         50 + doc_id % 200 AS n_frames,
         1 + doc_id % 2 AS n_channels
  FROM documents WHERE doc_id < 100
),
kept AS (
  SELECT media_id, n_frames, n_channels, i AS frame
  FROM m, UNNEST(range(n_frames)) AS t(i)
  WHERE i % 4 = 0
),
s AS (
  SELECT media_id, n_frames, n_channels,
         ((media_id * 31 + (frame * n_channels) * 17) % 65536) - 32768 AS amp
  FROM kept
)
SELECT media_id,
       CAST(CASE WHEN media_id % 2 = 0 THEN 2000 ELSE 4000 END AS INTEGER)
         AS out_rate,
       CAST(COUNT(*) AS BIGINT) AS out_frames,
       CAST(SUM(amp) AS BIGINT) AS sum_amp,
       CAST(MIN(amp) AS INTEGER) AS min_amp,
       CAST(MAX(amp) AS INTEGER) AS max_amp
FROM s
GROUP BY media_id
ORDER BY media_id
""",
    tags=("ext", "multimodal", "audio", "wav", "resample"),
    description="4x audio decimation through the real WAV decode",
)
def multimodal_wav_decimate_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Audio downsampling, the DSP-lite half of a speech pipeline's
    front end: decode real PCM (decode_wav_samples), keep every 4th
    frame of channel 0 (decimation without an anti-alias filter —
    documented; a real front end low-passes first), emit the decimated
    waveform's stats and the implied output rate. The oracle
    recomputes the kept samples from the construction arithmetic, so
    the hash proves the frame-stride arithmetic against real decoded
    bytes."""
    from wilayah_aceh_etl_spark.operators import multimodal as M
    from pyspark.sql import types as T

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    media = M.attach_wav_payload(docs, "doc_id")
    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("out_rate", T.IntegerType()),
            T.StructField("out_frames", T.LongType()),
            T.StructField("sum_amp", T.LongType()),
            T.StructField("min_amp", T.IntegerType()),
            T.StructField("max_amp", T.IntegerType()),
        ]
    )

    def batches(it):
        import pandas as pd

        for pdf in it:
            rows = []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                decoded = M.decode_wav_samples(bytes(p))
                if decoded is None:
                    continue
                rate, n_ch, _bits, flat = decoded
                ch0 = flat[::n_ch][::4]  # channel 0, every 4th frame
                rows.append(
                    (
                        mid,
                        rate // 4,
                        len(ch0),
                        sum(ch0),
                        min(ch0),
                        max(ch0),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "out_rate", "out_frames",
                    "sum_amp", "min_amp", "max_amp",
                ],
            )

    return media.mapInPandas(batches, schema).orderBy("media_id")


# ---------------------------------------------------------------------------
# JPEG: the real baseline codec (build round 6 — closes the last
# documented pixel-decode seam for the grayscale baseline case)
# ---------------------------------------------------------------------------

# closed-form decoded gray of a constant 8×8 block of value {v}, with
# DC quantizer 24: clamp(128 + 3·rh((v-128)/3)); rh(t/3) in pure
# integer arithmetic is sign(t)·((2|t|+3) DIV 6)
_JPEG_G = (
    "LEAST(255, GREATEST(0, 128 + 3 * ("
    "CASE WHEN ({v}) >= 128 THEN (2 * (({v}) - 128) + 3) // 6 "
    "ELSE -((2 * (128 - ({v})) + 3) // 6) END)))"
)


_JPEG_STATS_ORACLE = f"""
WITH m AS (
  SELECT doc_id AS media_id,
         8 * (1 + doc_id % 4) AS w,
         8 * (1 + (doc_id * 3) % 4) AS h
  FROM documents WHERE doc_id < 100
),
blk AS (
  SELECT media_id, w, h,
         {_JPEG_G.format(v="(media_id * 7 + 16 * bx.i + 31 * by.i) % 256")} AS g
  FROM m, UNNEST(range(w // 8)) AS bx(i), UNNEST(range(h // 8)) AS by(i)
)
SELECT media_id,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(w * h AS BIGINT) AS n_pixels,
       CAST(64 * SUM(g) AS BIGINT) AS sum_gray,
       CAST(MIN(g) AS INTEGER) AS min_gray,
       CAST(MAX(g) AS INTEGER) AS max_gray,
       CAST({_JPEG_G.format(v="(media_id * 7) % 256")} AS INTEGER)
         AS top_left,
       CAST({_JPEG_G.format(
           v="(media_id * 7 + 16 * (w // 8 - 1) + 31 * (h // 8 - 1)) % 256"
       )} AS INTEGER) AS bottom_right
FROM blk
GROUP BY media_id, w, h
ORDER BY media_id
"""


@register(
    "multimodal_jpeg_pixel_stats",
    oracle=_JPEG_STATS_ORACLE,
    tags=("ext", "multimodal", "decode", "pixels", "jpeg"),
    description="FULL baseline-JPEG pixel decode (closed-form lossy oracle)",
)
def multimodal_jpeg_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real baseline grayscale JFIF decoded end to end — Huffman
    tables rebuilt from the file's own DHT, DC differential chain,
    zigzag, dequantize, IDCT. Block-constant payloads make the LOSSY
    decode closed-form (operators/multimodal.py::attach_jpeg_payload
    derives why q00=24 makes the two rounding stages float-robust),
    so the oracle re-computes the exact decoded pixels in integer
    SQL. The corner probes and sum pin block raster order and the
    DC prediction chain — one wrong diff corrupts every later block."""
    from wilayah_aceh_etl_spark.operators import multimodal as M

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    media = M.attach_jpeg_payload(docs, "doc_id")
    return (
        M.jpeg_pixel_stats(media)
        .select(
            "media_id", "width", "height", "n_pixels", "sum_gray",
            "min_gray", "max_gray", "top_left", "bottom_right",
        )
        .orderBy("media_id")
    )


@register(
    "multimodal_jpeg_roundtrip_audit",
    oracle="""
SELECT doc_id AS media_id,
       CAST(8 * (1 + doc_id % 3) AS INTEGER) AS width,
       CAST(8 * (1 + (doc_id * 7) % 3) AS INTEGER) AS height,
       CAST(64 * (1 + doc_id % 3) * (1 + (doc_id * 7) % 3) AS BIGINT)
         AS n_pixels,
       TRUE AS within_bound
FROM documents WHERE doc_id < 60
ORDER BY media_id
""",
    tags=("ext", "multimodal", "jpeg", "audit"),
    description="JPEG round-trip error bound audit (all-ones qtable, gradients)",
)
def multimodal_jpeg_roundtrip_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Guarantee AUDIT for the lossy path on NON-block-constant
    gradients (the sketch-audit pattern: the engine computes the
    quantity, the oracle gates the guarantee): with an all-ones
    quantization table the only loss is coefficient rounding, whose
    worst-case pixel error is bounded by ½·Σ|IDCT basis| < 4, so
    every image must come back within ±4 of the original. This
    drives the AC Huffman path hard — dozens of nonzero
    coefficients, runs, ZRL — where the closed-form query above
    exercises DC + EOB."""
    from wilayah_aceh_etl_spark.operators import multimodal as M

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    return M.jpeg_roundtrip_audit(docs, "doc_id", tol=4).orderBy("media_id")


@register(
    "multimodal_jpeg_restart_stats",
    # oracle shared VERBATIM with multimodal_jpeg_pixel_stats:
    # restart markers change the BITSTREAM LAYOUT, never the decoded
    # pixels (same device as the partitioned-IVF query sharing the
    # flat IVF oracle)
    oracle=_JPEG_STATS_ORACLE,
    tags=("ext", "multimodal", "decode", "pixels", "jpeg", "restart"),
    description="JPEG decode through DRI/RSTn restart-marker bitstreams",
)
def multimodal_jpeg_restart_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The same decode as multimodal_jpeg_pixel_stats but the
    payloads are encoded with restart_interval=2: a DRI segment plus
    an RST0–7 marker every 2 MCUs, byte-realignment, and a DC
    predictor reset per segment. Restart markers are the format's
    parallel-decode seam — each restart segment decodes
    independently, which is how a single multi-GB scan becomes
    splittable work at 100 TB — and a decoder that ignores the
    predictor reset or the byte realignment corrupts every pixel
    after the first marker, which the shared closed-form oracle
    catches immediately."""
    from wilayah_aceh_etl_spark.operators import multimodal as M

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    media = M.attach_jpeg_payload(docs, "doc_id", restart_interval=2)
    return (
        M.jpeg_pixel_stats(media)
        .select(
            "media_id", "width", "height", "n_pixels", "sum_gray",
            "min_gray", "max_gray", "top_left", "bottom_right",
        )
        .orderBy("media_id")
    )


@register(
    "multimodal_jpeg_color_pixel_stats",
    oracle=f"""
WITH m AS (
  SELECT doc_id AS media_id,
         8 * (1 + doc_id % 3) AS w,
         8 * (1 + (doc_id * 5) % 3) AS h
  FROM documents WHERE doc_id < 100
),
blk AS (
  SELECT media_id, w, h,
    {_JPEG_G.format(v="(media_id * 7 + 16 * bx.i + 31 * by.i) % 256")} AS gy,
    {_JPEG_G.format(v="(media_id * 11 + 8 * bx.i + 23 * by.i) % 256")} AS gcb,
    {_JPEG_G.format(v="(media_id * 13 + 29 * bx.i + 5 * by.i) % 256")} AS gcr
  FROM m, UNNEST(range(w // 8)) AS bx(i), UNNEST(range(h // 8)) AS by(i)
)
SELECT media_id,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(w * h AS BIGINT) AS n_pixels,
       CAST(64 * SUM(gy) AS BIGINT) AS sum_y,
       CAST(64 * SUM(gcb) AS BIGINT) AS sum_cb,
       CAST(64 * SUM(gcr) AS BIGINT) AS sum_cr,
       CAST({_JPEG_G.format(v="(media_id * 7) % 256")} AS INTEGER)
         AS y_top_left,
       CAST({_JPEG_G.format(
           v="(media_id * 13 + 29 * (w // 8 - 1) + 5 * (h // 8 - 1)) % 256"
       )} AS INTEGER) AS cr_bottom_right
FROM blk
GROUP BY media_id, w, h
ORDER BY media_id
""",
    tags=("ext", "multimodal", "decode", "pixels", "jpeg", "color"),
    description="FULL 4:4:4 color-JPEG decode (3 planes, closed-form oracle)",
)
def multimodal_jpeg_color_pixel_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Baseline COLOR JPEG (4:4:4 YCbCr) decoded end to end: per MCU
    the scan interleaves Y, Cb, Cr blocks with separate quant
    tables, separate Huffman pairs (standard luminance AND chroma
    tables, both rebuilt from the file's DHT), and THREE independent
    DC prediction chains. Payloads are block-constant per channel
    with q00=24 on both tables, so each plane follows the same
    float-robust closed form as the grayscale query; the Y-first /
    Cr-last corner probes catch an interleave-order or predictor
    mix-up immediately. Encoded with restart_interval=2 so the color
    restart path (ALL three predictors reset) is the path driven."""
    from wilayah_aceh_etl_spark.operators import multimodal as M

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    media = M.attach_color_jpeg_payload(docs, "doc_id", restart_interval=2)
    return (
        M.jpeg_color_pixel_stats(media)
        .select(
            "media_id", "width", "height", "n_pixels",
            "sum_y", "sum_cb", "sum_cr", "y_top_left", "cr_bottom_right",
        )
        .orderBy("media_id")
    )


@register(
    "multimodal_jpeg_420_pixel_stats",
    oracle=f"""
WITH m AS (
  SELECT doc_id AS media_id,
         16 * (1 + doc_id % 2) AS w,
         16 * (1 + (doc_id * 3) % 2) AS h
  FROM documents WHERE doc_id < 100
),
blk AS (
  SELECT media_id, w, h,
    {_JPEG_G.format(v="(media_id * 7 + 16 * bx.i + 31 * by.i) % 256")} AS gy,
    {_JPEG_G.format(v="(media_id * 11 + 8 * bx.i + 23 * by.i) % 256")} AS gcb,
    {_JPEG_G.format(v="(media_id * 13 + 29 * bx.i + 5 * by.i) % 256")} AS gcr
  FROM m, UNNEST(range(w // 16)) AS bx(i), UNNEST(range(h // 16)) AS by(i)
)
SELECT media_id,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(w // 2 AS INTEGER) AS chroma_w,
       CAST(h // 2 AS INTEGER) AS chroma_h,
       CAST(256 * SUM(gy) AS BIGINT) AS sum_y,
       CAST(64 * SUM(gcb) AS BIGINT) AS sum_cb,
       CAST(64 * SUM(gcr) AS BIGINT) AS sum_cr,
       CAST({_JPEG_G.format(v="(media_id * 7) % 256")} AS INTEGER)
         AS y_top_left,
       CAST({_JPEG_G.format(
           v="(media_id * 11 + 8 * (w // 16 - 1) + 23 * (h // 16 - 1)) % 256"
       )} AS INTEGER) AS cb_bottom_right
FROM blk
GROUP BY media_id, w, h
ORDER BY media_id
""",
    tags=("ext", "multimodal", "decode", "pixels", "jpeg", "subsampling"),
    description="4:2:0 chroma-subsampled JPEG decode (camera-JPEG MCU geometry)",
)
def multimodal_jpeg_420_pixel_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The camera-JPEG layout, decoded for real: 4:2:0 MCUs carry
    FOUR luma blocks plus one half-resolution block each of Cb/Cr —
    the decoder walks the interleave with per-component sampling
    factors and emits chroma at its STORED resolution. MCU-constant
    payloads (q00=24 both tables) keep every plane on the integer
    closed form; restart_interval=1 resets all three predictors at
    every MCU; the Y-first / Cb-last corner probes pin the
    4-luma-then-chroma interleave. With this, the JPEG seam is down
    to progressive scans."""
    from wilayah_aceh_etl_spark.operators import multimodal as M

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return (
        M.jpeg_420_pixel_stats(docs, "doc_id")
        .select(
            "media_id", "width", "height", "chroma_w", "chroma_h",
            "sum_y", "sum_cb", "sum_cr", "y_top_left", "cb_bottom_right",
        )
        .orderBy("media_id")
    )
