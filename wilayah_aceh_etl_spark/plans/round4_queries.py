"""Round-4 declared queries (22): classic-analytics completions
(association rules, 2-D skyline, weighted median, equi-depth
histogram, percent-of-parent, MoM growth, seasonal-naive forecast
backtest, CUSUM changepoint, autocorrelation, last-touch
attribution, linear-interpolation gap-fill, trailing-window distinct
users, DECIMAL-exact money aggregation, a data-quality expectations
suite, a watermark late-data audit), retrieval/ANN completions (RRF
hybrid fusion, product-quantization ADC, Matryoshka truncation
recall), exact-substring span dedup, PMI collocations, 3-hop BFS
against a recursive-CTE oracle, and the stream-static enrichment
join through the real streaming path.

Each extends a family the engine already covers with a classically
distinct operator shape (the reference itself has no analytics
surface — see SURVEY.md §2.11/EXT; the training-pipeline mandate is
`BASELINE.json:6`). Every query follows the repo-wide determinism
contract: identical aliases on both sides, floats rounded at fixed
precision, money/ratio sums in exact integer (micro-)units, ranks
taken on values that are bitwise equal across engines, and a total
ORDER BY.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from wilayah_aceh_etl_spark.plans.registry import register
from wilayah_aceh_etl_spark.sources.tables import load_table, spread

# ---------------------------------------------------------------------------
# Association rules (support / confidence / lift) — extends the
# basket_part_pairs co-occurrence query into the full Agrawal-style
# rule metrics.
# ---------------------------------------------------------------------------

_ASSOC_ORACLE = """
WITH base AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
),
n AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_orders FROM base),
item AS (SELECT pk, CAST(COUNT(*) AS BIGINT) AS n_item FROM base GROUP BY pk),
pair AS (
  SELECT a.pk AS part_a, b.pk AS part_b, CAST(COUNT(*) AS BIGINT) AS n_pair
  FROM base a JOIN base b ON a.ok = b.ok AND a.pk < b.pk
  GROUP BY a.pk, b.pk
  HAVING COUNT(*) >= 3
)
SELECT
  part_a, part_b, n_pair,
  ia.n_item AS n_a, ib.n_item AS n_b,
  ROUND(CAST(n_pair AS DOUBLE) / n.n_orders, 6) AS support,
  ROUND(CAST(n_pair AS DOUBLE) / ia.n_item, 6) AS conf_a_b,
  ROUND(CAST(n_pair AS DOUBLE) / ib.n_item, 6) AS conf_b_a,
  ROUND(CAST(n_pair AS DOUBLE) * n.n_orders / (ia.n_item * ib.n_item), 6)
    AS lift
FROM pair
JOIN item ia ON ia.pk = part_a
JOIN item ib ON ib.pk = part_b
CROSS JOIN n
ORDER BY ROUND(CAST(n_pair AS DOUBLE) * n.n_orders
               / (ia.n_item * ib.n_item), 6) DESC, part_a, part_b
"""


@register(
    "basket_association_rules",
    oracle=_ASSOC_ORACLE,
    tags=("join", "co-occurrence", "association-rules", "agg"),
    description="association rules: support/confidence/lift for part pairs",
)
def basket_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order baskets: pair
    support, directional confidences, and lift. The pair explosion is
    the same bounded self-join as basket_part_pairs (distinct
    (order, part) first, so the blow-up is lines-per-order² per
    basket, linear in orders). Item counts and the scalar basket
    count are tiny aggregates broadcast into the final join — the
    only wide shuffles are the orderkey self-join and the pair
    count, both on well-distributed keys. All three metrics are
    single double divisions of exact BIGINT counts, so the rounded
    values are bitwise reproducible across engines."""
    base = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .distinct()
    )
    n_orders = base.agg(
        F.countDistinct("ok").alias("n_orders")
    )
    item = base.groupBy("pk").agg(F.count(F.lit(1)).alias("n_item"))
    a = base.select(F.col("ok"), F.col("pk").alias("part_a"))
    b = base.select(F.col("ok"), F.col("pk").alias("part_b"))
    pair = (
        a.join(b, "ok")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= 3)
    )
    ia = item.select(F.col("pk").alias("part_a"), F.col("n_item").alias("n_a"))
    ib = item.select(F.col("pk").alias("part_b"), F.col("n_item").alias("n_b"))
    lift = (
        F.col("n_pair").cast("double")
        * F.col("n_orders")
        / (F.col("n_a") * F.col("n_b"))
    )
    return (
        pair.join(F.broadcast(ia), "part_a")
        .join(F.broadcast(ib), "part_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "n_pair",
            "n_a",
            "n_b",
            F.round(F.col("n_pair").cast("double") / F.col("n_orders"), 6)
            .alias("support"),
            F.round(F.col("n_pair").cast("double") / F.col("n_a"), 6)
            .alias("conf_a_b"),
            F.round(F.col("n_pair").cast("double") / F.col("n_b"), 6)
            .alias("conf_b_a"),
            F.round(lift, 6).alias("lift"),
        )
        .orderBy(F.round(lift, 6).desc(), "part_a", "part_b")
    )


# ---------------------------------------------------------------------------
# 2-D skyline (Pareto frontier)
# ---------------------------------------------------------------------------

_SKYLINE_ORACLE = """
WITH g AS (
  SELECT p_retailprice AS pr, MAX(p_size) AS mx FROM part GROUP BY 1
),
s AS (
  SELECT pr, mx,
         MAX(mx) OVER (ORDER BY pr
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prevmx
  FROM g
),
sky AS (SELECT pr, mx FROM s WHERE prevmx IS NULL OR mx > prevmx)
SELECT ROUND(pr, 2) AS price, mx AS size,
       CAST(COUNT(*) AS BIGINT) AS n_parts
FROM part JOIN sky ON p_retailprice = sky.pr AND p_size = sky.mx
GROUP BY 1, 2
ORDER BY price
"""


@register(
    "skyline_parts_price_size",
    oracle=_SKYLINE_ORACLE,
    tags=("skyline", "window", "agg", "pareto"),
    description="2-D skyline: cheapest-price / largest-size Pareto frontier",
)
def skyline_parts_price_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto frontier) of parts minimizing retail price and
    maximizing size: a part survives iff no other part is at most as
    expensive AND at least as large with one strict. Classic 2-D
    skyline reduces to a sorted sweep: aggregate max(size) per
    distinct price (a scalable hash agg — the 100 TB reduction step),
    then a running-max over the ascending distinct-price sequence
    keeps exactly the staircase. The window runs over the tiny
    aggregated set (|distinct prices| rows, not |parts|), which is
    the standard distribute-then-sweep skyline plan; survivors are
    joined back to count tied parts at each frontier point."""
    part = load_table(spark, sf_dir, "part")
    g = part.groupBy(F.col("p_retailprice").alias("pr")).agg(
        F.max("p_size").alias("mx")
    )
    w = Window.orderBy("pr").rowsBetween(Window.unboundedPreceding, -1)
    sky = (
        g.withColumn("prevmx", F.max("mx").over(w))
        .filter(F.col("prevmx").isNull() | (F.col("mx") > F.col("prevmx")))
        .select("pr", "mx")
    )
    return (
        part.join(
            F.broadcast(sky),
            (part.p_retailprice == sky.pr) & (part.p_size == sky.mx),
        )
        .groupBy(
            F.round("pr", 2).alias("price"), F.col("mx").alias("size")
        )
        .agg(F.count(F.lit(1)).alias("n_parts"))
        .orderBy("price")
    )


# ---------------------------------------------------------------------------
# Exact substring-level dedup: duplicated 8-token spans across docs
# (the exact-substring counterpart of the MinHash document-level
# near-dup family — cf. "Deduplicating Training Data Makes Language
# Models Better", Lee et al. 2022, done here at fixed-width token
# windows instead of suffix arrays).
# ---------------------------------------------------------------------------

_SPAN_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS t
  FROM documents
),
sh AS (
  SELECT doc_id, md5(array_to_string(t[i:i+7], ' ')) AS h
  FROM toks,
       UNNEST(CASE WHEN len(t) >= 8 THEN range(1, len(t) - 6)
                   ELSE CAST([] AS BIGINT[]) END) AS u(i)
),
dup AS (
  SELECT h FROM sh GROUP BY h HAVING COUNT(DISTINCT doc_id) > 1
),
per AS (
  SELECT s.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_spans,
         CAST(SUM(CASE WHEN d.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_spans
  FROM sh s LEFT JOIN dup d ON s.h = d.h
  GROUP BY s.doc_id
)
SELECT doc_id, n_spans, n_dup_spans,
       ROUND(CAST(n_dup_spans AS DOUBLE) / n_spans, 6) AS dup_frac
FROM per
ORDER BY doc_id
"""


@register(
    "dedup_duplicate_span_fraction",
    oracle=_SPAN_ORACLE,
    tags=("ext", "dedup", "text", "exact-substring", "training"),
    description="per-doc fraction of 8-token spans duplicated across docs",
)
def dedup_duplicate_span_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-granularity dedup signal: every 8-token
    window is hashed; a span is 'duplicated' when its hash occurs in
    more than one distinct document, and each doc reports the
    fraction of its spans that are cross-document duplicates — the
    quantity an exact-substring training-data cleaner thresholds on.
    Spans are md5'd BEFORE the explode shuffles them, so the wide
    exchange carries 32-byte hashes, never the raw n-gram text; the
    cross-doc duplicate set is a hash-groupBy on those digests and
    comes back as a broadcastable semi-side (duplicate spans are a
    tiny minority by construction). At 100 TB both shuffles hash on
    the digest, which is uniform by construction — no skew."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    # the word array is bound once, so the per-span lambda slices it
    # instead of re-running lower + regex split for every span
    spans = F.expr(
        r"transform(array(split(lower(text), '\\s+')), t -> "
        "CASE WHEN size(t) >= 8 THEN "
        "transform(sequence(1, size(t) - 7), "
        "i -> md5(array_join(slice(t, i, 8), ' '))) "
        "ELSE CAST(array() AS array<string>) END)[0]"
    )
    sh = docs.select("doc_id", F.explode(spans).alias("h"))
    # One pass over the spans: collapse to (h, doc) with a multiplicity,
    # count distinct docs per h with a window over the already-h-
    # clustered rows, then fold back per doc. The expensive explode +
    # md5 runs ONCE (the naive two-branch plan recomputes it for the
    # duplicate-set aggregation and again for the per-doc join).
    gh = sh.groupBy("h", "doc_id").agg(F.count(F.lit(1)).alias("k"))
    wd = Window.partitionBy("h")
    marked = gh.withColumn("nd", F.count(F.lit(1)).over(wd))
    per = marked.groupBy("doc_id").agg(
        F.sum("k").cast("long").alias("n_spans"),
        F.sum(F.when(F.col("nd") > 1, F.col("k")).otherwise(0))
        .cast("long")
        .alias("n_dup_spans"),
    )
    return per.select(
        "doc_id",
        "n_spans",
        "n_dup_spans",
        F.round(
            F.col("n_dup_spans").cast("double") / F.col("n_spans"), 6
        ).alias("dup_frac"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Weighted median
# ---------------------------------------------------------------------------

_WMEDIAN_ORACLE = """
WITH g AS (
  SELECT l_returnflag AS flag, l_extendedprice AS price,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
  FROM lineitem GROUP BY 1, 2
),
c AS (
  SELECT flag, price, w,
         SUM(w) OVER (PARTITION BY flag ORDER BY price
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum,
         SUM(w) OVER (PARTITION BY flag) AS total
  FROM g
)
SELECT flag, ROUND(MIN(price), 2) AS weighted_median,
       CAST(MIN(total) AS BIGINT) AS total_weight
FROM c WHERE cum * 2 >= total
GROUP BY flag
ORDER BY flag
"""


@register(
    "weighted_median_price_by_flag",
    oracle=_WMEDIAN_ORACLE,
    tags=("agg", "median", "window", "weighted"),
    description="quantity-weighted median extended price per return flag",
)
def weighted_median_price_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median (weight = quantity, integral in this schema so
    summed as exact BIGINT — no float accumulation order to disagree
    on): smallest price whose cumulative weight reaches half the
    group total. Weights are pre-aggregated per distinct
    (flag, price) so the cumulative window runs over the collapsed
    distribution, not the raw rows — at 100 TB the window input is
    |distinct prices per flag|, and the partition key (returnflag)
    keeps it parallel across groups."""
    g = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(
            F.col("l_returnflag").alias("flag"),
            F.col("l_extendedprice").alias("price"),
        )
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("w"))
    )
    wp = Window.partitionBy("flag")
    wc = (
        wp.orderBy("price")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = g.select(
        "flag",
        "price",
        F.sum("w").over(wc).alias("cum"),
        F.sum("w").over(wp).alias("total"),
    )
    return (
        c.filter(F.col("cum") * 2 >= F.col("total"))
        .groupBy("flag")
        .agg(
            F.round(F.min("price"), 2).alias("weighted_median"),
            F.min("total").cast("long").alias("total_weight"),
        )
        .orderBy("flag")
    )


# ---------------------------------------------------------------------------
# Equi-depth histogram (the complement of the fixed-width
# histogram_order_prices): decile boundaries carry equal mass.
# ---------------------------------------------------------------------------

_EQUIDEPTH_ORACLE = """
WITH t AS (
  SELECT o_totalprice,
         NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
  FROM orders
)
SELECT CAST(decile AS INTEGER) AS decile,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(MIN(o_totalprice), 2) AS lo,
       ROUND(MAX(o_totalprice), 2) AS hi
FROM t GROUP BY decile ORDER BY decile
"""


@register(
    "histogram_equi_depth_prices",
    oracle=_EQUIDEPTH_ORACLE,
    tags=("histogram", "ntile", "agg", "statistics"),
    description="equi-depth 10-bucket price histogram via NTILE",
)
def histogram_equi_depth_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth histogram: NTILE(10) over a total order
    (price, orderkey tiebreak — both engines share the same
    remainder-to-early-buckets NTILE contract) then per-decile
    count/lo/hi. The global-sort window is the honest cost of exact
    equi-depth; the at-scale substitute is approx_percentile
    boundaries (see approx_percentile_prices), which this query
    pins ground truth for."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.orderBy("o_totalprice", "o_orderkey")
    return (
        o.select(
            "o_totalprice", F.ntile(10).over(w).alias("decile")
        )
        .groupBy(F.col("decile").cast("int").alias("decile"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# Reciprocal-rank fusion: lexical (BM25) + dense (cosine) retrieval
# fused with the standard 1/(60+rank) formula.
# ---------------------------------------------------------------------------

_RRF_K = 60
_RRF_TOPN = 50
_BM25_K1 = 1.2
_BM25_B = 0.75

_RRF_ORACLE = f"""
WITH dl AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dlen
  FROM documents
),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, AVG(dlen) AS avgdl FROM dl
),
tf AS (
  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents)
  WHERE tok IN ('scan', 'merge', 'window')
  GROUP BY doc_id, tok
),
df AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok),
bscore AS (
  SELECT tf.doc_id,
    SUM(
      ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
      * tf.tf * ({_BM25_K1} + 1.0)
      / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B}
         + {_BM25_B} * dl.dlen / stats.avgdl))
    ) AS score
  FROM tf
  JOIN df ON tf.tok = df.tok
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
  GROUP BY tf.doc_id
),
btop AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY ROUND(score, 4) DESC, doc_id) AS rk
  FROM bscore
  QUALIFY rk <= {_RRF_TOPN}
),
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
q AS (SELECT e AS qe FROM v WHERE vec_id = 0),
cscore AS (
  SELECT vec_id,
         list_dot_product(qe, e)
         / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(e, e)))
           AS c
  FROM v, q WHERE vec_id != 0
),
ctop AS (
  SELECT vec_id, ROW_NUMBER() OVER (ORDER BY c DESC, vec_id) AS rk
  FROM cscore
  QUALIFY rk <= {_RRF_TOPN}
),
fused AS (
  SELECT COALESCE(b.doc_id, c.vec_id) AS doc_id,
         COALESCE(1.0 / ({_RRF_K} + b.rk), 0)
         + COALESCE(1.0 / ({_RRF_K} + c.rk), 0) AS rrf,
         CAST(COALESCE(b.rk, 0) AS INTEGER) AS bm25_rk,
         CAST(COALESCE(c.rk, 0) AS INTEGER) AS cos_rk
  FROM btop b FULL OUTER JOIN ctop c ON b.doc_id = c.vec_id
)
SELECT doc_id, ROUND(rrf, 6) AS rrf_score, bm25_rk, cos_rk,
       CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS INTEGER) AS rk
FROM fused
QUALIFY rk <= 20
ORDER BY rk
"""


@register(
    "retrieval_rrf_fusion",
    oracle=_RRF_ORACLE,
    tags=("ext", "retrieval", "similarity", "bm25", "fusion"),
    description="hybrid retrieval: RRF fusion of BM25 and cosine top-50",
)
def retrieval_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search: the lexical (BM25, fixed 3-token query) and
    dense (cosine to vector 0) retrievers each produce a top-50
    list; reciprocal-rank fusion scores 1/(60+rank) and re-ranks.
    This is the textbook hybrid-retrieval operator every RAG data
    stack runs. Both per-retriever lists use ulp-stable ranking
    (BM25 on the rounded score / cosine on the bitwise-reproducible
    double, id tiebreaks), and the fused score is a sum of exact
    reciprocals of small integers — cross-engine deterministic.
    At scale each retriever is already top-k-bounded (window top-k /
    TakeOrdered), so the fusion join touches ≤2k rows regardless of
    corpus size."""
    from wilayah_aceh_etl_spark.operators import similarity as S

    docs = load_table(spark, sf_dir, "documents")
    dl = docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("dlen")
    )
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dlen").alias("avgdl")
    )
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok").isin("scan", "merge", "window"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    term = idf * F.col("tf") * (_BM25_K1 + 1.0) / (
        F.col("tf")
        + _BM25_K1
        * (1.0 - _BM25_B + _BM25_B * F.col("dlen") / F.col("avgdl"))
    )
    bscore = (
        tf.join(F.broadcast(df_), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(term).alias("score"))
    )
    wb = Window.orderBy(F.round("score", 4).desc(), "doc_id")
    btop = (
        bscore.withColumn("rk", F.row_number().over(wb))
        .filter(F.col("rk") <= _RRF_TOPN)
        .select("doc_id", F.col("rk").alias("brk"))
    )

    emb = load_table(spark, sf_dir, "embeddings")
    ctop = (
        S.brute_force_topk(emb, emb.filter(F.col("vec_id") == 0), k=_RRF_TOPN)
        .select(F.col("vec_id"), F.col("rk").alias("crk"))
    )

    fused = (
        btop.join(ctop, btop.doc_id == ctop.vec_id, "full_outer")
        .select(
            F.coalesce(btop.doc_id, ctop.vec_id).alias("doc_id"),
            (
                F.coalesce(1.0 / (_RRF_K + F.col("brk")), F.lit(0.0))
                + F.coalesce(1.0 / (_RRF_K + F.col("crk")), F.lit(0.0))
            ).alias("rrf"),
            F.coalesce(F.col("brk"), F.lit(0)).cast("int").alias("bm25_rk"),
            F.coalesce(F.col("crk"), F.lit(0)).cast("int").alias("cos_rk"),
        )
    )
    wf = Window.orderBy(F.col("rrf").desc(), "doc_id")
    return (
        fused.withColumn("rk", F.row_number().over(wf).cast("int"))
        .filter(F.col("rk") <= 20)
        .select(
            "doc_id", F.round("rrf", 6).alias("rrf_score"),
            "bm25_rk", "cos_rk", "rk",
        )
        .orderBy("rk")
    )


# ---------------------------------------------------------------------------
# Month-over-month growth (lag-based growth rates on exact cents)
# ---------------------------------------------------------------------------

_MOM_ORACLE = """
WITH m AS (
  SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1
),
g AS (
  SELECT month, cents,
         LAG(cents) OVER (ORDER BY month) AS prev_cents
  FROM m
)
SELECT month,
       ROUND(cents / 100.0, 2) AS revenue,
       ROUND(prev_cents / 100.0, 2) AS prev_revenue,
       ROUND(CAST(cents - prev_cents AS DOUBLE) / prev_cents, 6)
         AS mom_growth
FROM g
ORDER BY month
"""


@register(
    "orders_mom_growth",
    oracle=_MOM_ORACLE,
    tags=("agg", "date", "window", "growth"),
    description="month-over-month revenue growth via LAG on exact cents",
)
def orders_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series growth rates: monthly revenue is accumulated in
    exact integer cents (o_totalprice has 2 decimals, so
    ROUND(x*100) is lossless and the SUM is order-independent — the
    integer-cents pattern), then LAG computes month-over-month
    deltas. The monthly rollup is a scalable hash agg; the lag
    window runs over the tiny month sequence. NULL growth on the
    first month is the declared semantic on both sides."""
    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM")
        .alias("month")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
        .alias("cents")
    )
    w = Window.orderBy("month")
    g = m.withColumn("prev_cents", F.lag("cents").over(w))
    return g.select(
        "month",
        F.round(F.col("cents") / 100.0, 2).alias("revenue"),
        F.round(F.col("prev_cents") / 100.0, 2).alias("prev_revenue"),
        F.round(
            (F.col("cents") - F.col("prev_cents")).cast("double")
            / F.col("prev_cents"),
            6,
        ).alias("mom_growth"),
    ).orderBy("month")


# ---------------------------------------------------------------------------
# CUSUM changepoint detection on per-type daily event counts
# ---------------------------------------------------------------------------

_CUSUM_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
stats AS (
  SELECT event_type, AVG(n) AS mean_n FROM daily GROUP BY 1
),
cus AS (
  SELECT d.event_type, d.day, d.n,
         SUM(d.n - s.mean_n) OVER (
           PARTITION BY d.event_type ORDER BY d.day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS cusum
  FROM daily d JOIN stats s ON d.event_type = s.event_type
),
ranked AS (
  SELECT event_type, day, cusum,
         ROW_NUMBER() OVER (
           PARTITION BY event_type ORDER BY ABS(cusum) DESC, day
         ) AS rk
  FROM cus
)
SELECT event_type, CAST(day AS VARCHAR) AS changepoint_day,
       ROUND(cusum, 4) AS cusum_at_peak
FROM ranked WHERE rk = 1
ORDER BY event_type
"""


@register(
    "events_changepoint_cusum",
    oracle=_CUSUM_ORACLE,
    tags=("events", "window", "changepoint", "anomaly"),
    description="CUSUM changepoint: peak cumulative deviation per event type",
)
def events_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline CUSUM changepoint detection: per event type, the day
    where the running sum of (daily count − overall mean) peaks in
    magnitude — the classic single-changepoint estimator over a
    count series. Daily counts are a scalable hash agg; the
    cumulative window is per-type over the collapsed day series
    (bounded by the calendar, not the event volume). The running sum
    adds doubles in day order on both engines, so cusum is bitwise
    reproducible; rank ties break on the earlier day."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    stats = daily.groupBy("event_type").agg(F.avg("n").alias("mean_n"))
    wc = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cus = daily.join(F.broadcast(stats), "event_type").withColumn(
        "cusum", F.sum(F.col("n") - F.col("mean_n")).over(wc)
    )
    wr = Window.partitionBy("event_type").orderBy(
        F.abs("cusum").desc(), "day"
    )
    return (
        cus.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("day").cast("string").alias("changepoint_day"),
            F.round("cusum", 4).alias("cusum_at_peak"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Data-quality expectations suite (multi-rule audit report)
# ---------------------------------------------------------------------------

_DQ_ORACLE = """
SELECT * FROM (
  SELECT 'lineitem_quantity_in_1_50' AS rule,
         CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
  FROM lineitem
  UNION ALL
  SELECT 'orders_totalprice_positive',
         CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'lineitem_discount_in_0_015',
         CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.15
                       THEN 1 ELSE 0 END) AS BIGINT)
  FROM lineitem
  UNION ALL
  SELECT 'lineitem_orderkey_in_orders',
         (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
          WHERE NOT EXISTS (SELECT 1 FROM orders o
                            WHERE o.o_orderkey = l.l_orderkey))
  UNION ALL
  SELECT 'customer_custkey_unique',
         CAST(COUNT(*) - COUNT(DISTINCT c_custkey) AS BIGINT)
  FROM customer
)
ORDER BY rule
"""


@register(
    "data_quality_expectations",
    oracle=_DQ_ORACLE,
    tags=("audit", "quality", "integrity", "anti"),
    description="expectations suite: 5 data-quality rules, violations each",
)
def data_quality_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectations-style data-quality audit: five declarative rules
    (quantity range, price positivity, discount range, referential
    integrity, key uniqueness) evaluated in one report. Per-table rules are
    conditional aggregates fused into single scans (one pass over
    lineitem covers two rules); the referential check is a broadcast
    anti-join count. The report is a tiny union of scalars — the
    shape a 100 TB nightly audit job emits."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")

    li = l.agg(
        F.sum(
            F.when(
                (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("qty_bad"),
        F.sum(
            F.when(
                (F.col("l_discount") < 0) | (F.col("l_discount") > 0.15), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("disc_bad"),
    )
    ord_bad = o.agg(
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0))
        .cast("long")
        .alias("n")
    )
    orphan = (
        l.join(
            F.broadcast(o.select("o_orderkey")),
            l.l_orderkey == o.o_orderkey,
            "left_anti",
        ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    dup_keys = c.agg(
        (F.count(F.lit(1)) - F.countDistinct("c_custkey"))
        .cast("long")
        .alias("n")
    )

    def one(rule: str, df: DataFrame, col: str) -> DataFrame:
        return df.select(
            F.lit(rule).alias("rule"), F.col(col).alias("n_violations")
        )

    report = (
        one("lineitem_quantity_in_1_50", li, "qty_bad")
        .unionAll(one("orders_totalprice_positive", ord_bad, "n"))
        .unionAll(one("lineitem_discount_in_0_015", li, "disc_bad"))
        .unionAll(one("lineitem_orderkey_in_orders", orphan, "n"))
        .unionAll(one("customer_custkey_unique", dup_keys, "n"))
    )
    return report.orderBy("rule")


# ---------------------------------------------------------------------------
# Stream-static enrichment join (registers the existing
# streaming/windows.py::enriched_segment_counts operator against an
# oracle — the one streaming join shape not yet in the registry).
# ---------------------------------------------------------------------------

_ENRICH_ORACLE = """
SELECT
  time_bucket(INTERVAL '5 minutes', e.ts) AS window_start,
  c.c_mktsegment AS segment,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  ROUND(SUM(e.value), 2) AS total_value
FROM events e JOIN customer c ON c.c_custkey = e.user_id
GROUP BY 1, 2
ORDER BY 1, 2
"""


@register(
    "streaming_stream_static_enrich",
    oracle=_ENRICH_ORACLE,
    tags=("streaming", "events", "join", "stream-static"),
    description="Structured Streaming stream-static dim join, oracle-checked",
)
def streaming_stream_static_enrich(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-static join through the REAL streaming path: each
    micro-batch of the event stream is enriched against the static
    customer dimension (user_id → market segment, broadcast per
    batch — stream-static joins are stateless), then aggregated per
    tumbling window and segment; availableNow over staged files,
    held to the batch join+agg oracle."""
    import uuid

    from wilayah_aceh_etl_spark.plans.events_queries import _stage_events
    from wilayah_aceh_etl_spark.streaming import (
        enriched_segment_counts,
        read_event_stream,
    )

    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    staged = _stage_events(spark, sf_dir)
    name = f"stream_enrich_{uuid.uuid4().hex[:8]}"
    q = (
        enriched_segment_counts(read_event_stream(spark, staged), dim)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name).orderBy("window_start", "segment")


# ---------------------------------------------------------------------------
# Product quantization + asymmetric distance (the FAISS IVF-PQ read
# path, deterministic codebook): 64-d vectors → 4 subspaces × 16
# centroids; ADC top-10 per query via the precomputed LUT.
# ---------------------------------------------------------------------------

_PQ_ORACLE = """
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
),
sub AS (SELECT UNNEST(range(4)) AS s),
cent AS (
  SELECT v.vec_id AS cid, sub.s,
         v.e[CAST(sub.s * 16 + 1 AS BIGINT):CAST(sub.s * 16 + 16 AS BIGINT)]
           AS ce
  FROM v, sub WHERE v.vec_id < 16
),
vs AS (
  SELECT v.vec_id, sub.s,
         v.e[CAST(sub.s * 16 + 1 AS BIGINT):CAST(sub.s * 16 + 16 AS BIGINT)]
           AS ve
  FROM v, sub
),
dist AS (
  SELECT vs.vec_id, vs.s, cent.cid,
         greatest(list_dot_product(ve, ve) - 2 * list_dot_product(ve, ce)
                  + list_dot_product(ce, ce), 0) AS d2
  FROM vs JOIN cent ON vs.s = cent.s
),
codes AS (
  SELECT vec_id, s, arg_min(cid, d2) AS code
  FROM dist GROUP BY vec_id, s
),
lut AS (
  SELECT vec_id AS query_id, s, cid AS code,
         CAST(ROUND(d2 * 1000000) AS BIGINT) AS d2_micro
  FROM dist WHERE vec_id < 3
),
adc AS (
  SELECT lut.query_id, codes.vec_id,
         CAST(SUM(lut.d2_micro) AS BIGINT) AS adc_micro
  FROM codes JOIN lut ON codes.s = lut.s AND codes.code = lut.code
  WHERE codes.vec_id != lut.query_id
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
    "similarity_pq_adc_topk",
    oracle=_PQ_ORACLE,
    tags=("ext", "similarity", "ann", "quantization", "pq"),
    description="product-quantization ADC top-10 (4x16 codebook)",
)
def similarity_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization with asymmetric distance computation —
    the memory-bound ANN path: each 64-d vector is encoded as 4
    nibble codes (nearest of 16 sub-centroids per 16-d subspace;
    codebook = the first 16 vectors, deterministic), and each query
    precomputes a 4×16 lookup table of exact subspace distances, so
    scoring a candidate is 4 table lookups instead of a 64-d fold.
    At scale the codes table is ~500× smaller than the raw vectors
    (4 bytes vs 256), the LUT is a tiny broadcast, and scoring is a
    broadcast-hash join + sum — no full-precision vectors ever
    shuffle. LUT entries are rounded to exact integer micro-units
    before the 4-way sum so the ADC total is order-independent and
    bitwise identical across engines; top-10 ranks break ties on
    vec_id. Completes the ANN story: brute force (exact) → IVF
    (prune) → PQ (compress)."""
    from wilayah_aceh_etl_spark.functions import vectors as V

    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select("vec_id", V.as_double("embedding").alias("e"))
    sub = spark.range(4).select(F.col("id").cast("int").alias("s"))
    seg = lambda col, s: F.slice(col, s * 16 + 1, 16)  # noqa: E731

    cent = (
        v.filter(F.col("vec_id") < 16)
        .crossJoin(F.broadcast(sub))
        .select(
            F.col("vec_id").alias("cid"),
            "s",
            seg(F.col("e"), F.col("s")).alias("ce"),
        )
    )
    vs = v.crossJoin(F.broadcast(sub)).select(
        "vec_id", "s", seg(F.col("e"), F.col("s")).alias("ve")
    )
    d2 = F.greatest(
        V.dot("ve", "ve")
        - 2 * V.dot("ve", "ce")
        + V.dot("ce", "ce"),
        F.lit(0.0),
    )
    dist = vs.join(F.broadcast(cent), "s").select(
        "vec_id", "s", "cid", d2.alias("d2")
    )
    codes = dist.groupBy("vec_id", "s").agg(
        F.min_by("cid", "d2").alias("code")
    )
    lut = (
        dist.filter(F.col("vec_id") < 3)
        .select(
            F.col("vec_id").alias("query_id"),
            "s",
            F.col("cid").alias("code"),
            F.round(F.col("d2") * 1000000, 0).cast("long").alias("d2_micro"),
        )
    )
    adc = (
        codes.join(F.broadcast(lut), ["s", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("d2_micro").alias("adc_micro"))
    )
    w = Window.partitionBy("query_id").orderBy("adc_micro", "vec_id")
    return (
        adc.withColumn("rk", F.row_number().over(w).cast("int"))
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
# Iterative BFS over the part co-occurrence graph (bounded hops),
# oracle-checked against a recursive CTE.
# ---------------------------------------------------------------------------

_BFS_ORACLE = """
WITH RECURSIVE base AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
),
pairs AS (
  SELECT a.pk AS pa, b.pk AS pb
  FROM base a JOIN base b ON a.ok = b.ok AND a.pk < b.pk
  GROUP BY 1, 2 HAVING COUNT(*) >= 3
),
edges AS (
  SELECT pa AS u, pb AS w FROM pairs
  UNION ALL
  SELECT pb AS u, pa AS w FROM pairs
),
src AS (SELECT MIN(u) AS s FROM edges),
walk AS (
  SELECT s AS node, 0 AS d FROM src
  UNION ALL
  SELECT e.w, walk.d + 1
  FROM walk JOIN edges e ON walk.node = e.u
  WHERE walk.d < 3
)
SELECT node, CAST(MIN(d) AS INTEGER) AS dist
FROM walk GROUP BY node
ORDER BY dist, node
"""


@register(
    "graph_bfs_part_cooccurrence",
    oracle=_BFS_ORACLE,
    tags=("graph", "iterative", "bfs", "join"),
    description="3-hop BFS distances over the part co-occurrence graph",
)
def graph_bfs_part_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first shortest hops (≤3) from the smallest part id in
    the co-occurrence graph (edges = part pairs sharing ≥3 orders).
    Spark-side this is the canonical unrolled-frontier BFS: each hop
    joins the current frontier to the edge list and anti-joins the
    visited set, so per-hop work is |frontier|·degree, the Pregel
    pattern without per-node state. The oracle is DuckDB's recursive
    CTE walking the same edges. Bounded unrolling (3 static joins)
    keeps the lineage finite — at scale each frontier is
    checkpointable, and the edge list shuffles once and is reused
    every hop."""
    base = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .distinct()
    )
    a = base.select("ok", F.col("pk").alias("pa"))
    b = base.select("ok", F.col("pk").alias("pb"))
    pairs = (
        a.join(b, "ok")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 3)
        .select("pa", "pb")
    )
    edges = pairs.select(
        F.col("pa").alias("u"), F.col("pb").alias("w")
    ).unionAll(pairs.select(F.col("pb").alias("u"), F.col("pa").alias("w")))
    edges = edges.cache()

    src = edges.agg(F.min("u").alias("node")).withColumn("dist", F.lit(0))
    visited = src
    frontier = src.select("node")
    for hop in range(1, 4):
        nxt = (
            frontier.join(edges, frontier.node == edges.u)
            .select(F.col("w").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("dist", F.lit(hop))
        )
        visited = visited.unionAll(nxt)
        frontier = nxt.select("node")
    return visited.select(
        "node", F.col("dist").cast("int").alias("dist")
    ).orderBy("dist", "node")


# ---------------------------------------------------------------------------
# Gap-fill with linear interpolation (the numeric upgrade of
# events_gapfill_locf): per-user daily series densified to the full
# calendar, missing days linearly interpolated between neighbors.
# ---------------------------------------------------------------------------

_INTERP_ORACLE = """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(ROUND(value * 1000000) AS BIGINT)) AS BIGINT) AS v
  FROM events WHERE user_id < 10
  GROUP BY 1, 2
),
bounds AS (
  SELECT user_id, MIN(day) AS lo, MAX(day) AS hi FROM daily GROUP BY 1
),
cal AS (
  SELECT user_id, CAST(UNNEST(generate_series(lo, hi, INTERVAL 1 DAY))
                       AS DATE) AS day
  FROM bounds
),
joined AS (
  SELECT c.user_id, c.day, d.v,
         CASE WHEN d.v IS NOT NULL THEN c.day END AS vday
  FROM cal c LEFT JOIN daily d ON c.user_id = d.user_id AND c.day = d.day
),
neigh AS (
  SELECT user_id, day, v,
         LAST_VALUE(v IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
         LAST_VALUE(vday IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
         FIRST_VALUE(v IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY day
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
         FIRST_VALUE(vday IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY day
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
  FROM joined
)
SELECT user_id, CAST(day AS VARCHAR) AS day,
       CASE WHEN v IS NOT NULL THEN 0 ELSE 1 END AS interpolated,
       ROUND(
         CASE
           WHEN v IS NOT NULL THEN v / 1000000.0
           WHEN pv IS NULL THEN nv / 1000000.0
           WHEN nv IS NULL THEN pv / 1000000.0
           ELSE (pv + CAST(nv - pv AS DOUBLE)
                 * date_diff('day', pd, day)
                 / date_diff('day', pd, nd)) / 1000000.0
         END, 4) AS value_filled
FROM neigh
ORDER BY user_id, day
"""


@register(
    "events_gapfill_linear_interp",
    oracle=_INTERP_ORACLE,
    tags=("events", "temporal", "gapfill", "interpolation", "window"),
    description="calendar densify + linear interpolation between neighbors",
)
def events_gapfill_linear_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation gap-fill: each user's daily value series
    is densified to the full calendar (sequence/explode — partition-
    local, no shuffle) and every missing day gets the time-weighted
    blend of its nearest observed neighbors, with edge days falling
    back to one-sided fill (LOCF forward / NOCB backward). Daily
    totals are exact integer micro-units so every interpolated value
    is a deterministic function of exact ints and integer day gaps —
    no float-accumulation ambiguity. The four neighbor lookups are
    two window passes (forward last-ignore-nulls, backward
    first-ignore-nulls) per user partition, the standard scalable
    interpolation plan (hypertable gapfill semantics)."""
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    daily = e.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 1000000, 0).cast("long")).alias("v")
    )
    cal = (
        daily.groupBy("user_id")
        .agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
        .select(
            "user_id",
            F.explode(
                F.sequence("lo", "hi", F.expr("interval 1 day"))
            ).alias("day"),
        )
    )
    joined = cal.join(daily, ["user_id", "day"], "left").withColumn(
        "vday", F.when(F.col("v").isNotNull(), F.col("day"))
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wb = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    neigh = joined.select(
        "user_id",
        "day",
        "v",
        F.last("v", ignorenulls=True).over(wf).alias("pv"),
        F.last("vday", ignorenulls=True).over(wf).alias("pd"),
        F.first("v", ignorenulls=True).over(wb).alias("nv"),
        F.first("vday", ignorenulls=True).over(wb).alias("nd"),
    )
    interp = (
        F.col("pv")
        + (F.col("nv") - F.col("pv")).cast("double")
        * F.datediff(F.col("day"), F.col("pd"))
        / F.datediff(F.col("nd"), F.col("pd"))
    )
    filled = (
        F.when(F.col("v").isNotNull(), F.col("v") / 1000000.0)
        .when(F.col("pv").isNull(), F.col("nv") / 1000000.0)
        .when(F.col("nv").isNull(), F.col("pv") / 1000000.0)
        .otherwise(interp / 1000000.0)
    )
    return neigh.select(
        "user_id",
        F.col("day").cast("string").alias("day"),
        F.when(F.col("v").isNotNull(), 0).otherwise(1).alias("interpolated"),
        F.round(filled, 4).alias("value_filled"),
    ).orderBy("user_id", "day")


# ---------------------------------------------------------------------------
# Autocorrelation (ACF lags 1..3) of the daily count series,
# computed from exact integer sums so both engines agree bitwise.
# ---------------------------------------------------------------------------

_ACF_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
lagged AS (
  SELECT event_type, lag, n AS x,
         LAG(n, lag) OVER (PARTITION BY event_type, lag ORDER BY day) AS y
  FROM daily CROSS JOIN (SELECT UNNEST([1, 2, 3]) AS lag)
),
sums AS (
  SELECT event_type, lag,
         CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM lagged WHERE y IS NOT NULL
  GROUP BY 1, 2
)
SELECT event_type, CAST(lag AS INTEGER) AS lag, k AS n_pairs,
       ROUND(
         (k * sxy - sx * sy)
         / (sqrt(CAST(k * sxx - sx * sx AS DOUBLE))
            * sqrt(CAST(k * syy - sy * sy AS DOUBLE))), 6) AS acf
FROM sums
ORDER BY event_type, lag
"""


@register(
    "events_autocorrelation_acf",
    oracle=_ACF_ORACLE,
    tags=("events", "window", "acf", "statistics", "temporal"),
    description="lag-1..3 autocorrelation of daily counts per event type",
)
def events_autocorrelation_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of each event type's daily count
    series at lags 1–3 — the first diagnostic any time-series
    forecasting pipeline computes. Pearson r is assembled manually
    from sums of exact BIGINT counts (k·Σxy − Σx·Σy over the
    geometric mean of the variances), so every addition is exact
    integer arithmetic and only the final division touches floats —
    bitwise identical across engines with no reliance on matching
    builtin corr() definitions. Daily counts are a scalable hash
    agg; the lag windows run per (type, lag) over the collapsed
    calendar series."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    wide = daily.select(
        "event_type",
        F.col("n").alias("x"),
        *[F.lag("n", k).over(w).alias(f"y{k}") for k in (1, 2, 3)],
    )
    lagged = wide.select(
        "event_type",
        F.expr(
            "stack(3, 1, y1, 2, y2, 3, y3) AS (lag, y)"
        ),
        "x",
    ).filter(F.col("y").isNotNull())
    sums = lagged.groupBy("event_type", "lag").agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    acf = (
        F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")
    ) / (
        F.sqrt((F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx"))
               .cast("double"))
        * F.sqrt((F.col("k") * F.col("syy") - F.col("sy") * F.col("sy"))
                 .cast("double"))
    )
    return sums.select(
        "event_type",
        F.col("lag").cast("int").alias("lag"),
        F.col("k").alias("n_pairs"),
        F.round(acf, 6).alias("acf"),
    ).orderBy("event_type", "lag")


# ---------------------------------------------------------------------------
# Last-touch attribution: credit each purchase to the user's most
# recent preceding non-purchase event within a 7-day lookback.
# ---------------------------------------------------------------------------

_ATTR_ORACLE = """
WITH tagged AS (
  SELECT user_id, ts, event_type,
         CASE WHEN event_type != 'purchase' THEN event_type END AS touch_type,
         CASE WHEN event_type != 'purchase' THEN ts END AS touch_ts
  FROM events
),
attributed AS (
  SELECT user_id, ts, event_type,
         LAST_VALUE(touch_type IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, event_type
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_touch,
         LAST_VALUE(touch_ts IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, event_type
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_touch_ts
  FROM tagged
)
SELECT COALESCE(CASE WHEN last_touch_ts >= ts - INTERVAL 7 DAY
                     THEN last_touch END, 'none') AS attributed_to,
       CAST(COUNT(*) AS BIGINT) AS n_conversions
FROM attributed
WHERE event_type = 'purchase'
GROUP BY 1
ORDER BY 1
"""


@register(
    "events_attribution_last_touch",
    oracle=_ATTR_ORACLE,
    tags=("events", "window", "attribution", "ignore-nulls"),
    description="last-touch attribution with a 7-day lookback window",
)
def events_attribution_last_touch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Marketing-style last-touch attribution: each purchase credits
    the same user's most recent earlier non-purchase event, provided
    it happened within the 7-day lookback; otherwise 'none'. One
    ordered pass per user partition (LAG … IGNORE NULLS over a
    conditionally-tagged column — no self-join, no per-purchase
    subquery), so the cost is a single user-keyed shuffle however
    long the history is. The (ts, event_type) ordering tiebreak
    makes same-timestamp rows deterministic on both engines."""
    e = load_table(spark, sf_dir, "events")
    tagged = e.select(
        "user_id",
        "ts",
        "event_type",
        F.when(F.col("event_type") != "purchase", F.col("event_type"))
        .alias("touch_type"),
        F.when(F.col("event_type") != "purchase", F.col("ts"))
        .alias("touch_ts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_type")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    attributed = tagged.select(
        "ts",
        "event_type",
        F.last("touch_type", ignorenulls=True).over(w).alias("last_touch"),
        F.last("touch_ts", ignorenulls=True).over(w).alias("last_touch_ts"),
    )
    return (
        attributed.filter(F.col("event_type") == "purchase")
        .select(
            F.coalesce(
                F.when(
                    F.col("last_touch_ts")
                    >= F.col("ts") - F.expr("interval 7 day"),
                    F.col("last_touch"),
                ),
                F.lit("none"),
            ).alias("attributed_to")
        )
        .groupBy("attributed_to")
        .agg(F.count(F.lit(1)).alias("n_conversions"))
        .orderBy("attributed_to")
    )


# ---------------------------------------------------------------------------
# Percent-of-parent rollup: nation revenue as a share of its region,
# region as a share of the world (the OLAP drill-down ratio).
# ---------------------------------------------------------------------------

_POP_ORACLE = """
WITH rev AS (
  SELECT r.r_name AS region, n.n_name AS nation,
         CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY 1, 2
),
tot AS (
  SELECT region, nation, cents,
         SUM(cents) OVER (PARTITION BY region) AS region_cents,
         SUM(cents) OVER () AS world_cents
  FROM rev
)
SELECT region, nation,
       ROUND(cents / 100.0, 2) AS revenue,
       ROUND(CAST(cents AS DOUBLE) / region_cents, 6) AS pct_of_region,
       ROUND(CAST(region_cents AS DOUBLE) / world_cents, 6)
         AS region_pct_of_world
FROM tot
ORDER BY region, nation
"""


@register(
    "revenue_percent_of_parent",
    oracle=_POP_ORACLE,
    tags=("agg", "window", "hierarchy", "join", "percent-of-parent"),
    description="share-of-parent ratios down the region→nation hierarchy",
)
def revenue_percent_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-parent — the drill-down ratio every OLAP frontend
    computes: each nation's revenue share within its region, and
    each region's share of the world total. Revenue is accumulated
    in exact integer cents (order-independent), the dimension chain
    is two broadcast joins into the fact scan, and both parent
    totals are partition windows over the tiny (region, nation)
    rollup — no second scan of the fact table."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    rev = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(
            F.col("r_name").alias("region"), F.col("n_name").alias("nation")
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
            .alias("cents")
        )
    )
    wr = Window.partitionBy("region")
    ww = Window.partitionBy()
    tot = rev.select(
        "region",
        "nation",
        "cents",
        F.sum("cents").over(wr).alias("region_cents"),
        F.sum("cents").over(ww).alias("world_cents"),
    )
    return tot.select(
        "region",
        "nation",
        F.round(F.col("cents") / 100.0, 2).alias("revenue"),
        F.round(
            F.col("cents").cast("double") / F.col("region_cents"), 6
        ).alias("pct_of_region"),
        F.round(
            F.col("region_cents").cast("double") / F.col("world_cents"), 6
        ).alias("region_pct_of_world"),
    ).orderBy("region", "nation")


# ---------------------------------------------------------------------------
# Matryoshka truncation recall: how much of the exact full-dim
# top-10 the 16-d prefix embedding retains (self-measuring, like
# similarity_ivf_recall but for dimension truncation).
# ---------------------------------------------------------------------------

_MATRYOSHKA_ORACLE = """
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
         CAST(embedding[1:16] AS DOUBLE[]) AS p
  FROM embeddings
),
q AS (SELECT vec_id AS query_id, e AS qe, p AS qp FROM v WHERE vec_id < 5),
full_rank AS (
  SELECT query_id, vec_id,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
           list_dot_product(qe, e)
           / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(e, e)))
           DESC, vec_id) AS rk
  FROM q, v WHERE vec_id != query_id
),
pre_rank AS (
  SELECT query_id, vec_id,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
           list_dot_product(qp, p)
           / (sqrt(list_dot_product(qp, qp)) * sqrt(list_dot_product(p, p)))
           DESC, vec_id) AS rk
  FROM q, v WHERE vec_id != query_id
)
SELECT f.query_id,
       CAST(COUNT(p.vec_id) AS BIGINT) AS n_overlap,
       ROUND(COUNT(p.vec_id) / 10.0, 2) AS recall_at_10
FROM full_rank f
LEFT JOIN pre_rank p
  ON f.query_id = p.query_id AND f.vec_id = p.vec_id AND p.rk <= 10
WHERE f.rk <= 10
GROUP BY f.query_id
ORDER BY f.query_id
"""


@register(
    "similarity_matryoshka_recall",
    oracle=_MATRYOSHKA_ORACLE,
    tags=("ext", "similarity", "ann", "truncation", "eval"),
    description="recall@10 of 16-d prefix embeddings vs full 64-d cosine",
)
def similarity_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension-truncation quality meter: rank the corpus by cosine
    over the first 16 dimensions only (the Matryoshka/prefix-pruning
    trick — 4× less memory and bandwidth per comparison) and measure
    what fraction of the exact full-dimension top-10 survives, per
    query. At scale this is the calibration query run before
    switching the serving path to truncated vectors: both rankings
    are broadcast-query × corpus-scan passes (no corpus self-join),
    and the overlap join touches only 2×10 rows per query. Ranks
    break ties on vec_id over the bitwise-reproducible fold cosine,
    so recall is exact cross-engine."""
    from wilayah_aceh_etl_spark.operators import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    full = S.brute_force_topk(emb, queries, k=10)
    pre_corpus = emb.select(
        "vec_id", F.slice("embedding", 1, 16).alias("embedding")
    )
    pre = S.brute_force_topk(
        pre_corpus, pre_corpus.filter(F.col("vec_id") < 5), k=10
    )
    overlap = (
        full.select("query_id", "vec_id")
        .join(
            pre.select("query_id", "vec_id", F.lit(1).alias("hit")),
            ["query_id", "vec_id"],
            "left",
        )
        .groupBy("query_id")
        .agg(F.sum("hit").alias("n_hits"))
    )
    return overlap.select(
        "query_id",
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_overlap"),
        F.round(F.coalesce(F.col("n_hits"), F.lit(0)) / 10.0, 2)
        .alias("recall_at_10"),
    ).orderBy("query_id")


# ---------------------------------------------------------------------------
# Decimal-exact money aggregation (DECIMAL type coverage: the one
# numeric family the engine's integer-cents pattern sidesteps
# elsewhere — here the arithmetic itself runs in DECIMAL).
# ---------------------------------------------------------------------------

_DECIMAL_ORACLE = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18, 2))) AS DOUBLE), 2)
         AS total_dec,
       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18, 2)))
                  / COUNT(*) AS DOUBLE), 4) AS avg_dec,
       ROUND(CAST(MAX(CAST(o_totalprice AS DECIMAL(18, 2)))
                  - MIN(CAST(o_totalprice AS DECIMAL(18, 2)))
                  AS DOUBLE), 2) AS range_dec
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@register(
    "decimal_exact_money_agg",
    oracle=_DECIMAL_ORACLE,
    tags=("agg", "types", "decimal"),
    description="DECIMAL(18,2) exact money aggregation per priority",
)
def decimal_exact_money_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Money arithmetic in DECIMAL: prices cast to DECIMAL(18,2) so
    SUM/AVG/range are exact base-10 regardless of accumulation order
    — the type a financial ledger schema would declare, and the
    built-in alternative to the repo's integer-cents idiom. Spark
    widens the DECIMAL sum precision automatically; results are cast
    to double only for display. Aggregation is one hash agg with
    map-side partials (decimal partials are exact, so partial+final
    merge is order-independent by construction)."""
    o = load_table(spark, sf_dir, "orders")
    dec = F.col("o_totalprice").cast("decimal(18,2)")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(dec).cast("double"), 2).alias("total_dec"),
            F.round(
                (F.sum(dec) / F.count(F.lit(1))).cast("double"), 4
            ).alias("avg_dec"),
            F.round(
                (F.max(dec) - F.min(dec)).cast("double"), 2
            ).alias("range_dec"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# PMI collocations: bigram pointwise mutual information over the
# document corpus (the association-rule 'lift' of token pairs).
# ---------------------------------------------------------------------------

_PMI_ORACLE = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
uni AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS n_uni
  FROM (SELECT UNNEST(t) AS tok FROM toks) GROUP BY tok
),
n_uni_total AS (SELECT CAST(SUM(n_uni) AS BIGINT) AS total FROM uni),
bi AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n_bi
  FROM (
    SELECT t[i] AS w1, t[i + 1] AS w2
    FROM toks, UNNEST(range(1, len(t))) AS u(i)
  )
  GROUP BY w1, w2
  HAVING COUNT(*) >= 5
),
n_bi_total AS (SELECT CAST(SUM(n_bi) AS BIGINT) AS total FROM (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n_bi
  FROM (
    SELECT t[i] AS w1, t[i + 1] AS w2
    FROM toks, UNNEST(range(1, len(t))) AS u(i)
  ) GROUP BY w1, w2
))
SELECT bi.w1, bi.w2, bi.n_bi,
       ROUND(ln(
         (CAST(bi.n_bi AS DOUBLE) / nb.total)
         / ((CAST(u1.n_uni AS DOUBLE) / nu.total)
            * (CAST(u2.n_uni AS DOUBLE) / nu.total))
       ), 4) AS pmi
FROM bi
JOIN uni u1 ON bi.w1 = u1.tok
JOIN uni u2 ON bi.w2 = u2.tok
CROSS JOIN n_bi_total nb
CROSS JOIN n_uni_total nu
ORDER BY ROUND(ln(
         (CAST(bi.n_bi AS DOUBLE) / nb.total)
         / ((CAST(u1.n_uni AS DOUBLE) / nu.total)
            * (CAST(u2.n_uni AS DOUBLE) / nu.total))
       ), 4) DESC, bi.w1, bi.w2
LIMIT 25
"""


@register(
    "text_bigram_pmi_collocations",
    oracle=_PMI_ORACLE,
    tags=("ext", "text", "pmi", "collocations", "topk"),
    description="top-25 bigram collocations by pointwise mutual information",
)
def text_bigram_pmi_collocations(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Collocation mining: PMI = ln(P(w1,w2) / (P(w1)·P(w2))) over
    whitespace bigrams, the token-level analog of association-rule
    lift — what a tokenizer-vocabulary or phrase-mining pass ranks.
    Unigram and bigram counts are two explode+hash-agg passes (the
    shuffle carries tokens, not documents); the two scalar totals
    broadcast. PMI is a single ln() of a ratio of exact counts —
    deterministic across engines — and the top-25 orders on the
    ROUNDED score with a (w1, w2) tiebreak, the ulp-stable ranking
    pattern."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    t = F.split("text", " ")
    toks = docs.select(F.explode(t).alias("tok"))
    uni = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n_uni"))
    nu = uni.agg(F.sum("n_uni").alias("nu_total"))

    pairs = docs.select(
        F.explode(
            F.zip_with(
                F.slice(t, 1, F.size(t) - 1),
                F.slice(t, 2, F.size(t) - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    bi_all = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_bi"))
    nb = bi_all.agg(F.sum("n_bi").alias("nb_total"))
    bi = bi_all.filter(F.col("n_bi") >= 5)

    u1 = uni.select(F.col("tok").alias("w1"), F.col("n_uni").alias("n1"))
    u2 = uni.select(F.col("tok").alias("w2"), F.col("n_uni").alias("n2"))
    pmi = F.log(
        (F.col("n_bi").cast("double") / F.col("nb_total"))
        / (
            (F.col("n1").cast("double") / F.col("nu_total"))
            * (F.col("n2").cast("double") / F.col("nu_total"))
        )
    )
    return (
        bi.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(nu))
        .select("w1", "w2", "n_bi", F.round(pmi, 4).alias("pmi"))
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# Trailing-window distinct users (exact sliding COUNT DISTINCT —
# the day-grid self-join shape; the sketch twin is events_hll_rollup)
# ---------------------------------------------------------------------------

_SLIDING_DAU_ORACLE = """
WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events)
SELECT CAST(d.day AS VARCHAR) AS day,
       CAST(COUNT(DISTINCT du.user_id) AS BIGINT) AS wau_7d
FROM days d
JOIN du ON du.day > d.day - INTERVAL 7 DAY AND du.day <= d.day
GROUP BY d.day
ORDER BY d.day
"""


@register(
    "events_sliding_distinct_users",
    oracle=_SLIDING_DAU_ORACLE,
    tags=("events", "window-time", "distinct", "rolling"),
    description="exact trailing-7-day distinct users per day (WAU)",
)
def events_sliding_distinct_users(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Rolling distinct-user count (7-day WAU per day) — the metric
    window functions cannot express because COUNT(DISTINCT) is not
    frame-able. The exact plan: collapse to distinct (day, user)
    first (the big reduction — events → at most days×users rows),
    then a bounded range join fans each observation into the ≤7
    window anchors it serves, then a distinct-count per anchor. The
    fan-out factor is the window length, a constant — this is the
    day-grid self-join pattern; the 100 TB alternative trades
    exactness for mergeable sketches (events_hll_rollup is that
    twin)."""
    e = load_table(spark, sf_dir, "events")
    days = e.select(F.to_date("ts").alias("day")).distinct()
    du = e.select(F.to_date("ts").alias("uday"), "user_id").distinct()
    return (
        days.join(
            du,
            (F.col("uday") > F.date_sub(F.col("day"), 7))
            & (F.col("uday") <= F.col("day")),
        )
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("wau_7d"))
        .select(F.col("day").cast("string").alias("day"), "wau_7d")
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Watermark late-data audit: which arrivals a 10-minute watermark
# would drop, computed batch-side with a parallel prefix-max.
# ---------------------------------------------------------------------------

_LATE_ORACLE = """
WITH r AS (
  SELECT event_type, ts,
         MAX(ts) OVER (ORDER BY event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS rmax
  FROM events
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN ts < rmax - INTERVAL 10 MINUTE
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_late_10m,
       CAST(MAX(epoch_us(rmax) - epoch_us(ts)) AS BIGINT) AS max_late_us
FROM r
GROUP BY event_type
ORDER BY event_type
"""


@register(
    "events_watermark_late_audit",
    oracle=_LATE_ORACLE,
    tags=("events", "streaming", "watermark", "audit", "window"),
    description="late-arrival audit: rows a 10-min watermark would drop",
)
def events_watermark_late_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark policy audit: replaying events in arrival order
    (event_id), count per type how many rows arrive more than 10
    minutes behind the running max event-time — exactly the rows
    `withWatermark('ts', '10 minutes')` would drop — plus the worst
    observed lateness. The running max over arrival order is NOT
    computed with one global window: arrivals are chunked into 1024-id
    blocks, each block's max is rolled up (tiny), a running max over
    the block summaries is broadcast back, and the in-block prefix
    max runs partition-parallel — the standard two-phase parallel
    prefix-scan, so the plan holds at any event volume. Lateness is
    reported in exact epoch microseconds (integer math end-to-end)."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "ts",
        F.floor(F.col("event_id") / 1024).alias("block"),
    )
    w_intra = (
        Window.partitionBy("block")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    blocks = e.groupBy("block").agg(F.max("ts").alias("bmax"))
    w_b = Window.orderBy("block").rowsBetween(Window.unboundedPreceding, -1)
    prev = blocks.select(
        "block", F.max("bmax").over(w_b).alias("prev_max")
    )
    r = (
        e.withColumn("intra_max", F.max("ts").over(w_intra))
        .join(F.broadcast(prev), "block")
        .withColumn(
            "rmax",
            F.greatest(
                "intra_max", F.coalesce("prev_max", "intra_max")
            ),
        )
    )
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    return (
        r.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.when(
                    F.col("ts")
                    < F.col("rmax") - F.expr("interval 10 minutes"),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_late_10m"),
            F.max(us("rmax") - us("ts")).cast("long").alias("max_late_us"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Seasonal-naive forecast backtest: predict each month's revenue
# with the same month last year; score MAPE per year.
# ---------------------------------------------------------------------------

_FORECAST_ORACLE = """
WITH m AS (
  SELECT CAST(date_part('year', o_orderdate) AS INTEGER) AS yr,
         CAST(date_part('month', o_orderdate) AS INTEGER) AS mo,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1, 2
),
j AS (
  SELECT cur.yr, cur.mo, cur.cents, prev.cents AS pred_cents
  FROM m cur JOIN m prev
    ON prev.yr = cur.yr - 1 AND prev.mo = cur.mo
)
SELECT yr,
       CAST(COUNT(*) AS BIGINT) AS n_months,
       ROUND(SUM(ABS(cents - pred_cents)) / SUM(CAST(cents AS DOUBLE)), 6)
         AS wape,
       ROUND(SUM(CAST(ROUND(ABS(cents - pred_cents)
                             / CAST(cents AS DOUBLE) * 1000000)
                      AS BIGINT)) / (1000000.0 * COUNT(*)), 6)
         AS mape
FROM j
GROUP BY yr
ORDER BY yr
"""


@register(
    "orders_forecast_seasonal_naive",
    oracle=_FORECAST_ORACLE,
    tags=("agg", "date", "forecast", "backtest", "join"),
    description="seasonal-naive YoY forecast backtest: WAPE/MAPE per year",
)
def orders_forecast_seasonal_naive(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Forecast backtesting: the seasonal-naive baseline (predict a
    month with the same month one year earlier) scored with WAPE and
    MAPE per year — the sanity baseline any demand-forecast pipeline
    must beat, and the eval harness shape for backtesting at scale.
    Monthly revenue is exact integer cents (hash agg), the
    prediction join is a self-equi-join on the tiny (year, month)
    rollup, and both error metrics divide exact integer sums — WAPE's
    numerator sums |int−int| exactly; MAPE's per-month ratios are
    rounded into integer micro-units BEFORE summing, so the average
    is order-independent across partial-aggregation schedules."""
    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy(
        F.year("o_orderdate").cast("int").alias("yr"),
        F.month("o_orderdate").cast("int").alias("mo"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
        .alias("cents")
    )
    prev = m.select(
        (F.col("yr") + 1).alias("yr"),
        F.col("mo"),
        F.col("cents").alias("pred_cents"),
    )
    j = m.join(prev, ["yr", "mo"])
    return (
        j.groupBy("yr")
        .agg(
            F.count(F.lit(1)).alias("n_months"),
            F.round(
                F.sum(F.abs(F.col("cents") - F.col("pred_cents")))
                / F.sum(F.col("cents").cast("double")),
                6,
            ).alias("wape"),
            F.round(
                F.sum(
                    F.round(
                        F.abs(F.col("cents") - F.col("pred_cents"))
                        / F.col("cents").cast("double")
                        * 1000000,
                        0,
                    ).cast("long")
                )
                / (1000000.0 * F.count(F.lit(1))),
                6,
            ).alias("mape"),
        )
        .orderBy("yr")
    )


# ---------------------------------------------------------------------------
# Asymmetric containment dedup: |A∩B| / |A| over 3-gram shingle
# sets — catches a document swallowed by a longer near-superset,
# which symmetric Jaccard under-scores (a 100-token doc inside a
# 1000-token doc has Jaccard ≈ 0.1 but containment ≈ 1.0).
# ---------------------------------------------------------------------------

_CONTAIN_ORACLE = """
WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
  FROM words, UNNEST(range(1, len(w) - 1)) AS t(i)
  WHERE len(w) >= 3
),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(COUNT(*) AS BIGINT) AS n_common
  FROM sh a JOIN sh b
    ON a.shingle = b.shingle AND a.doc_id != b.doc_id
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b, i.n_common, sa.n AS n_a,
       ROUND(CAST(i.n_common AS DOUBLE) / sa.n, 6) AS containment
FROM inter i
JOIN sizes sa ON i.doc_a = sa.doc_id
WHERE CAST(i.n_common AS DOUBLE) / sa.n >= 0.8
ORDER BY doc_a, doc_b
"""


@register(
    "dedup_containment_pairs",
    oracle=_CONTAIN_ORACLE,
    tags=("ext", "dedup", "containment", "jaccard", "training"),
    description="asymmetric containment ≥0.8: docs swallowed by supersets",
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment-based near-dup detection: C(A→B) = |A∩B|/|A| on
    3-gram shingle sets, flagging every doc ≥80% contained in some
    other doc — the subset-duplicate case symmetric Jaccard
    under-scores and training-data cleaners specifically hunt
    (quoted articles, boilerplate-wrapped reposts). The intersection
    comes from the same equi-join on the distinct (doc, shingle)
    relation the Jaccard path uses (shuffle keyed by shingle — no
    all-pairs comparison; only docs actually sharing a shingle meet),
    and per-doc set sizes broadcast in. Directional: (A,B) and (B,A)
    score separately."""
    from wilayah_aceh_etl_spark.operators import dedup as D

    docs = load_table(spark, sf_dir, "documents")
    sh = D.distinct_shingles(docs, "doc_id")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    containment = F.col("n_common").cast("double") / F.col("n_a")
    return (
        inter.join(
            F.broadcast(
                sizes.select(
                    F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a")
                )
            ),
            "doc_a",
        )
        .filter(containment >= 0.8)
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            "n_a",
            F.round(containment, 6).alias("containment"),
        )
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# Per-document token entropy — the information-theoretic quality
# filter (low entropy = repetitive/boilerplate text).
# ---------------------------------------------------------------------------

_ENTROPY_ORACLE = """
WITH tf AS (
  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS k
  FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents)
  GROUP BY 1, 2
),
per AS (
  SELECT doc_id,
         CAST(SUM(k) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_distinct,
         CAST(SUM(CAST(ROUND(k * ln(k) * 1000000) AS BIGINT)) AS BIGINT)
           AS klnk_micro
  FROM tf GROUP BY doc_id
)
SELECT doc_id, n_tokens, n_distinct,
       ROUND(ln(n_tokens) - klnk_micro / 1000000.0 / n_tokens, 4)
         AS token_entropy
FROM per
ORDER BY doc_id
"""


@register(
    "text_token_entropy",
    oracle=_ENTROPY_ORACLE,
    tags=("ext", "text", "entropy", "quality", "training"),
    description="per-doc Shannon token entropy (repetitive-text filter)",
)
def text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each document's token distribution,
    H = ln(n) − (Σ k·ln k)/n — the standard repetitive-text /
    boilerplate quality signal (near-zero for a page of one token,
    ln(n) for all-distinct text). The Σ k·ln k term is rounded into
    exact integer micro-units per TERM before summing, so the
    per-doc total is order-independent across partial-aggregation
    schedules; the explode shuffles (doc, token) pairs once into a
    hash agg with map-side combine."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    per = tf.groupBy("doc_id").agg(
        F.sum("k").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.sum(
            F.round(F.col("k") * F.log("k") * 1000000, 0).cast("long")
        ).alias("klnk_micro"),
    )
    return per.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        F.round(
            F.log("n_tokens")
            - F.col("klnk_micro") / 1000000.0 / F.col("n_tokens"),
            4,
        ).alias("token_entropy"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Parameterized SQL (Spark 4 named-parameter binding) — the SQL
# front-end's injection-safe templating surface.
# ---------------------------------------------------------------------------

_PARAM_ORACLE = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
             / 100.0, 2) AS revenue
FROM orders
WHERE o_orderstatus = 'F' AND o_totalprice >= 50000.0
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@register(
    "sql_named_parameters",
    oracle=_PARAM_ORACLE,
    tags=("sql", "parameters", "agg", "filter"),
    description="spark.sql named-parameter binding (:status, :min_price)",
)
def sql_named_parameters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL through `spark.sql(query, args={...})` —
    Spark 4's injection-safe bind-parameter surface (the engine-side
    equivalent of the reference's `$1`-style bound statements,
    `/root/reference/server.js:323-329`). The literals reach
    Catalyst as constants, so predicate pushdown into the parquet
    scan works exactly as with inline literals."""
    from wilayah_aceh_etl_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               ROUND(CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                          AS DOUBLE) / 100.0, 2) AS revenue
        FROM orders
        WHERE o_orderstatus = :status AND o_totalprice >= :min_price
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """,
        args={"status": "F", "min_price": 50000.0},
    )


# ---------------------------------------------------------------------------
# One power-iteration step toward the corpus's top principal
# direction — distributed matrix-vector linear algebra with
# integer-exact accumulation (the PCA/embedding-whitening building
# block, iterated the way pagerank/kmeans/BFS are in this repo).
# ---------------------------------------------------------------------------

_POWER_ORACLE = """
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
),
c AS (  -- c_i = <e_i, v0> with v0 = unit vector on dim 1
  SELECT vec_id, e[1] AS ci FROM v
),
px AS (
  SELECT v.vec_id, generate_subscripts(v.e, 1) AS dim, UNNEST(v.e) AS val,
         c.ci
  FROM v JOIN c ON v.vec_id = c.vec_id
),
w AS (  -- w_d = sum_i c_i * e_id, accumulated in exact micro-units
  SELECT CAST(dim AS INTEGER) AS dim,
         CAST(SUM(CAST(ROUND(ci * val * 1000000) AS BIGINT)) AS BIGINT)
           AS w_micro
  FROM px GROUP BY dim
),
n AS (SELECT sqrt(SUM((w_micro / 1000000.0) ^ 2)) AS norm FROM w)
SELECT w.dim, ROUND(w_micro / 1000000.0, 4) AS w_d,
       ROUND(w_micro / 1000000.0 / n.norm, 6) AS v1_d
FROM w CROSS JOIN n
ORDER BY w.dim
"""


@register(
    "embedding_power_iteration",
    oracle=_POWER_ORACLE,
    tags=("ext", "embedding", "iterative", "linear-algebra", "pca"),
    description="one power-iteration step: w = AᵀA·v0, normalized",
)
def embedding_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One distributed power-iteration step toward the embedding
    matrix's top right-singular vector: w = Aᵀ(A·v0) with v0 the
    dim-1 unit vector, returned normalized. A·v0 is a per-row dot
    (here just the first component — stays in the scan); Aᵀ(·) is a
    posexplode → per-dimension sum, the elementwise-reduction
    pattern whose state is O(dims), never O(rows) — the same shuffle
    shape as the k-means centroid recompute, which is what makes the
    full iterated PCA (or whitening) loop feasible at any corpus
    size. Every c_i·e_id product is rounded into exact integer
    micro-units BEFORE the per-dim sum, so the aggregated vector is
    order-independent and the oracle matches bitwise."""
    from wilayah_aceh_etl_spark.functions import vectors as V

    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select("vec_id", V.as_double("embedding").alias("e"))
    px = v.select(
        F.element_at("e", 1).alias("ci"),
        F.posexplode("e").alias("dim0", "val"),
    )
    w = px.groupBy((F.col("dim0") + 1).cast("int").alias("dim")).agg(
        F.sum(
            F.round(F.col("ci") * F.col("val") * 1000000, 0).cast("long")
        ).alias("w_micro")
    )
    n = w.agg(
        F.sqrt(F.sum(F.pow(F.col("w_micro") / 1000000.0, 2))).alias("norm")
    )
    return (
        w.crossJoin(F.broadcast(n))
        .select(
            "dim",
            F.round(F.col("w_micro") / 1000000.0, 4).alias("w_d"),
            F.round(F.col("w_micro") / 1000000.0 / F.col("norm"), 6)
            .alias("v1_d"),
        )
        .orderBy("dim")
    )


# ---------------------------------------------------------------------------
# Sequence mining: most common event-type trigram paths per user
# timeline (the n=3 extension of the Markov transition matrix).
# ---------------------------------------------------------------------------

_TRIGRAM_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type AS e1,
         LEAD(event_type, 1) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS e2,
         LEAD(event_type, 2) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS e3
  FROM events
)
SELECT e1, e2, e3, CAST(COUNT(*) AS BIGINT) AS n_paths
FROM seq WHERE e3 IS NOT NULL
GROUP BY 1, 2, 3
ORDER BY n_paths DESC, e1, e2, e3
LIMIT 15
"""


@register(
    "events_path_trigrams",
    oracle=_TRIGRAM_ORACLE,
    tags=("events", "window", "sequence", "paths"),
    description="top-15 event-type trigram paths across user timelines",
)
def events_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral path mining: sliding trigrams over each user's
    time-ordered event sequence (LEAD ×2 — one ordered pass per user
    partition, no self-joins), counted corpus-wide. The n=3 upgrade
    of events_type_transitions' Markov bigrams; the (ts, event_id)
    ordering tiebreak pins same-timestamp rows on both engines, and
    the top-15 orders on the exact count with a full-path tiebreak."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    return (
        seq.groupBy("e1", "e2", "e3")
        .agg(F.count(F.lit(1)).alias("n_paths"))
        .orderBy(F.col("n_paths").desc(), "e1", "e2", "e3")
        .limit(15)
    )


# ---------------------------------------------------------------------------
# Simplified silhouette — cluster-quality evaluation over the
# k-means assignment (a = dist to own centroid, b = min dist to any
# other centroid, s = (b-a)/max(a,b)).
# ---------------------------------------------------------------------------

_SILHOUETTE_ORACLE = """
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
),
c AS (SELECT vec_id AS centroid_id, e AS ce FROM v WHERE vec_id < 16),
d AS (
  SELECT v.vec_id, c.centroid_id,
         sqrt(greatest(list_dot_product(e, e) - 2 * list_dot_product(e, ce)
                       + list_dot_product(ce, ce), 0)) AS dist
  FROM v CROSS JOIN c
),
ranked AS (
  SELECT vec_id, centroid_id, dist,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY dist, centroid_id) AS rk
  FROM d
),
ab AS (
  SELECT o.vec_id,
         MAX(CASE WHEN rk = 1 THEN centroid_id END) AS own,
         MAX(CASE WHEN rk = 1 THEN dist END) AS a,
         MAX(CASE WHEN rk = 2 THEN dist END) AS b
  FROM ranked o WHERE rk <= 2 GROUP BY o.vec_id
),
s AS (
  SELECT own AS centroid_id,
         CAST(ROUND((b - a) / greatest(a, b) * 1000000) AS BIGINT)
           AS s_micro
  FROM ab WHERE greatest(a, b) > 0
)
SELECT centroid_id,
       CAST(COUNT(*) AS BIGINT) AS n_assigned,
       ROUND(CAST(SUM(s_micro) AS BIGINT) / (1000000.0 * COUNT(*)), 6)
         AS mean_silhouette
FROM s
GROUP BY centroid_id
ORDER BY centroid_id
"""


@register(
    "embedding_cluster_silhouette",
    oracle=_SILHOUETTE_ORACLE,
    tags=("ext", "embedding", "clustering", "eval", "silhouette"),
    description="simplified silhouette per k-means cluster (16 centroids)",
)
def embedding_cluster_silhouette(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Clustering-quality evaluation: the simplified (centroid-based)
    silhouette s = (b−a)/max(a,b), where a is the distance to the
    assigned centroid and b to the closest rival — the metric that
    validates an IVF/k-means index before it serves (the read-side
    twin of embedding_kmeans_iteration, same deterministic first-16
    codebook). Per-vector s needs only the 2 nearest of the 16
    broadcast centroids (a window top-2 over the assignment pass —
    state O(k) per vector, never pairwise); per-cluster means
    accumulate exact integer micro-units, so the aggregate is
    order-independent cross-engine."""
    from wilayah_aceh_etl_spark.functions import vectors as V

    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select("vec_id", V.as_double("embedding").alias("e"))
    cent = v.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("centroid_id"), F.col("e").alias("ce")
    )
    dist = F.sqrt(
        F.greatest(
            V.dot("e", "e")
            - 2 * V.dot("e", "ce")
            + V.dot("ce", "ce"),
            F.lit(0.0),
        )
    )
    d = v.crossJoin(F.broadcast(cent)).select(
        "vec_id", "centroid_id", dist.alias("dist")
    )
    wr = Window.partitionBy("vec_id").orderBy("dist", "centroid_id")
    ranked = d.withColumn("rk", F.row_number().over(wr)).filter(
        F.col("rk") <= 2
    )
    ab = ranked.groupBy("vec_id").agg(
        F.max(F.when(F.col("rk") == 1, F.col("centroid_id"))).alias("own"),
        F.max(F.when(F.col("rk") == 1, F.col("dist"))).alias("a"),
        F.max(F.when(F.col("rk") == 2, F.col("dist"))).alias("b"),
    )
    s = ab.filter(F.greatest("a", "b") > 0).select(
        F.col("own").alias("centroid_id"),
        F.round(
            (F.col("b") - F.col("a")) / F.greatest("a", "b") * 1000000, 0
        )
        .cast("long")
        .alias("s_micro"),
    )
    return (
        s.groupBy("centroid_id")
        .agg(
            F.count(F.lit(1)).alias("n_assigned"),
            F.round(
                F.sum("s_micro") / (1000000.0 * F.count(F.lit(1))), 6
            ).alias("mean_silhouette"),
        )
        .orderBy("centroid_id")
    )


# ---------------------------------------------------------------------------
# Tukey boxplot fences: IQR-based outlier counting per segment
# (the rank-statistics complement of the MAD z-score detector).
# ---------------------------------------------------------------------------

_FENCES_ORACLE = """
WITH q AS (
  SELECT c.c_mktsegment AS segment,
         quantile_cont(o.o_totalprice, 0.25) AS p25,
         quantile_cont(o.o_totalprice, 0.75) AS p75
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1
)
SELECT q.segment,
       ROUND(q.p25, 2) AS p25, ROUND(q.p75, 2) AS p75,
       ROUND(q.p75 - q.p25, 2) AS iqr,
       ROUND(q.p75 + 1.5 * (q.p75 - q.p25), 2) AS upper_fence,
       CAST(SUM(CASE WHEN o.o_totalprice > q.p75 + 1.5 * (q.p75 - q.p25)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN q ON q.segment = c.c_mktsegment
GROUP BY q.segment, q.p25, q.p75
ORDER BY q.segment
"""


@register(
    "boxplot_fences_by_segment",
    oracle=_FENCES_ORACLE,
    tags=("agg", "percentile", "outliers", "robust-stats", "join"),
    description="Tukey IQR fences + outlier counts per market segment",
)
def boxplot_fences_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey boxplot outlier detection: per segment, the interpolated
    quartiles, the 1.5·IQR upper fence, and how many orders exceed it
    — the rank-statistics complement of events_outliers_mad's
    MAD z-scores. Two passes over the joined fact (quartiles, then
    the fence count) with the tiny per-segment quartile table
    broadcast back; both engines interpolate quantile_cont/
    percentile identically (pinned by percentiles_price_by_status),
    and the count compares against the same double fence."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    j = o.join(
        F.broadcast(c.select("c_custkey", "c_mktsegment")),
        o.o_custkey == c.c_custkey,
    ).select(F.col("c_mktsegment").alias("segment"), "o_totalprice")
    q = j.groupBy("segment").agg(
        F.percentile("o_totalprice", F.lit(0.25)).alias("p25"),
        F.percentile("o_totalprice", F.lit(0.75)).alias("p75"),
    )
    fence = F.col("p75") + 1.5 * (F.col("p75") - F.col("p25"))
    return (
        j.join(F.broadcast(q), "segment")
        .groupBy("segment", "p25", "p75")
        .agg(
            F.sum(
                F.when(F.col("o_totalprice") > fence, 1).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers")
        )
        .select(
            "segment",
            F.round("p25", 2).alias("p25"),
            F.round("p75", 2).alias("p75"),
            F.round(F.col("p75") - F.col("p25"), 2).alias("iqr"),
            F.round(fence, 2).alias("upper_fence"),
            "n_outliers",
        )
        .orderBy("segment")
    )


# ---------------------------------------------------------------------------
# Value-decile migration matrix: customer spend deciles 1996 → 1997
# (the cohort-movement upgrade of a static RFM snapshot).
# ---------------------------------------------------------------------------

_MIGRATION_ORACLE = """
WITH spend AS (
  SELECT CAST(date_part('year', o_orderdate) AS INTEGER) AS yr, o_custkey,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders
  WHERE date_part('year', o_orderdate) IN (1996, 1997)
  GROUP BY 1, 2
),
dec AS (
  SELECT yr, o_custkey,
         NTILE(5) OVER (PARTITION BY yr ORDER BY cents DESC, o_custkey)
           AS quintile
  FROM spend
)
SELECT a.quintile AS q_1996, b.quintile AS q_1997,
       CAST(COUNT(*) AS BIGINT) AS n_customers
FROM dec a JOIN dec b
  ON a.o_custkey = b.o_custkey AND a.yr = 1996 AND b.yr = 1997
GROUP BY 1, 2
ORDER BY 1, 2
"""


@register(
    "customer_quintile_migration",
    oracle=_MIGRATION_ORACLE,
    tags=("agg", "window", "ntile", "cohort", "migration", "join"),
    description="spend-quintile migration matrix 1996 → 1997",
)
def customer_quintile_migration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Value-migration analysis: customers ranked into spend
    quintiles in 1996 and again in 1997, cross-tabulated — the
    movement matrix (churn off the diagonal) a retention team reads,
    and the longitudinal upgrade of the static RFM snapshot. Yearly
    spend is exact integer cents; NTILE ties break on customer key
    so both engines bucket identically; the migration join is a
    self-equi-join on the per-year quintile rollup (|customers|
    rows, not |orders|)."""
    o = load_table(spark, sf_dir, "orders")
    spend = (
        o.filter(F.year("o_orderdate").isin(1996, 1997))
        .groupBy(
            F.year("o_orderdate").cast("int").alias("yr"), "o_custkey"
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
            .alias("cents")
        )
    )
    w = Window.partitionBy("yr").orderBy(
        F.col("cents").desc(), "o_custkey"
    )
    dec = spend.select("yr", "o_custkey", F.ntile(5).over(w).alias("quintile"))
    a = dec.filter(F.col("yr") == 1996).select(
        "o_custkey", F.col("quintile").alias("q_1996")
    )
    b = dec.filter(F.col("yr") == 1997).select(
        "o_custkey", F.col("quintile").alias("q_1997")
    )
    return (
        a.join(b, "o_custkey")
        .groupBy("q_1996", "q_1997")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("q_1996", "q_1997")
    )


# ---------------------------------------------------------------------------
# Time-to-convert: signup → first-purchase latency distribution.
# ---------------------------------------------------------------------------

_TTC_ORACLE = """
WITH first_signup AS (
  SELECT user_id, MIN(ts) AS t0 FROM events
  WHERE event_type = 'signup' GROUP BY 1
),
first_purchase AS (
  SELECT e.user_id, MIN(e.ts) AS t1
  FROM events e JOIN first_signup s
    ON e.user_id = s.user_id AND e.ts >= s.t0
  WHERE e.event_type = 'purchase'
  GROUP BY 1
),
lat AS (
  SELECT s.user_id,
         CAST(epoch_us(p.t1) - epoch_us(s.t0) AS BIGINT) AS us
  FROM first_signup s JOIN first_purchase p ON s.user_id = p.user_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
       CAST(MIN(us) AS BIGINT) AS min_us,
       ROUND(quantile_cont(us, 0.50), 1) AS p50_us,
       ROUND(quantile_cont(us, 0.90), 1) AS p90_us,
       CAST(MAX(us) AS BIGINT) AS max_us
FROM lat
"""


@register(
    "events_time_to_convert",
    oracle=_TTC_ORACLE,
    tags=("events", "funnel", "temporal", "percentile", "latency"),
    description="signup → first-purchase latency percentiles",
)
def events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency distribution: per user, the gap between
    first signup and the first purchase at-or-after it, summarized
    with exact interpolated percentiles over integer microsecond
    gaps (integer inputs → both engines interpolate identically).
    Two per-user min-aggregations and one equi-join on user_id —
    the latency table is |users|, not |events|, before any
    percentile math; the complement of the funnel count
    (events_funnel_signup_click_purchase) that answers 'how fast',
    not 'how many'."""
    e = load_table(spark, sf_dir, "events")
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    s = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    p = (
        e.join(s, "user_id")
        .filter(
            (F.col("event_type") == "purchase") & (F.col("ts") >= F.col("t0"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    lat = s.join(p, "user_id").select(
        (us("t1") - us("t0")).cast("long").alias("us_gap")
    )
    return lat.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.min("us_gap").cast("long").alias("min_us"),
        F.round(F.percentile("us_gap", F.lit(0.50)), 1).alias("p50_us"),
        F.round(F.percentile("us_gap", F.lit(0.90)), 1).alias("p90_us"),
        F.max("us_gap").cast("long").alias("max_us"),
    )


# ---------------------------------------------------------------------------
# Audience overlap: Jaccard similarity between event-type user sets.
# ---------------------------------------------------------------------------

_AUDIENCE_ORACLE = """
WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
sizes AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
          FROM du GROUP BY 1),
inter AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(COUNT(*) AS BIGINT) AS n_both
  FROM du a JOIN du b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT i.type_a, i.type_b, i.n_both, sa.n AS n_a, sb.n AS n_b,
       ROUND(CAST(i.n_both AS DOUBLE) / (sa.n + sb.n - i.n_both), 6)
         AS jaccard
FROM inter i
JOIN sizes sa ON sa.event_type = i.type_a
JOIN sizes sb ON sb.event_type = i.type_b
ORDER BY type_a, type_b
"""


@register(
    "events_audience_overlap",
    oracle=_AUDIENCE_ORACLE,
    tags=("events", "setops", "jaccard", "self-join", "agg"),
    description="audience-overlap Jaccard matrix between event types",
)
def events_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap: Jaccard similarity between the user sets of
    every event-type pair — the segment-overlap matrix an audience
    planner reads. Events collapse to distinct (type, user) first
    (the big reduction), the intersection is a self-equi-join on
    user_id (pairs meet only through shared users — no type×type
    cross product over raw events), and union sizes come from the
    inclusion-exclusion identity |A∪B| = |A|+|B|−|A∩B|, so one
    distinct pass serves every pair."""
    e = load_table(spark, sf_dir, "events")
    du = e.select("event_type", "user_id").distinct()
    sizes = du.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a = du.select(F.col("event_type").alias("type_a"), "user_id")
    b = du.select(F.col("event_type").alias("type_b"), "user_id")
    inter = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    jac = F.col("n_both").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_both")
    )
    return (
        inter.join(
            F.broadcast(
                sizes.select(
                    F.col("event_type").alias("type_a"),
                    F.col("n").alias("n_a"),
                )
            ),
            "type_a",
        )
        .join(
            F.broadcast(
                sizes.select(
                    F.col("event_type").alias("type_b"),
                    F.col("n").alias("n_b"),
                )
            ),
            "type_b",
        )
        .select(
            "type_a",
            "type_b",
            "n_both",
            "n_a",
            "n_b",
            F.round(jac, 6).alias("jaccard"),
        )
        .orderBy("type_a", "type_b")
    )


# ---------------------------------------------------------------------------
# Price-volume-mix decomposition of the 1996 → 1997 revenue change
# per order priority (the FP&A variance-analysis operator).
# ---------------------------------------------------------------------------

_PVM_ORACLE = """
WITH yr AS (
  SELECT o_orderpriority AS priority,
         CAST(date_part('year', o_orderdate) AS INTEGER) AS yr,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders
  WHERE date_part('year', o_orderdate) IN (1996, 1997)
  GROUP BY 1, 2
),
w AS (
  SELECT a.priority,
         a.n AS n0, b.n AS n1, a.cents AS c0, b.cents AS c1,
         a.cents / (100.0 * a.n) AS p0, b.cents / (100.0 * b.n) AS p1
  FROM yr a JOIN yr b ON a.priority = b.priority
  WHERE a.yr = 1996 AND b.yr = 1997
)
SELECT priority,
       ROUND((c1 - c0) / 100.0, 2) AS delta_revenue,
       ROUND((n1 - n0) * p0, 2) AS volume_effect,
       ROUND(n0 * (p1 - p0), 2) AS price_effect,
       ROUND((n1 - n0) * (p1 - p0), 2) AS cross_effect
FROM w
ORDER BY priority
"""


@register(
    "revenue_price_volume_mix",
    oracle=_PVM_ORACLE,
    tags=("agg", "date", "decomposition", "join", "finance"),
    description="price-volume-mix decomposition of YoY revenue change",
)
def revenue_price_volume_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance decomposition — the FP&A bridge chart: each
    priority's 1996→1997 revenue change split into volume effect
    (Δcount at old average price), price effect (old count at Δ
    average price), and the interaction cross term; the three sum
    exactly to the delta by construction. Inputs are exact integer
    cents and counts from one yearly hash agg; the decomposition is
    pure arithmetic on the tiny per-priority rollup joined to
    itself across years."""
    o = load_table(spark, sf_dir, "orders")
    yr = (
        o.filter(F.year("o_orderdate").isin(1996, 1997))
        .groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.year("o_orderdate").cast("int").alias("yr"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
            .alias("cents"),
        )
    )
    a = yr.filter(F.col("yr") == 1996).select(
        "priority",
        F.col("n").alias("n0"),
        F.col("cents").alias("c0"),
        (F.col("cents") / (100.0 * F.col("n"))).alias("p0"),
    )
    b = yr.filter(F.col("yr") == 1997).select(
        "priority",
        F.col("n").alias("n1"),
        F.col("cents").alias("c1"),
        (F.col("cents") / (100.0 * F.col("n"))).alias("p1"),
    )
    return (
        a.join(b, "priority")
        .select(
            "priority",
            F.round((F.col("c1") - F.col("c0")) / 100.0, 2)
            .alias("delta_revenue"),
            F.round((F.col("n1") - F.col("n0")) * F.col("p0"), 2)
            .alias("volume_effect"),
            F.round(F.col("n0") * (F.col("p1") - F.col("p0")), 2)
            .alias("price_effect"),
            F.round(
                (F.col("n1") - F.col("n0")) * (F.col("p1") - F.col("p0")), 2
            ).alias("cross_effect"),
        )
        .orderBy("priority")
    )


# ---------------------------------------------------------------------------
# DAU/MAU stickiness per month — a ratio of distinct counts at two
# time grains.
# ---------------------------------------------------------------------------

_STICKY_ORACLE = """
WITH dau AS (
  SELECT strftime(date_trunc('month', ts), '%Y-%m') AS month,
         CAST(ts AS DATE) AS day,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
  FROM events GROUP BY 1, 2
),
mau AS (
  SELECT strftime(date_trunc('month', ts), '%Y-%m') AS month,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau
  FROM events GROUP BY 1
),
d AS (
  SELECT month, CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(dau) AS BIGINT) AS dau_sum
  FROM dau GROUP BY 1
)
SELECT d.month, d.n_days, m.mau,
       ROUND(CAST(d.dau_sum AS DOUBLE) / d.n_days, 2) AS avg_dau,
       ROUND(CAST(d.dau_sum AS DOUBLE) / (d.n_days * m.mau), 6)
         AS stickiness
FROM d JOIN mau m ON d.month = m.month
ORDER BY d.month
"""


@register(
    "events_stickiness_dau_mau",
    oracle=_STICKY_ORACLE,
    tags=("events", "distinct", "calendar", "agg", "engagement"),
    description="DAU/MAU stickiness ratio per month",
)
def events_stickiness_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engagement stickiness: average daily active users over monthly
    active users — a ratio of COUNT(DISTINCT) at two grains that
    cannot be rolled up from one another (a user active 5 days is 5
    DAU-days but 1 MAU), so the query runs the two-grain distinct
    pattern: both aggregations share one scan, each keyed by its own
    calendar bucket, joined on month at the end. All inputs to the
    ratios are exact BIGINTs."""
    e = load_table(spark, sf_dir, "events")
    month = F.date_format(F.date_trunc("month", "ts"), "yyyy-MM")
    dau = (
        e.groupBy(month.alias("month"), F.to_date("ts").alias("day"))
        .agg(F.countDistinct("user_id").alias("dau"))
        .groupBy("month")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum("dau").cast("long").alias("dau_sum"),
        )
    )
    mau = e.groupBy(month.alias("month")).agg(
        F.countDistinct("user_id").alias("mau")
    )
    return (
        dau.join(mau, "month")
        .select(
            "month",
            "n_days",
            "mau",
            F.round(
                F.col("dau_sum").cast("double") / F.col("n_days"), 2
            ).alias("avg_dau"),
            F.round(
                F.col("dau_sum").cast("double")
                / (F.col("n_days") * F.col("mau")),
                6,
            ).alias("stickiness"),
        )
        .orderBy("month")
    )


# ---------------------------------------------------------------------------
# Top-k with an OTHERS rollup row — the presentation-layer cut
# every BI chart applies before rendering.
# ---------------------------------------------------------------------------

_OTHERS_ORACLE = """
WITH rev AS (
  SELECT n.n_name AS nation,
         CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1
),
ranked AS (
  SELECT nation, cents,
         ROW_NUMBER() OVER (ORDER BY cents DESC, nation) AS rk
  FROM rev
)
SELECT CASE WHEN rk <= 5 THEN nation ELSE 'OTHERS' END AS nation,
       CAST(MIN(CASE WHEN rk <= 5 THEN rk ELSE 6 END) AS INTEGER) AS rk,
       ROUND(SUM(cents) / 100.0, 2) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_nations
FROM ranked
GROUP BY 1
ORDER BY rk, nation
"""


@register(
    "topk_nations_with_others",
    oracle=_OTHERS_ORACLE,
    tags=("topk", "agg", "window", "presentation"),
    description="top-5 nations by revenue with an OTHERS rollup row",
)
def topk_nations_with_others(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k-with-others: the five highest-revenue nations plus one
    OTHERS row absorbing the tail — the cut a chart renderer applies
    so the long tail doesn't drown the legend, kept engine-side so
    the tail total is exact rather than client-truncated. Ranking
    happens on the tiny per-nation rollup (exact cents, nation
    tiebreak); the conditional re-group folds the tail without a
    second fact scan."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    rev = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
            .alias("cents")
        )
    )
    w = Window.orderBy(F.col("cents").desc(), "nation")
    ranked = rev.withColumn("rk", F.row_number().over(w))
    return (
        ranked.select(
            F.when(F.col("rk") <= 5, F.col("nation"))
            .otherwise(F.lit("OTHERS"))
            .alias("nation"),
            F.when(F.col("rk") <= 5, F.col("rk"))
            .otherwise(F.lit(6))
            .alias("rk0"),
            "cents",
        )
        .groupBy("nation")
        .agg(
            F.min("rk0").cast("int").alias("rk"),
            F.round(F.sum("cents") / 100.0, 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_nations"),
        )
        .orderBy("rk", "nation")
    )


# ---------------------------------------------------------------------------
# Cross-correlation matrix between event types' daily count series
# (same exact-integer-sums Pearson as the ACF query, across series).
# ---------------------------------------------------------------------------

_XCORR_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, event_type,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
paired AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, a.n AS x, b.n AS y
  FROM daily a JOIN daily b
    ON a.day = b.day AND a.event_type < b.event_type
),
sums AS (
  SELECT type_a, type_b,
         CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM paired GROUP BY 1, 2
)
SELECT type_a, type_b, k AS n_days,
       ROUND(
         (k * sxy - sx * sy)
         / (sqrt(CAST(k * sxx - sx * sx AS DOUBLE))
            * sqrt(CAST(k * syy - sy * sy AS DOUBLE))), 6) AS pearson_r
FROM sums
ORDER BY type_a, type_b
"""


@register(
    "events_cross_correlation_matrix",
    oracle=_XCORR_ORACLE,
    tags=("events", "corr", "statistics", "self-join", "temporal"),
    description="Pearson correlation matrix between daily count series",
)
def events_cross_correlation_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-series correlation: Pearson r between every pair of
    event types' daily count series (do errors co-move with clicks?)
    — the multivariate companion of events_autocorrelation_acf, on
    the same exact-BIGINT-sums Pearson so no builtin corr()
    definition or float accumulation order is trusted. Series align
    by a self-equi-join on day over the collapsed daily rollup;
    pairs meet only through shared days."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    a = daily.select(
        "day", F.col("event_type").alias("type_a"), F.col("n").alias("x")
    )
    b = daily.select(
        "day", F.col("event_type").alias("type_b"), F.col("n").alias("y")
    )
    sums = (
        a.join(b, "day")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
        )
    )
    r = (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.sqrt(
            (F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx"))
            .cast("double")
        )
        * F.sqrt(
            (F.col("k") * F.col("syy") - F.col("sy") * F.col("sy"))
            .cast("double")
        )
    )
    return sums.select(
        "type_a",
        "type_b",
        F.col("k").alias("n_days"),
        F.round(r, 6).alias("pearson_r"),
    ).orderBy("type_a", "type_b")


# ---------------------------------------------------------------------------
# Classical decomposition: day-of-week seasonal indices via
# ratio-to-centered-moving-average.
# ---------------------------------------------------------------------------

_SEASONAL_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1
),
ma AS (
  SELECT day, n,
         CAST(SUM(n) OVER (ORDER BY day
                           ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
              AS BIGINT) AS win_sum,
         CAST(COUNT(*) OVER (ORDER BY day
                             ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
              AS BIGINT) AS win_n
  FROM daily
),
ratio AS (
  -- DuckDB dayofweek is 0=Sunday..6; Spark's is 1=Sunday..7 — align
  SELECT CAST(dayofweek(day) + 1 AS INTEGER) AS dow,
         CAST(ROUND(n * win_n * 1000000.0 / win_sum) AS BIGINT)
           AS ratio_micro
  FROM ma WHERE win_n = 7
)
SELECT dow, CAST(COUNT(*) AS BIGINT) AS n_days,
       ROUND(CAST(SUM(ratio_micro) AS BIGINT)
             / (1000000.0 * COUNT(*)), 6) AS seasonal_index
FROM ratio
GROUP BY dow
ORDER BY dow
"""


@register(
    "events_seasonal_indices_dow",
    oracle=_SEASONAL_ORACLE,
    tags=("events", "temporal", "seasonality", "window", "decomposition"),
    description="day-of-week seasonal indices via ratio-to-moving-average",
)
def events_seasonal_indices_dow(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Classical seasonal decomposition, step one: each full-window
    day's count is divided by its centered 7-day moving average and
    the ratios are averaged per day-of-week — the seasonal index a
    forecaster divides out before trend fitting. The ratio is exact:
    n·win_n/win_sum is a single division of exact integers, rounded
    into integer micro-units before the per-DOW mean so averaging is
    order-independent. The MA window runs over the collapsed daily
    series (calendar-bounded); edge days without a full 7-day window
    are excluded on both engines (win_n = 7)."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.orderBy("day").rowsBetween(-3, 3)
    ma = daily.select(
        "day",
        "n",
        F.sum("n").over(w).alias("win_sum"),
        F.count(F.lit(1)).over(w).alias("win_n"),
    ).filter(F.col("win_n") == 7)
    ratio = ma.select(
        F.dayofweek("day").cast("int").alias("dow"),
        F.round(
            F.col("n") * F.col("win_n") * 1000000.0 / F.col("win_sum"), 0
        )
        .cast("long")
        .alias("ratio_micro"),
    )
    return (
        ratio.groupBy("dow")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.round(
                F.sum("ratio_micro") / (1000000.0 * F.count(F.lit(1))), 6
            ).alias("seasonal_index"),
        )
        .orderBy("dow")
    )
