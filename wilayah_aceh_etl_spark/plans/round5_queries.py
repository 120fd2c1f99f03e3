"""Round-5 declared queries: SQL-surface completions (GROUP BY ALL /
ORDER BY ALL, LIMIT..OFFSET pagination, inline-VALUES dimension) and
the ML feature-engineering family a training pipeline runs before
model fitting (leave-one-out target encoding, deterministic k-fold
assignment, one-hot + inverse-frequency class weights, a scaling
battery: z-score / min-max / robust), plus time-series and retrieval
completions in later sections.

The reference has no analytics surface (SURVEY.md §2.11); these
extend the EXT mandate (`BASELINE.json:6` — training-data pipeline
operators) and the modern-SQL surface. Determinism contract as
repo-wide: money in exact integer cents, ratios as single double
divisions of exact ints, identical aliases both sides, total ORDER
BY on every result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from wilayah_aceh_etl_spark.plans.registry import register
from wilayah_aceh_etl_spark.sources.tables import load_table, spread

_CENTS = "CAST(ROUND(o_totalprice * 100) AS BIGINT)"
_ACCT_CENTS = "CAST(ROUND(c_acctbal * 100) AS BIGINT)"


def _o_cents():
    return F.round(F.col("o_totalprice") * 100).cast("long")


def _c_cents():
    return F.round(F.col("c_acctbal") * 100).cast("long")


# ---------------------------------------------------------------------------
# SQL surface: GROUP BY ALL / ORDER BY ALL
# ---------------------------------------------------------------------------


@register(
    "sql_group_by_all",
    oracle=f"""
SELECT o_orderstatus, o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM({_CENTS}) AS BIGINT) AS revenue_cents
FROM orders
GROUP BY ALL
ORDER BY ALL
""",
    tags=("sql-surface", "agg"),
    description="GROUP BY ALL / ORDER BY ALL modern-SQL aggregation",
)
def sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL / ORDER BY ALL through the Spark SQL front-end —
    the analyzer infers grouping keys from the non-aggregate select
    list and the sort from the full output row, so the query text
    stays stable as columns are added. Same hash-aggregate plan as
    an explicit GROUP BY (partial+final, no extra shuffle)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        f"""
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n_orders,
               SUM({_CENTS}) AS revenue_cents
        FROM orders
        GROUP BY ALL
        ORDER BY ALL
        """
    )


# ---------------------------------------------------------------------------
# SQL surface: LIMIT .. OFFSET pagination
# ---------------------------------------------------------------------------


@register(
    "sql_limit_offset_page",
    oracle="""
SELECT c_custkey, c_mktsegment,
       CAST(ROUND(c_acctbal * 100) AS BIGINT) AS acctbal_cents
FROM customer
ORDER BY acctbal_cents DESC, c_custkey
LIMIT 20 OFFSET 40
""",
    tags=("sql-surface", "topk", "pagination"),
    description="LIMIT..OFFSET keyset-free pagination (page 3 of 20)",
)
def sql_limit_offset_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OFFSET pagination: rows 41-60 of a total order. Spark plans a
    single TakeOrderedAndProject of limit+offset rows then drops the
    prefix on the driver — no full sort materializes. (At 100 TB,
    deep OFFSET pages degrade linearly; keyset pagination — WHERE
    key > last_seen — is the scale path, and the total order here
    includes the unique key to make that rewrite valid.)"""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        """
        SELECT c_custkey, c_mktsegment,
               CAST(ROUND(c_acctbal * 100) AS BIGINT) AS acctbal_cents
        FROM customer
        ORDER BY acctbal_cents DESC, c_custkey
        LIMIT 20 OFFSET 40
        """
    )


# ---------------------------------------------------------------------------
# SQL surface: inline VALUES dimension
# ---------------------------------------------------------------------------

_TIER_ROWS = [
    ("1-URGENT", "expedite"),
    ("2-HIGH", "expedite"),
    ("3-MEDIUM", "standard"),
    ("4-NOT SPECIFIED", "standard"),
    ("5-LOW", "deferred"),
]

_TIER_VALUES_SQL = ", ".join(f"('{p}', '{t}')" for p, t in _TIER_ROWS)


@register(
    "sql_values_inline_dim",
    oracle=f"""
WITH dim(o_orderpriority, tier) AS (VALUES {_TIER_VALUES_SQL})
SELECT tier,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM({_CENTS}) AS BIGINT) AS revenue_cents
FROM orders JOIN dim USING (o_orderpriority)
GROUP BY tier
ORDER BY tier
""",
    tags=("sql-surface", "join", "values"),
    description="inline VALUES dimension joined and aggregated",
)
def sql_values_inline_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A literal VALUES relation as a join dimension — the idiomatic
    way to ship a tiny mapping table inside the query text instead of
    a side file. Catalyst folds the 5-row local relation and
    broadcasts it; the fact side never shuffles for the join."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        f"""
        WITH dim AS (
          SELECT * FROM VALUES {_TIER_VALUES_SQL}
            AS t(o_orderpriority, tier)
        )
        SELECT tier,
               COUNT(*) AS n_orders,
               SUM({_CENTS}) AS revenue_cents
        FROM orders JOIN dim USING (o_orderpriority)
        GROUP BY tier
        ORDER BY tier
        """
    )


# ---------------------------------------------------------------------------
# Feature engineering: leave-one-out target encoding
# ---------------------------------------------------------------------------


@register(
    "feature_target_encoding_loo",
    oracle=f"""
WITH spend AS (
  SELECT o_custkey, CAST(SUM({_CENTS}) AS BIGINT) AS spend_cents
  FROM orders GROUP BY o_custkey
),
cust AS (
  SELECT c.c_custkey, c.c_mktsegment,
         COALESCE(s.spend_cents, 0) AS spend_cents
  FROM customer c LEFT JOIN spend s ON s.o_custkey = c.c_custkey
),
enc AS (
  SELECT c_custkey, c_mktsegment, spend_cents,
         CAST(SUM(spend_cents) OVER (PARTITION BY c_mktsegment) AS BIGINT)
           AS seg_sum,
         CAST(COUNT(*) OVER (PARTITION BY c_mktsegment) AS BIGINT) AS seg_n
  FROM cust
)
SELECT c_custkey, c_mktsegment, spend_cents,
       ROUND(CAST(seg_sum - spend_cents AS DOUBLE) / (seg_n - 1), 4)
         AS loo_avg_spend_cents
FROM enc
WHERE c_custkey < 200
ORDER BY c_custkey
""",
    tags=("ext", "feature-engineering", "target-encoding", "window"),
    description="leave-one-out target encoding of segment by spend",
)
def feature_target_encoding_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding: each customer's segment encoded
    as the mean spend of the OTHER customers in the segment —
    (seg_sum − own) / (seg_n − 1) — the leakage-free categorical
    encoding used ahead of model fitting. One shuffle to aggregate
    spend per customer, one window shuffle on the (low-cardinality
    but balanced) segment key; both sums are exact BIGINT cents so
    the final single double division is bitwise reproducible. At
    scale the window over a 5-value key is the skew risk — the
    rewrite is a 5-row groupBy aggregate broadcast back, which is
    exactly what AQE's skew handling degenerates to; kept as a
    window here to exercise the operator."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    spend = (
        orders.groupBy(F.col("o_custkey"))
        .agg(F.sum(_o_cents()).alias("spend_cents"))
    )
    base = (
        cust.join(spend, cust.c_custkey == spend.o_custkey, "left")
        .select(
            "c_custkey",
            "c_mktsegment",
            F.coalesce(F.col("spend_cents"), F.lit(0)).alias("spend_cents"),
        )
    )
    w = Window.partitionBy("c_mktsegment")
    return (
        base.withColumn("seg_sum", F.sum("spend_cents").over(w))
        .withColumn("seg_n", F.count(F.lit(1)).over(w))
        .select(
            "c_custkey",
            "c_mktsegment",
            "spend_cents",
            F.round(
                (F.col("seg_sum") - F.col("spend_cents")).cast("double")
                / (F.col("seg_n") - 1),
                4,
            ).alias("loo_avg_spend_cents"),
        )
        .filter(F.col("c_custkey") < 200)
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# Feature engineering: deterministic k-fold assignment
# ---------------------------------------------------------------------------

_FOLD = "((c_custkey * 1103515245 + 12345) % 2147483648) % 5"


@register(
    "feature_kfold_assignment",
    oracle=f"""
SELECT CAST({_FOLD} AS INTEGER) AS fold, c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       ROUND(CAST(SUM({_ACCT_CENTS}) AS DOUBLE) / COUNT(*), 4)
         AS avg_acctbal_cents
FROM customer
GROUP BY fold, c_mktsegment
ORDER BY fold, c_mktsegment
""",
    tags=("ext", "feature-engineering", "kfold", "sampling"),
    description="deterministic 5-fold CV assignment via LCG hash",
)
def feature_kfold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5-fold cross-validation assignment: fold =
    LCG(custkey) mod 5 — reproducible across engines and runs with
    no stored fold table, embarrassingly parallel (pure projection,
    the only shuffle is the small fold×segment aggregate). The
    per-cell segment balance check is the point of the query: a
    hash-based folder must show no segment×fold interaction."""
    cust = load_table(spark, sf_dir, "customer")
    fold = (
        ((F.col("c_custkey") * 1103515245 + 12345) % 2147483648) % 5
    ).cast("int")
    return (
        cust.select(
            fold.alias("fold"),
            "c_mktsegment",
            _c_cents().alias("cents"),
        )
        .groupBy("fold", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(
                F.sum("cents").cast("double") / F.count(F.lit(1)), 4
            ).alias("avg_acctbal_cents"),
        )
        .orderBy("fold", "c_mktsegment")
    )


# ---------------------------------------------------------------------------
# Feature engineering: one-hot + inverse-frequency class weights
# ---------------------------------------------------------------------------

_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")


@register(
    "feature_onehot_class_weights",
    oracle="""
WITH seg AS (
  SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_seg FROM customer
  GROUP BY c_mktsegment
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM customer)
SELECT c.c_custkey, c.c_mktsegment,
"""
    + ",\n".join(
        f"  CASE WHEN c.c_mktsegment = '{s}' THEN 1 ELSE 0 END"
        f" AS is_{s.lower()}"
        for s in _SEGMENTS
    )
    + """,
  ROUND(CAST(t.n_total AS DOUBLE) / (5 * s.n_seg), 6) AS class_weight
FROM customer c
JOIN seg s ON s.c_mktsegment = c.c_mktsegment
CROSS JOIN tot t
WHERE c.c_custkey < 100
ORDER BY c.c_custkey
""",
    tags=("ext", "feature-engineering", "onehot", "class-weights"),
    description="one-hot segment encoding + inverse-frequency weights",
)
def feature_onehot_class_weights(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """One-hot encoding of the categorical segment column plus
    balanced inverse-frequency class weights (n_total / (k·n_class) —
    the sklearn 'balanced' formula). The class histogram is a 5-row
    aggregate broadcast back onto the row stream; the indicators are
    pure projections, so the feature pass adds no wide shuffle."""
    cust = load_table(spark, sf_dir, "customer")
    seg = cust.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_seg")
    )
    tot = cust.agg(F.count(F.lit(1)).alias("n_total"))
    out = (
        cust.join(F.broadcast(seg), "c_mktsegment")
        .crossJoin(F.broadcast(tot))
        .filter(F.col("c_custkey") < 100)
        .select(
            "c_custkey",
            "c_mktsegment",
            *[
                F.when(F.col("c_mktsegment") == s, 1)
                .otherwise(0)
                .alias(f"is_{s.lower()}")
                for s in _SEGMENTS
            ],
            F.round(
                F.col("n_total").cast("double") / (5 * F.col("n_seg")), 6
            ).alias("class_weight"),
        )
    )
    return out.orderBy("c_custkey")


# ---------------------------------------------------------------------------
# Feature engineering: scaling battery (z-score / min-max / robust)
# ---------------------------------------------------------------------------


@register(
    "feature_scaling_battery",
    oracle=f"""
WITH c AS (
  SELECT c_custkey, c_mktsegment, {_ACCT_CENTS} AS cents FROM customer
),
stats AS (
  SELECT c_mktsegment,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(cents) AS BIGINT) AS s,
         CAST(SUM(cents * cents) AS BIGINT) AS ss,
         CAST(MIN(cents) AS BIGINT) AS mn,
         CAST(MAX(cents) AS BIGINT) AS mx,
         quantile_cont(cents, 0.25) AS p25,
         quantile_cont(cents, 0.50) AS p50,
         quantile_cont(cents, 0.75) AS p75
  FROM c GROUP BY c_mktsegment
)
SELECT c.c_custkey, c.c_mktsegment, c.cents,
  ROUND((c.cents - CAST(s.s AS DOUBLE) / s.n)
        / sqrt((s.ss - CAST(s.s AS DOUBLE) * s.s / s.n) / (s.n - 1)), 6)
    AS zscore,
  ROUND(CAST(c.cents - s.mn AS DOUBLE) / (s.mx - s.mn), 6) AS minmax,
  ROUND((c.cents - s.p50) / (s.p75 - s.p25), 6) AS robust
FROM c JOIN stats s USING (c_mktsegment)
WHERE c.c_custkey < 200
ORDER BY c.c_custkey
""",
    tags=("ext", "feature-engineering", "scaling"),
    description="z-score / min-max / robust scaling per segment",
)
def feature_scaling_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group feature scaling three ways: z-score (sample std from
    exact integer moments), min-max, and robust (median/IQR). The
    group stats are one 5-row aggregate broadcast back — the classic
    two-pass scaler, no per-row state. Every scaled value is a fixed
    double expression over exact BIGINT moments and exactly
    interpolated quantiles, so both engines produce bitwise-equal
    doubles before the display rounding."""
    cust = load_table(spark, sf_dir, "customer")
    c = cust.select(
        "c_custkey", "c_mktsegment", _c_cents().alias("cents")
    )
    stats = c.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("s"),
        F.sum(F.col("cents") * F.col("cents")).alias("ss"),
        F.min("cents").alias("mn"),
        F.max("cents").alias("mx"),
        F.expr("percentile(cents, 0.25)").alias("p25"),
        F.expr("percentile(cents, 0.50)").alias("p50"),
        F.expr("percentile(cents, 0.75)").alias("p75"),
    )
    mean = F.col("s").cast("double") / F.col("n")
    var = (
        F.col("ss") - F.col("s").cast("double") * F.col("s") / F.col("n")
    ) / (F.col("n") - 1)
    return (
        c.join(F.broadcast(stats), "c_mktsegment")
        .filter(F.col("c_custkey") < 200)
        .select(
            "c_custkey",
            "c_mktsegment",
            "cents",
            F.round((F.col("cents") - mean) / F.sqrt(var), 6).alias("zscore"),
            F.round(
                (F.col("cents") - F.col("mn")).cast("double")
                / (F.col("mx") - F.col("mn")),
                6,
            ).alias("minmax"),
            F.round(
                (F.col("cents") - F.col("p50"))
                / (F.col("p75") - F.col("p25")),
                6,
            ).alias("robust"),
        )
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# Forward as-of join: next same-user click after each error (≤1h)
# ---------------------------------------------------------------------------


@register(
    "events_asof_forward_next_click",
    oracle="""
WITH err AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'
),
clk AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
nxt AS (
  SELECT e.event_id, e.user_id, e.ts,
         (SELECT MIN(c.ts) FROM clk c
           WHERE c.user_id = e.user_id AND c.ts > e.ts) AS cand_ts
  FROM err e
),
tol AS (
  SELECT event_id, user_id, ts,
         CASE WHEN cand_ts IS NOT NULL
               AND CAST(floor(epoch(cand_ts)) AS BIGINT)
                 - CAST(floor(epoch(ts)) AS BIGINT) <= 3600
              THEN cand_ts END AS next_click_ts
  FROM nxt
)
SELECT event_id, user_id, ts AS error_ts, next_click_ts,
       CAST(floor(epoch(next_click_ts)) AS BIGINT)
         - CAST(floor(epoch(ts)) AS BIGINT) AS delta_s
FROM tol ORDER BY event_id
""",
    tags=("events", "asof", "join", "temporal"),
    description="forward as-of join: next same-user click within 1h",
)
def events_asof_forward_next_click(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Forward as-of join (next-event lookup): each error event
    attached to the SAME user's earliest click strictly after it,
    nulled when the gap exceeds one hour (bounded look-ahead). Same
    single-shuffle union+sort plan as the backward as-of
    (operators/temporal.py::asof_join, direction='forward') — the
    per-key sort just runs descending; never the per-key cross
    product a naive join+filter+row_number would build."""
    from wilayah_aceh_etl_spark.operators.temporal import asof_join

    e = load_table(spark, sf_dir, "events")
    err = e.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    clk = e.filter(F.col("event_type") == "click").select("user_id", "ts")
    j = asof_join(
        err,
        clk,
        on="user_id",
        right_payload=[],
        strict=True,
        tolerance_seconds=3600,
        direction="forward",
    )
    lt = F.unix_timestamp(F.col("ts").cast("timestamp"))
    rt = F.unix_timestamp(F.col("ts_r").cast("timestamp"))
    return j.select(
        "event_id",
        "user_id",
        F.col("ts").alias("error_ts"),
        F.col("ts_r").alias("next_click_ts"),
        (rt - lt).cast("long").alias("delta_s"),
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# Rolling median (order statistic over a moving frame)
# ---------------------------------------------------------------------------


@register(
    "events_rolling_median_daily",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2
)
SELECT event_type, CAST(day AS VARCHAR) AS day, cnt,
       ROUND(median(cnt) OVER (
         PARTITION BY event_type ORDER BY day
         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 2) AS med7
FROM daily ORDER BY event_type, day
""",
    tags=("events", "window", "rolling-median", "order-statistic"),
    description="trailing-7-row rolling median of daily event counts",
)
def events_rolling_median_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling MEDIAN — an order statistic Spark's windowed
    aggregates don't provide natively (DuckDB runs any aggregate as
    a window). Composed as collect_list over the 7-row frame +
    array_sort + middle pick: the frame is a compile-time constant
    (≤7 values), so per-row cost is O(7 log 7) and the state never
    scales with data — the generic pattern for small-frame order
    statistics at 100 TB. One shuffle on the (type, day) aggregate;
    the window reuses the type partitioning."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-6, Window.currentRow)
    )
    arr = F.array_sort(F.collect_list("cnt").over(w))
    n = F.size(arr)
    lo = F.floor((n + 1) / 2).cast("int")
    hi = (F.floor(n / 2) + 1).cast("int")
    med = (
        F.element_at(arr, lo) + F.element_at(arr, hi)
    ).cast("double") / 2
    return daily.select(
        "event_type",
        F.col("day").cast("string").alias("day"),
        "cnt",
        F.round(med, 2).alias("med7"),
    ).orderBy("event_type", "day")


# ---------------------------------------------------------------------------
# Theil-Sen robust trend slope (median of pairwise slopes)
# ---------------------------------------------------------------------------


@register(
    "events_theil_sen_slope",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2
),
pairs AS (
  SELECT a.event_type,
         CAST(b.cnt - a.cnt AS DOUBLE) / date_diff('day', a.day, b.day)
           AS slope
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.day < b.day
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       ROUND(median(slope), 6) AS theil_sen_slope
FROM pairs GROUP BY event_type ORDER BY event_type
""",
    tags=("events", "timeseries", "robust-regression"),
    description="Theil-Sen robust slope of daily counts per event type",
)
def events_theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen estimator: the median of all pairwise slopes of the
    daily-count series — the outlier-robust alternative to the OLS
    trend (grouped_map_segment_trend / segment_trend_native). The
    pair explosion is per-group O(days²) with days bounded by the
    calendar (~90 here), so the blow-up is a fixed small constant
    per event type no matter how many raw events — aggregate first,
    THEN explode pairs: the 100 TB-safe order of operations. Each
    slope is one double division of exact ints; the median is the
    same interpolated percentile in both engines."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    a = daily.select(
        "event_type", F.col("day").alias("day_a"), F.col("cnt").alias("cnt_a")
    )
    b = daily.select(
        "event_type", F.col("day").alias("day_b"), F.col("cnt").alias("cnt_b")
    )
    pairs = (
        a.join(b, "event_type")
        .filter(F.col("day_a") < F.col("day_b"))
        .select(
            "event_type",
            (
                (F.col("cnt_b") - F.col("cnt_a")).cast("double")
                / F.datediff("day_b", "day_a")
            ).alias("slope"),
        )
    )
    return (
        pairs.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.expr("percentile(slope, 0.5)"), 6).alias(
                "theil_sen_slope"
            ),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Label propagation (2 synchronous min-label rounds) on the part
# co-occurrence graph
# ---------------------------------------------------------------------------


@register(
    "graph_label_propagation",
    oracle="""
WITH base AS (
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
r1 AS (
  SELECT u AS node, LEAST(u, MIN(w)) AS l1 FROM edges GROUP BY u
),
nb2 AS (
  SELECT e.u AS node, MIN(n.l1) AS nb_min
  FROM edges e JOIN r1 n ON n.node = e.w
  GROUP BY e.u
)
SELECT r1.node, CAST(r1.l1 AS BIGINT) AS l1,
       CAST(LEAST(r1.l1, nb2.nb_min) AS BIGINT) AS l2
FROM r1 JOIN nb2 ON nb2.node = r1.node
ORDER BY r1.node
""",
    tags=("graph", "iterative", "label-propagation", "join"),
    description="2 min-label propagation rounds on part co-occurrence",
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two synchronous rounds of min-label propagation (the Pregel
    superstep primitive under connected components): every node
    starts labeled with its own id; each round it takes the min of
    its label and its neighbors' labels. Each round is one
    edges⋈labels join + groupBy-min — per-round cost O(|E|), the
    labels relation stays node-sized, and at scale each round's
    output is checkpointable. Distinct from the full
    dedup_connected_components loop (iterate-to-fixpoint) and from
    BFS (distances): this pins the per-round algebra to an oracle."""
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
    r1 = (
        edges.groupBy("u")
        .agg(F.min("w").alias("nb_min"))
        .select(
            F.col("u").alias("node"),
            F.least(F.col("u"), F.col("nb_min")).alias("l1"),
        )
    )
    nb_l1 = r1.select(F.col("node").alias("w"), F.col("l1").alias("w_l1"))
    nb2 = (
        edges.join(nb_l1, "w")
        .groupBy("u")
        .agg(F.min("w_l1").alias("nb_min"))
        .select(F.col("u").alias("node"), "nb_min")
    )
    return (
        r1.join(nb2, "node")
        .select(
            "node",
            "l1",
            F.least(F.col("l1"), F.col("nb_min")).alias("l2"),
        )
        .orderBy("node")
    )


# ---------------------------------------------------------------------------
# Snapshot diff: 1996 vs 1997 per-customer spend reconciliation
# ---------------------------------------------------------------------------


@register(
    "orders_snapshot_diff",
    oracle=f"""
WITH a AS (
  SELECT o_custkey, CAST(SUM({_CENTS}) AS BIGINT) AS spend
  FROM orders WHERE year(o_orderdate) = 1996 GROUP BY 1
),
b AS (
  SELECT o_custkey, CAST(SUM({_CENTS}) AS BIGINT) AS spend
  FROM orders WHERE year(o_orderdate) = 1997 GROUP BY 1
),
d AS (
  SELECT a.spend AS spend_a, b.spend AS spend_b
  FROM a FULL OUTER JOIN b ON a.o_custkey = b.o_custkey
)
SELECT CASE WHEN spend_a IS NULL THEN 'added'
            WHEN spend_b IS NULL THEN 'removed'
            WHEN spend_a = spend_b THEN 'unchanged'
            ELSE 'changed' END AS change_type,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(COALESCE(spend_b, 0) - COALESCE(spend_a, 0)) AS BIGINT)
         AS delta_cents
FROM d GROUP BY 1 ORDER BY 1
""",
    tags=("join", "outer", "diff", "reconciliation"),
    description="snapshot diff: per-customer spend 1996 vs 1997",
)
def orders_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed snapshot diff — the reconciliation primitive behind
    incremental pipelines: aggregate both snapshots to the key,
    full-outer join, classify added / removed / changed / unchanged,
    and roll up counts + net delta. Both aggregates shuffle on the
    same key so the outer join reuses the partitioning; spend is
    exact BIGINT cents so 'unchanged' is a bitwise comparison, not
    a float tolerance."""
    orders = load_table(spark, sf_dir, "orders")

    def snap(year: int) -> DataFrame:
        return (
            orders.filter(F.year("o_orderdate") == year)
            .groupBy("o_custkey")
            .agg(F.sum(_o_cents()).alias("spend"))
        )
    a = snap(1996).select("o_custkey", F.col("spend").alias("spend_a"))
    b = snap(1997).select("o_custkey", F.col("spend").alias("spend_b"))
    d = a.join(b, "o_custkey", "full_outer")
    change = (
        F.when(F.col("spend_a").isNull(), "added")
        .when(F.col("spend_b").isNull(), "removed")
        .when(F.col("spend_a") == F.col("spend_b"), "unchanged")
        .otherwise("changed")
    )
    return (
        d.select(
            change.alias("change_type"),
            F.coalesce(F.col("spend_b"), F.lit(0)).alias("vb"),
            F.coalesce(F.col("spend_a"), F.lit(0)).alias("va"),
        )
        .groupBy("change_type")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.col("vb") - F.col("va")).alias("delta_cents"),
        )
        .orderBy("change_type")
    )


# ---------------------------------------------------------------------------
# Balanced per-class downsampling (training-mixture rebalancing)
# ---------------------------------------------------------------------------

_DOC_LCG = "(doc_id * 1103515245 + 12345) % 2147483648"


@register(
    "sample_balanced_per_class",
    oracle=f"""
WITH ranked AS (
  SELECT doc_id, lang, n_chars,
         ROW_NUMBER() OVER (PARTITION BY lang
           ORDER BY {_DOC_LCG}, doc_id) AS rn
  FROM documents
)
SELECT lang,
  CAST(COUNT(*) AS BIGINT) AS n_total,
  CAST(SUM(CASE WHEN rn <= 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
  ROUND(CAST(SUM(CASE WHEN rn <= 50 THEN n_chars ELSE 0 END) AS DOUBLE)
        / SUM(CASE WHEN rn <= 50 THEN 1 ELSE 0 END), 4) AS avg_chars_kept
FROM ranked GROUP BY lang ORDER BY lang
""",
    tags=("ext", "sampling", "balanced", "window"),
    description="balanced downsample: ≤50 docs per language via LCG rank",
)
def sample_balanced_per_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class cap — the majority-class downsampling step of
    training-mixture rebalancing: rank every document inside its
    language by a deterministic LCG of the doc id (a seedless,
    engine-reproducible shuffle) and keep the first 50. One ranking
    window per class key; no global sort, no driver-side sampling
    state, and re-runs are byte-identical — the property random()
    samplers can't give across engines."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        ((F.col("doc_id") * 1103515245 + 12345) % 2147483648).asc(),
        F.col("doc_id").asc(),
    )
    ranked = docs.select(
        "doc_id", "lang", "n_chars", F.row_number().over(w).alias("rn")
    )
    kept = F.when(F.col("rn") <= 50, 1).otherwise(0)
    kept_chars = F.when(F.col("rn") <= 50, F.col("n_chars")).otherwise(0)
    return (
        ranked.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(kept).alias("n_kept"),
            F.round(
                F.sum(kept_chars).cast("double") / F.sum(kept), 4
            ).alias("avg_chars_kept"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Interpolated bigram language model (perplexity-grade LM signal)
# ---------------------------------------------------------------------------


@register(
    "text_bigram_lm_logprob",
    oracle="""
WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
uni AS (SELECT doc_id, UNNEST(w) AS tok FROM words),
c1 AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM uni GROUP BY tok),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM uni),
big AS (
  SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
  FROM words, UNNEST(range(1, len(w))) AS t(i)
  WHERE len(w) >= 2
),
c2 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c FROM big GROUP BY 1, 2),
scored AS (
  SELECT b.doc_id,
         ln(0.7 * c2.c / ca.c + 0.3 * cb.c / CAST(n.total AS DOUBLE)) AS lp
  FROM big b
  JOIN c2 ON c2.w1 = b.w1 AND c2.w2 = b.w2
  JOIN c1 ca ON ca.tok = b.w1
  JOIN c1 cb ON cb.tok = b.w2
  CROSS JOIN n
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       ROUND(SUM(lp) / COUNT(*), 3) AS avg_logprob
FROM scored GROUP BY doc_id ORDER BY doc_id
""",
    tags=("ext", "text", "lm", "quality"),
    description="per-doc mean interpolated-bigram log-probability",
)
def text_bigram_lm_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram LM score per document — the next step up
    from text_unigram_logprob as a perplexity-style quality filter:
    P(w2|w1) = 0.7·c(w1,w2)/c(w1) + 0.3·c(w2)/N, scored over every
    adjacent pair. Bigrams come from an array transform over the
    already-split token array (no positional self-join); the LM
    tables are two shuffled aggregates re-joined by token — at
    corpus scale those joins hash-partition on token, the natural
    key. Mirrors the oracle's exact expression tree so the doubles
    agree bitwise before the display rounding."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select("doc_id", F.split("text", " ").alias("w"))
    uni = words.select("doc_id", F.explode("w").alias("tok"))
    c1 = uni.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    n = uni.agg(F.count(F.lit(1)).alias("total"))
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
        .select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    )
    c2 = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    ca = c1.select(F.col("tok").alias("w1"), F.col("c").alias("ca"))
    cb = c1.select(F.col("tok").alias("w2"), F.col("c").alias("cb"))
    lp = F.log(
        F.lit(0.7) * F.col("c2") / F.col("ca")
        + F.lit(0.3) * F.col("cb") / F.col("total").cast("double")
    )
    return (
        big.join(c2, ["w1", "w2"])
        .join(ca, "w1")
        .join(cb, "w2")
        .crossJoin(F.broadcast(n))
        .select("doc_id", lp.alias("lp"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.sum("lp") / F.count(F.lit(1)), 3).alias("avg_logprob"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Multimodal: WebDataset-style shard manifest
# ---------------------------------------------------------------------------


@register(
    "multimodal_shard_manifest",
    oracle="""
WITH s AS (
  SELECT source, doc_id, n_chars,
    CAST(floor((SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_chars)
      / 2048.0) AS BIGINT) AS shard_id
  FROM documents
)
SELECT source, shard_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS shard_chars,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc,
       CAST(MAX(doc_id) AS BIGINT) AS last_doc
FROM s GROUP BY 1, 2 ORDER BY source, shard_id
""",
    tags=("ext", "multimodal", "shard", "window"),
    description="WebDataset-style shard manifest via running byte budget",
)
def multimodal_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-manifest construction — the step that turns a document/
    media table into fixed-budget archive shards (WebDataset / tar
    layout): within each source, documents in deterministic id order
    are assigned shard = floor(exclusive_running_bytes / budget),
    then the manifest aggregates each shard's extent. The running
    sum partitions by source, so shard building is parallel across
    sources and never needs a global sort — at 100 TB the source
    (or (source, date) prefix) is exactly how such corpora arrive
    partitioned. Budget division is by a power of two, so the
    floor() is exact in both engines."""
    docs = load_table(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    shard = F.floor(
        (F.sum("n_chars").over(w) - F.col("n_chars")) / 2048.0
    ).cast("long")
    return (
        docs.select("source", "doc_id", "n_chars", shard.alias("shard_id"))
        .groupBy("source", "shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("shard_chars"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("source", "shard_id")
    )


# ---------------------------------------------------------------------------
# kNN majority-vote classification over the embedding corpus
# ---------------------------------------------------------------------------


def _knn_vote_oracle() -> str:
    from wilayah_aceh_etl_spark.plans.ext_queries import _COS, _VEC_CTE

    cos = _COS.format(a="qe", b="e")
    return (
        "WITH "
        + _VEC_CTE
        + f""",
q AS (SELECT vec_id AS query_id, label AS true_label, e AS qe
      FROM v WHERE vec_id < 5),
scored AS (
  SELECT query_id, true_label, vec_id, label, {cos} AS c
  FROM q, v WHERE vec_id != query_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY c DESC, vec_id) AS rk
  FROM scored
),
votes AS (
  SELECT query_id, true_label, label,
         CAST(COUNT(*) AS BIGINT) AS votes
  FROM ranked WHERE rk <= 10 GROUP BY 1, 2, 3
),
best AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY votes DESC, label) AS brk
  FROM votes
)
SELECT query_id, CAST(true_label AS BIGINT) AS true_label,
       CAST(label AS BIGINT) AS pred_label, votes
FROM best WHERE brk = 1 ORDER BY query_id
"""
    )


@register(
    "embedding_knn_label_vote",
    oracle=_knn_vote_oracle(),
    tags=("ext", "similarity", "knn", "classification"),
    description="10-NN majority-vote label prediction for 5 queries",
)
def embedding_knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN classification — the label-quality probe run over a
    labeled embedding corpus (e.g. checking annotation consistency):
    each query's 10 nearest cosine neighbors vote; majority label
    wins, ties break to the smaller label. Reuses the broadcast-
    queries × corpus-scan top-k (operators/similarity.py), then two
    tiny aggregates; the corpus is scanned once and never
    self-joined. Votes are exact counts over a rank computed on the
    unrounded doubles both engines share bitwise."""
    from wilayah_aceh_etl_spark.operators import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    topk = S.brute_force_topk(emb, q, k=10)
    labels = emb.select("vec_id", "label")
    votes = (
        topk.join(labels, "vec_id")
        .groupBy("query_id", "label")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    wv = Window.partitionBy("query_id").orderBy(
        F.col("votes").desc(), F.col("label").asc()
    )
    pred = (
        votes.withColumn("brk", F.row_number().over(wv))
        .filter(F.col("brk") == 1)
        .select("query_id", F.col("label").alias("pred_label"), "votes")
    )
    truth = q.select(
        F.col("vec_id").alias("query_id"),
        F.col("label").cast("long").alias("true_label"),
    )
    return (
        pred.join(truth, "query_id")
        .select(
            "query_id",
            "true_label",
            F.col("pred_label").cast("long").alias("pred_label"),
            "votes",
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# One-way ANOVA from exact integer moments
# ---------------------------------------------------------------------------

_EP_CENTS = "CAST(ROUND(l_extendedprice * 100) AS BIGINT)"


@register(
    "lineitem_anova_returnflag",
    oracle=f"""
WITH g AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM({_EP_CENTS}) AS BIGINT) AS s,
         CAST(SUM({_EP_CENTS} * {_EP_CENTS}) AS BIGINT) AS ss
  FROM lineitem GROUP BY l_returnflag
),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(s) AS BIGINT) AS st,
         CAST(COUNT(*) AS BIGINT) AS k
  FROM g
),
parts AS (
  SELECT SUM(CAST(s AS DOUBLE) * s / n) AS sb_raw,
         SUM(ss - CAST(s AS DOUBLE) * s / n) AS ssw
  FROM g
)
SELECT tot.k, tot.nn AS n_rows,
  ROUND((parts.sb_raw - CAST(tot.st AS DOUBLE) * tot.st / tot.nn)
        / (tot.k - 1) / (parts.ssw / (tot.nn - tot.k)), 4) AS f_stat
FROM parts CROSS JOIN tot
""",
    tags=("stats", "anova", "agg"),
    description="one-way ANOVA F-statistic across return flags",
)
def lineitem_anova_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA: does mean extended price differ across return
    flags? F = (SSB/(k−1)) / (SSW/(n−k)), with every sum of squares
    computed from exact BIGINT moments per group (n, Σx, Σx²) — one
    map-side-combinable aggregate over the fact table, then a 3-row
    reduction. This is the constant-state pattern every grouped
    statistic should compile to at 100 TB: no sort, no second pass,
    partial aggregation does almost all the work."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    g = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents).alias("s"),
        F.sum(cents * cents).alias("ss"),
    )
    parts = g.agg(
        F.sum(F.col("s").cast("double") * F.col("s") / F.col("n")).alias(
            "sb_raw"
        ),
        F.sum(
            F.col("ss") - F.col("s").cast("double") * F.col("s") / F.col("n")
        ).alias("ssw"),
        F.sum("n").alias("nn"),
        F.sum("s").alias("st"),
        F.count(F.lit(1)).alias("k"),
    )
    f_stat = (
        (
            F.col("sb_raw")
            - F.col("st").cast("double") * F.col("st") / F.col("nn")
        )
        / (F.col("k") - 1)
        / (F.col("ssw") / (F.col("nn") - F.col("k")))
    )
    return parts.select(
        "k",
        F.col("nn").alias("n_rows"),
        F.round(f_stat, 4).alias("f_stat"),
    )


# ---------------------------------------------------------------------------
# Kaplan-Meier survival of order→first-ship latency (censor at 60 d)
# ---------------------------------------------------------------------------


@register(
    "orders_kaplan_meier_ship",
    oracle="""
WITH raw AS (
  SELECT l.l_orderkey,
         date_diff('day', o.o_orderdate, MIN(l.l_shipdate)) AS raw_d
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
  GROUP BY l.l_orderkey, o.o_orderdate
),
dur AS (
  SELECT LEAST(raw_d, 60) AS d,
         CASE WHEN raw_d <= 60 THEN 1 ELSE 0 END AS observed
  FROM raw WHERE raw_d >= 0
),
n_tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM dur),
ev AS (
  SELECT d, CAST(SUM(observed) AS BIGINT) AS d_events,
         CAST(COUNT(*) AS BIGINT) AS leaving
  FROM dur GROUP BY d
),
km AS (
  SELECT d, d_events,
         n_tot.n - COALESCE(SUM(leaving) OVER (ORDER BY d
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
  FROM ev CROSS JOIN n_tot
)
SELECT CAST(d AS BIGINT) AS day_t, CAST(n_risk AS BIGINT) AS n_risk,
       d_events,
       ROUND(exp(SUM(ln(1.0 - CAST(d_events AS DOUBLE) / n_risk))
             OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)), 6) AS survival
FROM km WHERE d_events > 0 ORDER BY day_t
""",
    tags=("stats", "survival", "window"),
    description="Kaplan-Meier curve of days-to-first-ship, censored at 60",
)
def orders_kaplan_meier_ship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier product-limit estimator of the order→first-ship
    latency distribution, right-censored at 60 days — the survival-
    analysis shape (churn, time-to-event) on order fulfilment data;
    negative latencies (the synthetic shipdates are uncorrelated
    with orderdates) are excluded as ineligible.
    Durations aggregate to one row per distinct day, so the curve
    itself is a ~60-row series: the cumulative product is computed
    as exp(Σ ln(1−d/n)) over a running window — identical double
    expression both engines, and the only wide work is the
    per-order MIN(shipdate) aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    raw = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.min("l_shipdate").alias("first_ship"))
        .select(
            F.datediff("first_ship", "o_orderdate").alias("raw_d")
        )
    )
    dur = raw.filter(F.col("raw_d") >= 0).select(
        F.least(F.col("raw_d"), F.lit(60)).alias("d"),
        F.when(F.col("raw_d") <= 60, 1).otherwise(0).alias("observed"),
    )
    n_tot = dur.agg(F.count(F.lit(1)).alias("n"))
    ev = dur.groupBy("d").agg(
        F.sum("observed").alias("d_events"),
        F.count(F.lit(1)).alias("leaving"),
    )
    w_prev = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, -1
    )
    km = (
        ev.crossJoin(F.broadcast(n_tot))
        .withColumn(
            "n_risk",
            F.col("n")
            - F.coalesce(F.sum("leaving").over(w_prev), F.lit(0)),
        )
    )
    w_run = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    surv = F.exp(
        F.sum(
            F.log(
                F.lit(1.0)
                - F.col("d_events").cast("double") / F.col("n_risk")
            )
        ).over(w_run)
    )
    return (
        km.withColumn("survival", F.round(surv, 6))
        .filter(F.col("d_events") > 0)
        .select(
            F.col("d").cast("long").alias("day_t"),
            F.col("n_risk").cast("long").alias("n_risk"),
            "d_events",
            "survival",
        )
        .orderBy("day_t")
    )


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov statistic (click vs view values)
# ---------------------------------------------------------------------------


@register(
    "events_ks_two_sample",
    oracle="""
WITH t AS (
  SELECT value AS v,
         CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT)
           AS na_v,
         CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT)
           AS nb_v
  FROM events WHERE event_type IN ('click', 'view')
  GROUP BY value
),
c AS (
  SELECT v,
         SUM(na_v) OVER (ORDER BY v) AS ca,
         SUM(nb_v) OVER (ORDER BY v) AS cb
  FROM t
),
n AS (
  SELECT CAST(SUM(na_v) AS BIGINT) AS na, CAST(SUM(nb_v) AS BIGINT) AS nb
  FROM t
)
SELECT n.na AS n_click, n.nb AS n_view,
       ROUND(MAX(ABS(CAST(c.ca AS DOUBLE) / n.na
                     - CAST(c.cb AS DOUBLE) / n.nb)), 6) AS ks_stat
FROM c CROSS JOIN n GROUP BY n.na, n.nb
""",
    tags=("stats", "ks-test", "window"),
    description="two-sample KS statistic: click vs view value ECDFs",
)
def events_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov distance between the value
    distributions of two event types: max ECDF gap over the merged
    support. Values aggregate to per-distinct-value counts first
    (the 100 TB move — the window then runs over support size, not
    row count), cumulative counts give both ECDFs in one ordered
    pass, and the max-gap is a scalar aggregate. ECDF ratios are
    single divisions of exact BIGINTs."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    t = e.groupBy(F.col("value").alias("v")).agg(
        F.sum(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        ).alias("na_v"),
        F.sum(
            F.when(F.col("event_type") == "view", 1).otherwise(0)
        ).alias("nb_v"),
    )
    w = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = t.select(
        "v",
        F.sum("na_v").over(w).alias("ca"),
        F.sum("nb_v").over(w).alias("cb"),
        F.sum("na_v").over(
            Window.orderBy(F.lit(1)).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("na"),
        F.sum("nb_v").over(
            Window.orderBy(F.lit(1)).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("nb"),
    )
    gap = F.abs(
        F.col("ca").cast("double") / F.col("na")
        - F.col("cb").cast("double") / F.col("nb")
    )
    return c.groupBy("na", "nb").agg(
        F.round(F.max(gap), 6).alias("ks_stat")
    ).select(
        F.col("na").alias("n_click"),
        F.col("nb").alias("n_view"),
        "ks_stat",
    )


# ---------------------------------------------------------------------------
# FILTER-clause aggregate battery
# ---------------------------------------------------------------------------

_VAL_MICROS = "CAST(ROUND(value * 1000000) AS BIGINT)"
_VAL_CENTS = "CAST(ROUND(value * 100) AS BIGINT)"


@register(
    "events_filter_clause_battery",
    oracle=f"""
SELECT event_type,
  CAST(COUNT(*) AS BIGINT) AS n_all,
  CAST(COUNT(*) FILTER (WHERE value > 50) AS BIGINT) AS n_high,
  CAST(COUNT(*) FILTER (WHERE user_id % 2 = 0) AS BIGINT) AS n_even_user,
  CAST(COALESCE(SUM({_VAL_MICROS}) FILTER (WHERE value > 50), 0) AS BIGINT)
    AS sum_high_micros,
  CAST(MAX(user_id) FILTER (WHERE value <= 50) AS BIGINT) AS max_low_user
FROM events
GROUP BY event_type
ORDER BY event_type
""",
    tags=("sql-surface", "agg", "filter-clause"),
    description="FILTER (WHERE ...) conditional-aggregate battery",
)
def events_filter_clause_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL:2003 FILTER clause on aggregates — the declarative
    form of conditional aggregation (one pass, N predicates) that
    replaces N self-joins or CASE pyramids. Catalyst compiles each
    filtered aggregate into the same hash-aggregate pass, so adding
    predicates adds zero shuffles."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(
        f"""
        SELECT event_type,
          COUNT(*) AS n_all,
          COUNT(*) FILTER (WHERE value > 50) AS n_high,
          COUNT(*) FILTER (WHERE user_id % 2 = 0) AS n_even_user,
          COALESCE(SUM({_VAL_MICROS}) FILTER (WHERE value > 50), 0)
            AS sum_high_micros,
          MAX(user_id) FILTER (WHERE value <= 50) AS max_low_user
        FROM events
        GROUP BY event_type
        ORDER BY event_type
        """
    )


# ---------------------------------------------------------------------------
# Join-key skew audit (the shuffle-health profiler)
# ---------------------------------------------------------------------------


def _skew_cte(table: str, key: str) -> str:
    return f"""
  SELECT '{table}.{key}' AS join_key,
         CAST(COUNT(*) AS BIGINT) AS n_keys,
         CAST(SUM(cnt) AS BIGINT) AS n_rows,
         CAST(MAX(cnt) AS BIGINT) AS max_cnt,
         CAST(quantile_disc(cnt, 0.99) AS BIGINT) AS p99_cnt,
         ROUND(CAST(MAX(cnt) AS DOUBLE) * COUNT(*) / SUM(cnt), 4)
           AS skew_ratio
  FROM (SELECT {key}, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM {table} GROUP BY {key}) k
"""


@register(
    "audit_join_key_skew",
    oracle="SELECT * FROM ("
    + _skew_cte("orders", "o_custkey")
    + ") a UNION ALL SELECT * FROM ("
    + _skew_cte("lineitem", "l_partkey")
    + ") b ORDER BY join_key",
    tags=("ops", "skew", "audit", "agg"),
    description="join-key skew audit: max/p99/ratio of key frequencies",
)
def audit_join_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-health profiler: per join key, the key-frequency
    histogram reduced to the numbers that predict shuffle skew —
    max key count, p99, and skew ratio (max/mean). This is the
    query you run BEFORE a 100 TB join to decide between plain
    shuffle, salting, or AQE skew-join; the engine's own
    skew_salted_join_revenue is the remediation it gates. Two
    map-combinable aggregates, one per audited key."""

    def one(table: str, key: str) -> DataFrame:
        k = (
            load_table(spark, sf_dir, table)
            .groupBy(key)
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        return k.agg(
            F.lit(f"{table}.{key}").alias("join_key"),
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("cnt").alias("n_rows"),
            F.max("cnt").alias("max_cnt"),
            F.expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY cnt)")
            .cast("long")
            .alias("p99_cnt"),
            F.round(
                F.max("cnt").cast("double")
                * F.count(F.lit(1))
                / F.sum("cnt"),
                4,
            ).alias("skew_ratio"),
        )

    return (
        one("orders", "o_custkey")
        .unionByName(one("lineitem", "l_partkey"))
        .orderBy("join_key")
    )


# ---------------------------------------------------------------------------
# Holt linear (double exponential) smoothing — grouped-map pandas
# against a recursive-CTE oracle
# ---------------------------------------------------------------------------

_HOLT_ORACLE = """
WITH RECURSIVE daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
idx AS (
  SELECT event_type, y,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS t
  FROM daily
),
n AS (SELECT event_type, MAX(t) AS tmax FROM idx GROUP BY 1),
rec AS (
  SELECT i.event_type, 1 AS t, CAST(i.y AS DOUBLE) AS l,
         CAST(0 AS DOUBLE) AS b
  FROM idx i WHERE i.t = 1
  UNION ALL
  SELECT r.event_type, r.t + 1,
         0.3 * i.y + 0.7 * (r.l + r.b),
         0.1 * ((0.3 * i.y + 0.7 * (r.l + r.b)) - r.l) + 0.9 * r.b
  FROM rec r JOIN idx i ON i.event_type = r.event_type AND i.t = r.t + 1
)
SELECT r.event_type, CAST(r.t AS BIGINT) AS n_days,
       ROUND(r.l, 6) AS level, ROUND(r.b, 6) AS trend,
       ROUND(r.l + r.b, 6) AS forecast_next
FROM rec r JOIN n ON n.event_type = r.event_type AND r.t = n.tmax
ORDER BY r.event_type
"""


@register(
    "events_holt_linear_smoothing",
    oracle=_HOLT_ORACLE,
    tags=("events", "timeseries", "forecast", "pandas-udf"),
    description="Holt linear smoothing per type (grouped-map pandas)",
)
def events_holt_linear_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend (double exponential) smoothing of the
    daily count series, α=0.3 β=0.1 — an inherently SEQUENTIAL
    recurrence no relational operator expresses, so it runs as an
    applyInPandas grouped map: aggregate first (events → ~90 daily
    rows per type), then one Arrow batch per type walks the
    recurrence. The oracle is a DuckDB recursive CTE stepping the
    identical IEEE expression tree (constants written as literals,
    never 1−α, so both engines multiply by the same doubles).
    Per-group state is O(1); groups parallelize across executors."""
    import pandas as pd

    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("y"))

    def holt(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day").reset_index(drop=True)
        y = pdf["y"].tolist()
        level = float(y[0])
        trend = 0.0
        for t in range(1, len(y)):
            new_level = 0.3 * y[t] + 0.7 * (level + trend)
            trend = 0.1 * (new_level - level) + 0.9 * trend
            level = new_level
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n_days": [len(y)],
                "level": [round(level, 6)],
                "trend": [round(trend, 6)],
                "forecast_next": [round(level + trend, 6)],
            }
        )

    return (
        daily.groupBy("event_type")
        .applyInPandas(
            holt,
            schema="event_type string, n_days long, level double, "
            "trend double, forecast_next double",
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Weight-of-Evidence binning (credit-scoring feature transform)
# ---------------------------------------------------------------------------


@register(
    "feature_woe_binning",
    oracle=f"""
WITH target AS (
  SELECT c.c_custkey, {_ACCT_CENTS} AS cents,
         CASE WHEN EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = c.c_custkey
                             AND o.o_orderpriority = '1-URGENT')
              THEN 1 ELSE 0 END AS y
  FROM customer c
),
binned AS (
  SELECT y, NTILE(5) OVER (ORDER BY cents, c_custkey) AS bin FROM target
),
g AS (
  SELECT bin, CAST(SUM(y) AS BIGINT) AS n_pos,
         CAST(SUM(1 - y) AS BIGINT) AS n_neg
  FROM binned GROUP BY bin
),
tot AS (
  SELECT CAST(SUM(n_pos) AS BIGINT) AS tp, CAST(SUM(n_neg) AS BIGINT) AS tn
  FROM g
)
SELECT CAST(g.bin AS INTEGER) AS bin, g.n_pos, g.n_neg,
  ROUND(ln((CAST(g.n_pos AS DOUBLE) / tot.tp)
           / (CAST(g.n_neg AS DOUBLE) / tot.tn)), 6) AS woe,
  ROUND((CAST(g.n_pos AS DOUBLE) / tot.tp
         - CAST(g.n_neg AS DOUBLE) / tot.tn)
        * ln((CAST(g.n_pos AS DOUBLE) / tot.tp)
             / (CAST(g.n_neg AS DOUBLE) / tot.tn)), 6) AS iv_part
FROM g CROSS JOIN tot ORDER BY bin
""",
    tags=("ext", "feature-engineering", "woe", "binning"),
    description="Weight-of-Evidence quintile binning of account balance",
)
def feature_woe_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-Evidence binning — the credit-scoring encoder:
    balance quintiles (NTILE with a full tie-break so bin edges are
    deterministic) scored against a binary target (customer ever
    placed an URGENT order), WoE = ln(%pos/%neg) per bin plus the
    information-value contribution. The target is a semi-join
    (EXISTS), the binning one ranking window, the WoE math a 5-row
    reduction — nothing here scales with more than one pass over
    customers. NTILE's global ORDER BY is the scale caveat: at
    100 TB the rewrite is quantile-cut bins from approx_percentile
    edges, which needs no total order."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    urgent = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    target = (
        cust.join(urgent.withColumn("y", F.lit(1)), "c_custkey", "left")
        .select(
            "c_custkey",
            _c_cents().alias("cents"),
            F.coalesce(F.col("y"), F.lit(0)).alias("y"),
        )
    )
    wb = Window.orderBy(F.col("cents").asc(), F.col("c_custkey").asc())
    binned = target.select("y", F.ntile(5).over(wb).alias("bin"))
    g = binned.groupBy("bin").agg(
        F.sum("y").alias("n_pos"),
        F.sum(F.lit(1) - F.col("y")).alias("n_neg"),
    )
    tot = g.agg(
        F.sum("n_pos").alias("tp"), F.sum("n_neg").alias("tn")
    )
    pp = F.col("n_pos").cast("double") / F.col("tp")
    pn = F.col("n_neg").cast("double") / F.col("tn")
    woe = F.log(pp / pn)
    return (
        g.crossJoin(F.broadcast(tot))
        .select(
            F.col("bin").cast("int").alias("bin"),
            "n_pos",
            "n_neg",
            F.round(woe, 6).alias("woe"),
            F.round((pp - pn) * woe, 6).alias("iv_part"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# Wald-Wolfowitz runs test on the daily-revenue direction sequence
# ---------------------------------------------------------------------------


@register(
    "orders_runs_test_randomness",
    oracle=f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM({_CENTS}) AS BIGINT) AS rev
  FROM orders GROUP BY 1
),
signs AS (
  SELECT day, CASE WHEN rev > LAG(rev) OVER (ORDER BY day)
              THEN 1 ELSE 0 END AS up,
         LAG(rev) OVER (ORDER BY day) AS prev
  FROM daily
),
seq AS (
  SELECT up,
         CASE WHEN up != LAG(up) OVER (ORDER BY day) THEN 1 ELSE 0 END
           AS changed
  FROM signs WHERE prev IS NOT NULL
),
s AS (
  SELECT CAST(SUM(up) AS BIGINT) AS n1,
         CAST(SUM(1 - up) AS BIGINT) AS n2,
         CAST(1 + COALESCE(SUM(changed), 0) AS BIGINT) AS runs
  FROM seq
)
SELECT n1, n2, runs,
  ROUND((runs - (1 + 2.0 * n1 * n2 / (n1 + n2)))
        / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
               / ((n1 + n2) * (n1 + n2) * CAST(n1 + n2 - 1 AS DOUBLE))), 4)
    AS z_stat
FROM s
""",
    tags=("stats", "runs-test", "window"),
    description="Wald-Wolfowitz runs test on daily revenue direction",
)
def orders_runs_test_randomness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test: is the up/down direction of daily
    revenue a random sequence? Days aggregate first (the series is
    calendar-sized, not order-sized), one LAG window derives the
    direction bits, a second counts sign changes, and the z-score
    is pure arithmetic over three exact counts. The single-ordered
    window over ~2400 days is driver-trivial; at scale the series
    stays calendar-bounded no matter the fact-table size."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(F.sum(_o_cents()).alias("rev"))
    w = Window.orderBy("day")
    signs = daily.select(
        "day",
        F.when(F.col("rev") > F.lag("rev").over(w), 1)
        .otherwise(0)
        .alias("up"),
        F.lag("rev").over(w).alias("prev"),
    )
    seq = signs.filter(F.col("prev").isNotNull()).select(
        "day",
        "up",
        F.when(F.col("up") != F.lag("up").over(w), 1)
        .otherwise(0)
        .alias("changed"),
    )
    s = seq.agg(
        F.sum("up").alias("n1"),
        F.sum(F.lit(1) - F.col("up")).alias("n2"),
        (F.lit(1) + F.coalesce(F.sum("changed"), F.lit(0))).alias("runs"),
    )
    n1, n2, runs = F.col("n1"), F.col("n2"), F.col("runs")
    mu = F.lit(1) + F.lit(2.0) * n1 * n2 / (n1 + n2)
    var = (
        F.lit(2.0)
        * n1
        * n2
        * (F.lit(2.0) * n1 * n2 - n1 - n2)
        / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1).cast("double"))
    )
    return s.select(
        "n1", "n2", "runs", F.round((runs - mu) / F.sqrt(var), 4).alias("z_stat")
    )


# ---------------------------------------------------------------------------
# Link prediction via neighbor Jaccard (graph completion)
# ---------------------------------------------------------------------------


@register(
    "graph_jaccard_link_prediction",
    oracle="""
WITH base AS (
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
deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY u),
common AS (
  SELECT e1.u AS a, e2.u AS b, CAST(COUNT(*) AS BIGINT) AS n_common
  FROM edges e1 JOIN edges e2 ON e1.w = e2.w AND e1.u < e2.u
  GROUP BY 1, 2
),
nonadj AS (
  SELECT c.a, c.b, c.n_common FROM common c
  LEFT JOIN pairs p ON p.pa = c.a AND p.pb = c.b
  WHERE p.pa IS NULL
),
scored AS (
  SELECT a, b, n_common,
         CAST(n_common AS DOUBLE) / (da.d + db.d - n_common) AS j
  FROM nonadj
  JOIN deg da ON da.u = a
  JOIN deg db ON db.u = b
)
SELECT a, b, n_common, ROUND(j, 6) AS jaccard
FROM scored ORDER BY j DESC, a, b LIMIT 20
""",
    tags=("graph", "link-prediction", "join"),
    description="top-20 predicted links by neighbor-set Jaccard",
)
def graph_jaccard_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the part co-occurrence graph: for every
    NON-adjacent pair with at least one shared neighbor, the Jaccard
    similarity of neighbor sets; top-20 candidate links. The
    wedge-join (edges⋈edges on the shared endpoint) generates only
    pairs with common neighbors — never the node-pair cross product
    — and the anti-join removes existing edges. Ranked on the
    unrounded single-division double both engines share bitwise."""
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
    deg = edges.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    e1 = edges.select(F.col("u").alias("a"), "w")
    e2 = edges.select(F.col("u").alias("b"), "w")
    common = (
        e1.join(e2, "w")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    nonadj = common.join(
        pairs.select(
            F.col("pa").alias("a"), F.col("pb").alias("b")
        ),
        ["a", "b"],
        "left_anti",
    )
    da = deg.select(F.col("u").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("u").alias("b"), F.col("d").alias("db"))
    scored = (
        nonadj.join(da, "a")
        .join(db, "b")
        .select(
            "a",
            "b",
            "n_common",
            (
                F.col("n_common").cast("double")
                / (F.col("da") + F.col("db") - F.col("n_common"))
            ).alias("j"),
        )
    )
    return (
        scored.orderBy(F.col("j").desc(), "a", "b")
        .limit(20)
        .select("a", "b", "n_common", F.round("j", 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# Character-trigram language profiles (langid feature extraction)
# ---------------------------------------------------------------------------


@register(
    "text_char_trigram_profile",
    oracle="""
WITH tri AS (
  SELECT lang, substr(text, i, 3) AS tg
  FROM documents, UNNEST(range(1, len(text) - 1)) AS r(i)
),
counts AS (
  SELECT lang, tg, CAST(COUNT(*) AS BIGINT) AS cnt FROM tri GROUP BY 1, 2
),
ranked AS (
  SELECT lang, tg, cnt,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY cnt DESC, tg) AS rk
  FROM counts
)
SELECT lang, CAST(rk AS INTEGER) AS rk, tg, cnt
FROM ranked WHERE rk <= 10 ORDER BY lang, rk
""",
    tags=("ext", "text", "langid", "char-ngram"),
    description="top-10 character trigrams per language",
)
def text_char_trigram_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram frequency profiles per language — the
    feature table a real n-gram language identifier trains on (the
    upgrade path from text_langid_heuristic's stopword ratio).
    Trigrams explode as a per-row sequence transform (map-side),
    collapse in one hash aggregate, and a per-language ranking
    window takes the top-10: count-then-rank keeps the window input
    at vocabulary size, not corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    tri = spread(docs.select("lang", "text")).select(
        "lang",
        F.explode(
            F.expr(
                "transform(sequence(1, length(text) - 2),"
                " i -> substring(text, i, 3))"
            )
        ).alias("tg"),
    )
    counts = tri.groupBy("lang", "tg").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("lang").orderBy(
        F.col("cnt").desc(), F.col("tg").asc()
    )
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .select("lang", F.col("rk").cast("int").alias("rk"), "tg", "cnt")
        .orderBy("lang", "rk")
    )


# ---------------------------------------------------------------------------
# MinHash-LSH band tuning sweep (precision/recall vs band count)
# ---------------------------------------------------------------------------


def _band_sweep_oracle() -> str:
    from wilayah_aceh_etl_spark.plans.ext_queries import (
        _JACCARD_CTE,
        _SHINGLE_CTE,
        _SIGS_CTE,
    )

    k = 8
    parts = ["WITH " + _SHINGLE_CTE + ", " + _SIGS_CTE + "," + _JACCARD_CTE]
    configs = (1, 2, 4, 8)
    for bands in configs:
        rows = k // bands
        band_sel = " UNION ALL ".join(
            f"SELECT doc_id, {b} AS band_id, "
            f"md5({' || '.join(f'mh{b * rows + r}' for r in range(rows))})"
            " AS band_hash FROM sigs"
            for b in range(bands)
        )
        parts.append(
            f""",
bands{bands} AS ({band_sel}),
cand{bands} AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands{bands} a JOIN bands{bands} b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
),
stat{bands} AS (
  SELECT {bands} AS bands, {rows} AS rows_per_band,
         CAST(COUNT(*) AS BIGINT) AS n_candidates,
         CAST(COALESCE(SUM(CASE WHEN j.jaccard >= 0.5 THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS n_true_pos
  FROM cand{bands} c LEFT JOIN jac j USING (doc_a, doc_b)
)"""
        )
    parts.append(
        """,
truth AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM jac WHERE jaccard >= 0.5
),
sweep AS ("""
        + " UNION ALL ".join(f"SELECT * FROM stat{b}" for b in configs)
        + """)
SELECT CAST(s.bands AS INTEGER) AS bands,
       CAST(s.rows_per_band AS INTEGER) AS rows_per_band,
       s.n_candidates, s.n_true_pos, t.n_truth,
       CASE WHEN s.n_candidates > 0
            THEN ROUND(CAST(s.n_true_pos AS DOUBLE) / s.n_candidates, 6)
       END AS precision,
       ROUND(CAST(s.n_true_pos AS DOUBLE) / t.n_truth, 6) AS recall
FROM sweep s CROSS JOIN truth t ORDER BY bands
"""
    )
    return "".join(parts)


@register(
    "dedup_lsh_band_sweep",
    oracle=_band_sweep_oracle(),
    tags=("ext", "dedup", "minhash", "lsh", "tuning"),
    description="LSH band-count sweep: precision/recall per config",
)
def dedup_lsh_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH S-curve, measured: candidate count, precision, and
    recall (vs exact Jaccard ≥ 0.5) for every banding of the k=8
    MinHash signature — b=1 (one strict 8-row band) through b=8
    (eight permissive 1-row bands). This is the tuning table an
    operator consults before fixing (b, r) for a 100 TB dedup run;
    the signature table is computed ONCE and re-banded per config
    (banding is a projection — only the tiny candidate joins
    repeat)."""
    from wilayah_aceh_etl_spark.operators import dedup as D

    docs = load_table(spark, sf_dir, "documents")
    sh = D.distinct_shingles(docs, "doc_id")
    # sigs feeds 4 banding branches and jac feeds 5 consumers of the
    # final union — cache both so the shingle explode runs once, not
    # once per branch (the same reuse a materialized signature table
    # gives at production scale)
    sigs = D.minhash_signatures(sh, k=8).cache()
    jac = D.jaccard_pairs(sh).cache()
    truth = jac.filter(F.col("jaccard") >= 0.5).agg(
        F.count(F.lit(1)).alias("n_truth")
    )
    stats = []
    for bands in (1, 2, 4, 8):
        cand = D.lsh_candidate_pairs(D.lsh_band_hashes(sigs, k=8, bands=bands))
        stats.append(
            cand.join(jac, ["doc_a", "doc_b"], "left").agg(
                F.lit(bands).alias("bands"),
                F.lit(8 // bands).alias("rows_per_band"),
                F.count(F.lit(1)).alias("n_candidates"),
                F.coalesce(
                    F.sum(
                        F.when(F.col("jaccard") >= 0.5, 1).otherwise(0)
                    ),
                    F.lit(0),
                ).alias("n_true_pos"),
            )
        )
    sweep = stats[0]
    for s in stats[1:]:
        sweep = sweep.unionByName(s)
    return (
        sweep.crossJoin(F.broadcast(truth))
        .select(
            F.col("bands").cast("int").alias("bands"),
            F.col("rows_per_band").cast("int").alias("rows_per_band"),
            "n_candidates",
            F.col("n_true_pos").cast("long").alias("n_true_pos"),
            "n_truth",
            F.when(
                F.col("n_candidates") > 0,
                F.round(
                    F.col("n_true_pos").cast("double")
                    / F.col("n_candidates"),
                    6,
                ),
            ).alias("precision"),
            F.round(
                F.col("n_true_pos").cast("double") / F.col("n_truth"), 6
            ).alias("recall"),
        )
        .orderBy("bands")
    )


# ---------------------------------------------------------------------------
# Markov conditional entropy per source state
# ---------------------------------------------------------------------------


@register(
    "events_markov_conditional_entropy",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
  FROM events
),
c AS (
  SELECT prev_type, event_type AS next_type,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY 1, 2
),
rowtot AS (
  SELECT prev_type, CAST(SUM(n) AS BIGINT) AS n_out FROM c GROUP BY 1
),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_all FROM c)
SELECT c.prev_type, r.n_out,
  ROUND(CAST(r.n_out AS DOUBLE) / t.n_all, 6) AS pi,
  ROUND(SUM(CAST(c.n AS DOUBLE) / r.n_out
            * ln(CAST(r.n_out AS DOUBLE) / c.n)), 6) AS h_cond
FROM c
JOIN rowtot r USING (prev_type)
CROSS JOIN tot t
GROUP BY c.prev_type, r.n_out, t.n_all
ORDER BY c.prev_type
""",
    tags=("events", "markov", "entropy", "sequence"),
    description="per-state conditional entropy of the type transition chain",
)
def events_markov_conditional_entropy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Conditional entropy H(next | prev=s) of the event-type Markov
    chain, with each state's empirical stationary weight — the
    information-theoretic summary of user-behavior predictability
    (events_type_transitions gives the raw counts; this reduces
    them). All probabilities are single divisions of exact BIGINT
    counts; the per-state entropy sums ≤5 terms, so float ordering
    is immaterial at the display rounding."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    c = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).alias("n")
    )
    rowtot = c.groupBy("prev_type").agg(F.sum("n").alias("n_out"))
    tot = c.agg(F.sum("n").alias("n_all"))
    term = (
        F.col("n").cast("double")
        / F.col("n_out")
        * F.log(F.col("n_out").cast("double") / F.col("n"))
    )
    return (
        c.join(rowtot, "prev_type")
        .crossJoin(F.broadcast(tot))
        .groupBy("prev_type", "n_out", "n_all")
        .agg(F.round(F.sum(term), 6).alias("h_cond"))
        .select(
            "prev_type",
            "n_out",
            F.round(
                F.col("n_out").cast("double") / F.col("n_all"), 6
            ).alias("pi"),
            "h_cond",
        )
        .orderBy("prev_type")
    )


# ---------------------------------------------------------------------------
# MMR (maximal marginal relevance) diversified rerank — greedy
# selection unrolled to a fixed number of relational stages
# ---------------------------------------------------------------------------


def _mmr_oracle() -> str:
    from wilayah_aceh_etl_spark.plans.ext_queries import _COS, _VEC_CTE

    cos_q = _COS.format(a="qe", b="e")
    cos_p = _COS.format(a="ea", b="eb")
    stages = []
    for i in range(2, 5):
        prev = f"sel{i - 1}"
        stages.append(
            f""",
sc{i} AS (
  SELECT c.query_id, c.vec_id, c.rel,
         0.7 * c.rel - 0.3 * MAX(p.s) AS score
  FROM cand c
  JOIN {prev} sl ON sl.query_id = c.query_id
  JOIN psim p ON p.query_id = c.query_id AND p.a = c.vec_id
             AND p.b = sl.vec_id
  WHERE NOT EXISTS (SELECT 1 FROM {prev} x
                    WHERE x.query_id = c.query_id
                      AND x.vec_id = c.vec_id)
  GROUP BY c.query_id, c.vec_id, c.rel
),
s{i} AS (
  SELECT query_id, vec_id, {i} AS rank, score FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY score DESC, vec_id) AS rk
    FROM sc{i}) WHERE rk = 1
),
sel{i} AS (SELECT query_id, vec_id FROM {prev}
           UNION ALL SELECT query_id, vec_id FROM s{i})"""
        )
    return (
        "WITH "
        + _VEC_CTE
        + f""",
q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 3),
scored AS (
  SELECT query_id, vec_id, ROUND({cos_q}, 6) AS rel
  FROM q, v WHERE vec_id != query_id
),
cand AS (
  SELECT query_id, vec_id, rel FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY rel DESC, vec_id) AS rk
    FROM scored) WHERE rk <= 8
),
pv AS (
  SELECT c.query_id, c.vec_id, v.e FROM cand c JOIN v USING (vec_id)
),
psim AS (
  SELECT a.query_id, a.vec_id AS a, b.vec_id AS b,
         ROUND({cos_p.replace("ea", "a.e").replace("eb", "b.e")}, 6) AS s
  FROM pv a JOIN pv b ON a.query_id = b.query_id
                     AND a.vec_id != b.vec_id
),
s1 AS (
  SELECT query_id, vec_id, 1 AS rank, rel AS score FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY rel DESC, vec_id) AS rk
    FROM cand) WHERE rk = 1
),
sel1 AS (SELECT query_id, vec_id FROM s1)"""
        + "".join(stages)
        + """
SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id,
       ROUND(score, 6) AS score
FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2
      UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4)
ORDER BY query_id, rank
"""
    )


@register(
    "similarity_mmr_rerank",
    oracle=_mmr_oracle(),
    tags=("ext", "similarity", "retrieval", "mmr", "rerank"),
    description="MMR diversified rerank: greedy λ=0.7 selection of 4",
)
def similarity_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance rerank — the diversity-aware
    second stage of a retrieval pipeline: from each query's top-8
    cosine candidates, greedily select 4, each maximizing
    0.7·relevance − 0.3·max-similarity-to-already-selected. The
    greedy recurrence is unrolled into a FIXED number of relational
    stages (k_out = 4), each one join + ranking window over the
    per-query candidate slate (≤8 rows) — so the iterative part
    never touches the corpus, only the first-stage top-k does.
    Relevance and pairwise sims are rounded once on both engines,
    making every greedy tie-break reproducible."""
    from wilayah_aceh_etl_spark.functions.vectors import as_double, cosine
    from wilayah_aceh_etl_spark.operators import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    cand = S.brute_force_topk(emb, q, k=8).select(
        "query_id", "vec_id", F.col("cos_sim").alias("rel")
    )
    vecs = emb.select("vec_id", as_double("embedding").alias("e"))
    pv = cand.join(vecs, "vec_id").select("query_id", "vec_id", "e")
    pa = pv.select(
        "query_id", F.col("vec_id").alias("a"), F.col("e").alias("ea")
    )
    pb = pv.select(
        "query_id", F.col("vec_id").alias("b"), F.col("e").alias("eb")
    )
    psim = (
        pa.join(pb, "query_id")
        .filter(F.col("a") != F.col("b"))
        .select(
            "query_id",
            "a",
            "b",
            F.round(cosine("ea", "eb"), 6).alias("s"),
        )
    )
    w1 = Window.partitionBy("query_id").orderBy(
        F.col("rel").desc(), F.col("vec_id").asc()
    )
    s1 = (
        cand.withColumn("rk", F.row_number().over(w1))
        .filter(F.col("rk") == 1)
        .select(
            "query_id",
            "vec_id",
            F.lit(1).alias("rank"),
            F.col("rel").alias("score"),
        )
    )
    picked = [s1]
    sel = s1.select("query_id", "vec_id")
    for i in range(2, 5):
        remaining = cand.join(sel, ["query_id", "vec_id"], "left_anti")
        sc = (
            remaining.select(
                "query_id", F.col("vec_id").alias("a"), "rel"
            )
            .join(
                sel.select("query_id", F.col("vec_id").alias("b")),
                "query_id",
            )
            .join(psim, ["query_id", "a", "b"])
            .groupBy("query_id", F.col("a").alias("vec_id"), "rel")
            .agg(
                (
                    F.lit(0.7) * F.col("rel") - F.lit(0.3) * F.max("s")
                ).alias("score")
            )
        )
        wi = Window.partitionBy("query_id").orderBy(
            F.col("score").desc(), F.col("vec_id").asc()
        )
        si = (
            sc.withColumn("rk", F.row_number().over(wi))
            .filter(F.col("rk") == 1)
            .select("query_id", "vec_id", F.lit(i).alias("rank"), "score")
        )
        picked.append(si)
        sel = sel.unionByName(si.select("query_id", "vec_id"))
    out = picked[0]
    for p in picked[1:]:
        out = out.unionByName(p)
    return out.select(
        "query_id",
        F.col("rank").cast("int").alias("rank"),
        "vec_id",
        F.round("score", 6).alias("score"),
    ).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# Feature hashing trick (64-bin token hashing)
# ---------------------------------------------------------------------------

_H4_TOK = " + ".join(
    f"(instr('0123456789abcdef', md5(tok)[{p}:{p}]) - 1) * {w}"
    for p, w in ((1, 4096), (2, 256), (3, 16), (4, 1))
)


@register(
    "feature_hashing_trick",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok
  FROM documents WHERE doc_id < 100
),
binned AS (
  SELECT doc_id, ({_H4_TOK}) % 64 AS bin,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM toks GROUP BY 1, 2
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bins,
       CAST(MAX(cnt) AS BIGINT) AS max_bin_cnt,
       CAST(SUM(bin * cnt) AS BIGINT) AS vec_checksum
FROM binned GROUP BY doc_id ORDER BY doc_id
""",
    tags=("ext", "feature-engineering", "hashing-trick", "text"),
    description="64-bin feature-hashing of tokens, per-doc summary",
)
def feature_hashing_trick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick: tokens hashed into a fixed 64-bin feature
    space (md5-derived bin, engine-portable — same digit arithmetic
    as the MinHash family), the vocabulary-free vectorizer used when
    a 100 TB corpus can't afford a fitted dictionary. Purely
    map-side per doc until one hash aggregate; the output summarizes
    each sparse vector (bin count, hottest bin, checksum) so the
    whole vector contract is oracle-checked without 64 columns."""
    from wilayah_aceh_etl_spark.functions.text import hex4_to_int

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 100
    )
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    binned = toks.select(
        "doc_id", (hex4_to_int(F.md5(F.col("tok"))) % 64).alias("bin")
    ).groupBy("doc_id", "bin").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        binned.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bins"),
            F.max("cnt").alias("max_bin_cnt"),
            F.sum(F.col("bin") * F.col("cnt")).alias("vec_checksum"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Winsorized / trimmed robust statistics per segment
# ---------------------------------------------------------------------------


@register(
    "customer_winsorized_stats",
    oracle=f"""
WITH c AS (
  SELECT c_mktsegment, {_ACCT_CENTS} AS cents FROM customer
),
p AS (
  SELECT c_mktsegment,
         quantile_disc(cents, 0.05) AS p05,
         quantile_disc(cents, 0.95) AS p95
  FROM c GROUP BY c_mktsegment
)
SELECT c.c_mktsegment,
  CAST(COUNT(*) AS BIGINT) AS n,
  CAST(p.p05 AS BIGINT) AS p05_cents,
  CAST(p.p95 AS BIGINT) AS p95_cents,
  ROUND(CAST(SUM(LEAST(GREATEST(c.cents, p.p05), p.p95)) AS DOUBLE)
        / COUNT(*), 4) AS winsorized_mean,
  ROUND(CAST(SUM(CASE WHEN c.cents BETWEEN p.p05 AND p.p95
                      THEN c.cents END) AS DOUBLE)
        / SUM(CASE WHEN c.cents BETWEEN p.p05 AND p.p95
                   THEN 1 ELSE 0 END), 4) AS trimmed_mean
FROM c JOIN p USING (c_mktsegment)
GROUP BY c.c_mktsegment, p.p05, p.p95
ORDER BY c.c_mktsegment
""",
    tags=("stats", "robust", "winsorize", "agg"),
    description="winsorized and trimmed means per market segment",
)
def customer_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean (clamp to the 5th/95th discrete percentiles)
    and trimmed mean (drop beyond them) of account balance per
    segment — the robust-location estimators run before fitting on
    heavy-tailed monetary features. DISCRETE percentiles keep every
    intermediate an exact BIGINT (clamped values are actual data
    values), so both means are one exact integer sum and one double
    division — no float-accumulation ambiguity."""
    cust = load_table(spark, sf_dir, "customer")
    c = cust.select("c_mktsegment", _c_cents().alias("cents"))
    p = c.groupBy("c_mktsegment").agg(
        F.expr("percentile_disc(0.05) WITHIN GROUP (ORDER BY cents)")
        .cast("long")
        .alias("p05"),
        F.expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY cents)")
        .cast("long")
        .alias("p95"),
    )
    j = c.join(F.broadcast(p), "c_mktsegment")
    clamped = F.least(F.greatest(F.col("cents"), F.col("p05")), F.col("p95"))
    inside = F.col("cents").between(F.col("p05"), F.col("p95"))
    return (
        j.groupBy("c_mktsegment", "p05", "p95")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(clamped).cast("double") / F.count(F.lit(1)), 4
            ).alias("winsorized_mean"),
            F.round(
                F.sum(F.when(inside, F.col("cents"))).cast("double")
                / F.sum(F.when(inside, 1).otherwise(0)),
                4,
            ).alias("trimmed_mean"),
        )
        .select(
            "c_mktsegment",
            "n",
            F.col("p05").alias("p05_cents"),
            F.col("p95").alias("p95_cents"),
            "winsorized_mean",
            "trimmed_mean",
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# Cohen's d effect size from exact moments
# ---------------------------------------------------------------------------


@register(
    "orders_cohens_d_priority",
    oracle=f"""
WITH g AS (
  SELECT o_orderpriority,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM({_CENTS}) AS BIGINT) AS s,
         -- Σcents² passes 2^63 near sf0.1 group sizes (cents² is
         -- ~10^15/row): HUGEINT here, DECIMAL(38,0) on the Spark
         -- side — caught by the round-10 full sf0.1 sweep, where
         -- Spark's ANSI mode overflowed loudly
         CAST(SUM(CAST({_CENTS} AS HUGEINT) * {_CENTS}) AS HUGEINT)
           AS ss
  FROM orders
  WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
  GROUP BY o_orderpriority
),
w AS (
  SELECT
    MAX(CASE WHEN o_orderpriority = '1-URGENT' THEN n END) AS n1,
    MAX(CASE WHEN o_orderpriority = '1-URGENT' THEN s END) AS s1,
    MAX(CASE WHEN o_orderpriority = '1-URGENT' THEN ss END) AS ss1,
    MAX(CASE WHEN o_orderpriority = '5-LOW' THEN n END) AS n2,
    MAX(CASE WHEN o_orderpriority = '5-LOW' THEN s END) AS s2,
    MAX(CASE WHEN o_orderpriority = '5-LOW' THEN ss END) AS ss2
  FROM g
)
SELECT n1, n2,
  ROUND((CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2)
    / sqrt(((ss1 - CAST(s1 AS DOUBLE) * s1 / n1)
            + (ss2 - CAST(s2 AS DOUBLE) * s2 / n2))
           / (n1 + n2 - 2)), 6) AS cohens_d
FROM w
""",
    tags=("stats", "effect-size", "agg"),
    description="Cohen's d: URGENT vs LOW order totals",
)
def orders_cohens_d_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d standardized effect size between URGENT and LOW
    priority order totals — mean difference over the pooled sample
    standard deviation, every term derived from exact integer
    moments gathered in ONE pass (conditional aggregation pivots
    the two groups into one row — no second scan, no join). The
    second moment runs in DECIMAL(38,0)/HUGEINT: Σcents² passes
    2⁶³ near sf0.1 group sizes (r10 full-sf0.1 sweep finding)."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    )
    cents = _o_cents()
    g = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents).alias("s"),
        # Σcents² overflows int64 at sf0.1 group sizes — DECIMAL
        # keeps the sum exact (HUGEINT on the oracle side); both
        # convert the identical exact integer to double downstream
        F.sum(
            cents.cast("decimal(19,0)") * cents.cast("decimal(19,0)")
        ).alias("ss"),
    )

    def pick(col: str, prio: str):
        return F.max(
            F.when(F.col("o_orderpriority") == prio, F.col(col))
        )

    w = g.agg(
        pick("n", "1-URGENT").alias("n1"),
        pick("s", "1-URGENT").alias("s1"),
        pick("ss", "1-URGENT").alias("ss1"),
        pick("n", "5-LOW").alias("n2"),
        pick("s", "5-LOW").alias("s2"),
        pick("ss", "5-LOW").alias("ss2"),
    )
    m1 = F.col("s1").cast("double") / F.col("n1")
    m2 = F.col("s2").cast("double") / F.col("n2")
    ssw1 = F.col("ss1") - F.col("s1").cast("double") * F.col("s1") / F.col("n1")
    ssw2 = F.col("ss2") - F.col("s2").cast("double") * F.col("s2") / F.col("n2")
    pooled = F.sqrt((ssw1 + ssw2) / (F.col("n1") + F.col("n2") - 2))
    return w.select(
        "n1", "n2", F.round((m1 - m2) / pooled, 6).alias("cohens_d")
    )


# ---------------------------------------------------------------------------
# 2-core decomposition (two unrolled peeling rounds)
# ---------------------------------------------------------------------------


@register(
    "graph_2core_peeling",
    oracle="""
WITH base AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
),
prs AS (
  SELECT a.pk AS pa, b.pk AS pb
  FROM base a JOIN base b ON a.ok = b.ok AND a.pk < b.pk
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
edges AS (
  SELECT pa AS u, pb AS w FROM prs
  UNION ALL SELECT pb AS u, pa AS w FROM prs
),
deg0 AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY u),
keep1 AS (SELECT u FROM deg0 WHERE d >= 2),
e1 AS (
  SELECT e.u, e.w FROM edges e
  JOIN keep1 a ON a.u = e.u JOIN keep1 b ON b.u = e.w
),
deg1 AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM e1 GROUP BY u),
keep2 AS (SELECT u FROM deg1 WHERE d >= 2),
e2 AS (
  SELECT e.u, e.w FROM e1 e
  JOIN keep2 a ON a.u = e.u JOIN keep2 b ON b.u = e.w
),
deg2 AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM e2 GROUP BY u)
SELECT d0.u AS node, d0.d AS deg_initial, d2.d AS deg_after_2_peels
FROM deg0 d0 JOIN deg2 d2 ON d2.u = d0.u
ORDER BY node
""",
    tags=("graph", "k-core", "iterative", "join"),
    description="2-core peeling: nodes surviving two degree-2 prunes",
)
def graph_2core_peeling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition's inner loop, unrolled twice for k=2:
    compute degrees, drop nodes below 2, induce the subgraph, and
    repeat — the community-detection preprocessing that strips
    tendrils off a graph. Each peel is one degree aggregate + two
    semi-join-shaped edge filters; rounds are checkpointable at
    scale and the edge list only shrinks."""
    base = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .distinct()
    )
    a = base.select("ok", F.col("pk").alias("pa"))
    b = base.select("ok", F.col("pk").alias("pb"))
    prs = (
        a.join(b, "ok")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("pa", "pb")
    )
    edges = prs.select(
        F.col("pa").alias("u"), F.col("pb").alias("w")
    ).unionAll(prs.select(F.col("pb").alias("u"), F.col("pa").alias("w")))
    deg0 = edges.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    cur = edges
    for _ in range(2):
        deg = cur.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
        keep = deg.filter(F.col("d") >= 2).select("u")
        cur = (
            cur.join(keep, "u")
            .join(keep.select(F.col("u").alias("w")), "w")
            .select("u", "w")
        )
    deg2 = cur.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    return (
        deg0.select(
            F.col("u").alias("node"), F.col("d").alias("deg_initial")
        )
        .join(
            deg2.select(
                F.col("u").alias("node"),
                F.col("d").alias("deg_after_2_peels"),
            ),
            "node",
        )
        .orderBy("node")
    )


# ---------------------------------------------------------------------------
# Welch's t-test (unequal variances) between two event types
# ---------------------------------------------------------------------------


@register(
    "events_welch_t_test",
    oracle=f"""
WITH g AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM({_VAL_CENTS}) AS BIGINT) AS s,
         CAST(SUM({_VAL_CENTS} * {_VAL_CENTS}) AS BIGINT) AS ss
  FROM events WHERE event_type IN ('click', 'view')
  GROUP BY event_type
),
w AS (
  SELECT
    MAX(CASE WHEN event_type = 'click' THEN n END) AS n1,
    MAX(CASE WHEN event_type = 'click' THEN s END) AS s1,
    MAX(CASE WHEN event_type = 'click' THEN ss END) AS ss1,
    MAX(CASE WHEN event_type = 'view' THEN n END) AS n2,
    MAX(CASE WHEN event_type = 'view' THEN s END) AS s2,
    MAX(CASE WHEN event_type = 'view' THEN ss END) AS ss2
  FROM g
),
v AS (
  SELECT n1, n2,
    (ss1 - CAST(s1 AS DOUBLE) * s1 / n1) / (n1 - 1) / n1 AS a,
    (ss2 - CAST(s2 AS DOUBLE) * s2 / n2) / (n2 - 1) / n2 AS b,
    CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2 AS md
  FROM w
)
SELECT n1, n2,
  ROUND(md / sqrt(a + b) / 100.0, 4) AS t_stat_units,
  ROUND((a + b) * (a + b) / (a * a / (n1 - 1) + b * b / (n2 - 1)), 2)
    AS df_welch
FROM v
""",
    tags=("stats", "t-test", "agg"),
    description="Welch's t-test: click vs view mean value",
)
def events_welch_t_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test between two event types'
    value distributions, with the Welch-Satterthwaite degrees of
    freedom — the A/B-test primitive. Values are exact integer
    centi-units; one conditional-aggregation pass pivots both
    groups into a single row of moments, and the t statistic and df
    are fixed double expressions over them (t reported in original
    units — the centi scale cancels in the ratio up to the 1e2
    factor divided back out)."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    micros = F.round(F.col("value") * 100).cast("long")
    g = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(micros).alias("s"),
        F.sum(micros * micros).alias("ss"),
    )

    def pick(col: str, et: str):
        return F.max(F.when(F.col("event_type") == et, F.col(col)))

    w = g.agg(
        pick("n", "click").alias("n1"),
        pick("s", "click").alias("s1"),
        pick("ss", "click").alias("ss1"),
        pick("n", "view").alias("n2"),
        pick("s", "view").alias("s2"),
        pick("ss", "view").alias("ss2"),
    )
    a = (
        (F.col("ss1") - F.col("s1").cast("double") * F.col("s1") / F.col("n1"))
        / (F.col("n1") - 1)
        / F.col("n1")
    )
    b = (
        (F.col("ss2") - F.col("s2").cast("double") * F.col("s2") / F.col("n2"))
        / (F.col("n2") - 1)
        / F.col("n2")
    )
    md = F.col("s1").cast("double") / F.col("n1") - F.col("s2").cast(
        "double"
    ) / F.col("n2")
    v = w.select("n1", "n2", a.alias("a"), b.alias("b"), md.alias("md"))
    return v.select(
        "n1",
        "n2",
        F.round(
            F.col("md") / F.sqrt(F.col("a") + F.col("b")) / 100.0, 4
        ).alias("t_stat_units"),
        F.round(
            (F.col("a") + F.col("b"))
            * (F.col("a") + F.col("b"))
            / (
                F.col("a") * F.col("a") / (F.col("n1") - 1)
                + F.col("b") * F.col("b") / (F.col("n2") - 1)
            ),
            2,
        ).alias("df_welch"),
    )


# ---------------------------------------------------------------------------
# MinHash Jaccard-estimate calibration vs exact ground truth
# ---------------------------------------------------------------------------


def _mh_est_oracle() -> str:
    from wilayah_aceh_etl_spark.plans.ext_queries import (
        _JACCARD_CTE,
        _SHINGLE_CTE,
        _SIGS_CTE,
    )

    matches = " + ".join(
        f"(CASE WHEN a.mh{s} = b.mh{s} THEN 1 ELSE 0 END)" for s in range(8)
    )
    return (
        "WITH "
        + _SHINGLE_CTE
        + ", "
        + _SIGS_CTE
        + ","
        + _JACCARD_CTE
        + f""",
est AS (
  SELECT j.doc_a, j.doc_b, j.jaccard,
         ROUND(({matches}) / 8.0, 4) AS mh_estimate
  FROM jac j
  JOIN sigs a ON a.doc_id = j.doc_a
  JOIN sigs b ON b.doc_id = j.doc_b
  WHERE j.jaccard >= 0.4
)
SELECT doc_a, doc_b, jaccard, mh_estimate,
       ROUND(ABS(mh_estimate - jaccard), 4) AS abs_err
FROM est ORDER BY doc_a, doc_b
"""
    )


@register(
    "dedup_minhash_estimate_calibration",
    oracle=_mh_est_oracle(),
    tags=("ext", "dedup", "minhash", "calibration"),
    description="MinHash Jaccard estimate vs exact, per near-dup pair",
)
def dedup_minhash_estimate_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sketch calibration: for every pair with exact Jaccard ≥ 0.4,
    the MinHash estimate (matching components / k) next to the
    truth and the absolute error — the measurement that justifies
    k=8 for a 0.5-threshold dedup (estimator std ≈ √(J(1−J)/k)).
    Exact Jaccard is the expensive side and exists already as the
    shingle equi-join; the estimate is a signature join, k integer
    comparisons per pair."""
    from wilayah_aceh_etl_spark.operators import dedup as D

    docs = load_table(spark, sf_dir, "documents")
    sh = D.distinct_shingles(docs, "doc_id")
    sigs = D.minhash_signatures(sh, k=8)
    jac = D.jaccard_pairs(sh).filter(F.col("jaccard") >= 0.4)
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{s}").alias(f"a{s}") for s in range(8)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{s}").alias(f"b{s}") for s in range(8)],
    )
    matches = None
    for s in range(8):
        m = F.when(F.col(f"a{s}") == F.col(f"b{s}"), 1).otherwise(0)
        matches = m if matches is None else matches + m
    return (
        jac.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            F.round(matches / 8.0, 4).alias("mh_estimate"),
            F.round(F.abs(matches / 8.0 - F.col("jaccard")), 4).alias(
                "abs_err"
            ),
        )
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# Interval arithmetic battery
# ---------------------------------------------------------------------------


@register(
    "date_interval_arithmetic_battery",
    oracle="""
SELECT o_orderkey,
  CAST(o_orderdate + INTERVAL 90 DAY AS VARCHAR) AS plus_90d,
  CAST(o_orderdate - INTERVAL 36 HOUR AS VARCHAR) AS minus_36h,
  CAST(o_orderdate + INTERVAL 2 MONTH AS VARCHAR) AS plus_2mo,
  CAST(CAST(date_trunc('quarter', o_orderdate) AS TIMESTAMP) AS VARCHAR)
    AS quarter_start,
  CAST(last_day(CAST(o_orderdate AS DATE)) AS VARCHAR) AS month_end
FROM orders WHERE o_orderkey < 200 ORDER BY o_orderkey
""",
    tags=("sql-surface", "date", "interval"),
    description="INTERVAL arithmetic battery: day/hour/month, trunc, last_day",
)
def date_interval_arithmetic_battery(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ANSI INTERVAL arithmetic on timestamps: day and sub-day
    offsets, calendar-aware month addition (end-of-month clamping),
    quarter truncation, and month-end — the temporal-expression
    surface ETL date logic leans on. Pure projections; results
    serialized to strings so both engines' temporal types compare
    byte-identically."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 200)
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        (d + F.expr("INTERVAL 90 DAY")).cast("string").alias("plus_90d"),
        (d - F.expr("INTERVAL 36 HOUR")).cast("string").alias("minus_36h"),
        (d + F.expr("INTERVAL 2 MONTH")).cast("string").alias("plus_2mo"),
        F.date_trunc("quarter", d).cast("string").alias("quarter_start"),
        F.last_day(d).cast("string").alias("month_end"),
    ).orderBy("o_orderkey")


# ---------------------------------------------------------------------------
# Exact ROC-AUC via the Mann-Whitney rank sum
# ---------------------------------------------------------------------------


@register(
    "model_eval_roc_auc_rank_sum",
    oracle=f"""
WITH t AS (
  SELECT c.c_custkey, {_ACCT_CENTS} AS cents,
         CASE WHEN EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = c.c_custkey
                             AND o.o_orderpriority = '1-URGENT')
              THEN 1 ELSE 0 END AS y
  FROM customer c
),
ranked AS (
  SELECT y,
         RANK() OVER (ORDER BY cents) AS r_lo,
         CAST(COUNT(*) OVER (PARTITION BY cents) AS BIGINT) AS c_ties
  FROM t
),
s AS (
  SELECT CAST(SUM(y) AS BIGINT) AS n_pos,
         CAST(SUM(1 - y) AS BIGINT) AS n_neg,
         SUM(CASE WHEN y = 1
                  THEN r_lo + (c_ties - 1) / 2.0 ELSE 0 END) AS rank_sum
  FROM ranked
)
SELECT n_pos, n_neg,
  ROUND((rank_sum - n_pos * (n_pos + 1) / 2.0) / (n_pos * n_neg), 6)
    AS auc
FROM s
""",
    tags=("ext", "model-eval", "auc", "window"),
    description="exact ROC-AUC of balance→urgent-order via rank sum",
)
def model_eval_roc_auc_rank_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC without materializing the curve: the
    Mann-Whitney identity AUC = (R⁺ − n⁺(n⁺+1)/2)/(n⁺n⁻), with
    tie-corrected average ranks (rank + (ties−1)/2 — every term a
    half-integer, so the sum stays exactly representable). This is
    the model-evaluation metric computed the way a 100 TB engine
    must: one global rank (sort-based, the one wide operation), one
    aggregate — never the O(n²) pair comparison the textbook
    definition implies. Score = account balance, label = ever
    placed an URGENT order."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    urgent = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    t = (
        cust.join(urgent.withColumn("y", F.lit(1)), "c_custkey", "left")
        .select(
            _c_cents().alias("cents"),
            F.coalesce(F.col("y"), F.lit(0)).alias("y"),
        )
    )
    ranked = t.select(
        "y",
        F.rank().over(Window.orderBy("cents")).alias("r_lo"),
        F.count(F.lit(1))
        .over(Window.partitionBy("cents"))
        .alias("c_ties"),
    )
    s = ranked.agg(
        F.sum("y").alias("n_pos"),
        F.sum(F.lit(1) - F.col("y")).alias("n_neg"),
        F.sum(
            F.when(
                F.col("y") == 1,
                F.col("r_lo") + (F.col("c_ties") - 1) / 2.0,
            ).otherwise(0.0)
        ).alias("rank_sum"),
    )
    return s.select(
        "n_pos",
        "n_neg",
        F.round(
            (F.col("rank_sum") - F.col("n_pos") * (F.col("n_pos") + 1) / 2.0)
            / (F.col("n_pos") * F.col("n_neg")),
            6,
        ).alias("auc"),
    )


# ---------------------------------------------------------------------------
# Decile lift / gains table
# ---------------------------------------------------------------------------


@register(
    "model_eval_decile_lift",
    oracle=f"""
WITH t AS (
  SELECT c.c_custkey, {_ACCT_CENTS} AS cents,
         CASE WHEN EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = c.c_custkey
                             AND o.o_orderpriority = '1-URGENT')
              THEN 1 ELSE 0 END AS y
  FROM customer c
),
d AS (
  SELECT y, NTILE(10) OVER (ORDER BY cents DESC, c_custkey) AS decile
  FROM t
),
g AS (
  SELECT decile, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(y) AS BIGINT) AS n_pos
  FROM d GROUP BY decile
),
c AS (
  SELECT decile, n, n_pos,
         CAST(SUM(n) OVER (ORDER BY decile) AS BIGINT) AS cum_n,
         CAST(SUM(n_pos) OVER (ORDER BY decile) AS BIGINT) AS cum_pos,
         CAST(SUM(n) OVER () AS BIGINT) AS tot_n,
         CAST(SUM(n_pos) OVER () AS BIGINT) AS tot_pos
  FROM g
)
SELECT CAST(decile AS INTEGER) AS decile, n, n_pos,
  ROUND(CAST(cum_pos AS DOUBLE) / tot_pos, 6) AS cum_capture,
  ROUND((CAST(cum_pos AS DOUBLE) / cum_n)
        / (CAST(tot_pos AS DOUBLE) / tot_n), 6) AS cum_lift
FROM c ORDER BY decile
""",
    tags=("ext", "model-eval", "lift", "window"),
    description="decile gains table: capture and cumulative lift",
)
def model_eval_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decile lift/gains table — the campaign-targeting readout
    of a scored population: rank by score, cut into deciles, and
    report each prefix's capture rate and lift over the base rate.
    One ranking window (with a full tie-break so decile edges are
    deterministic), one 10-row aggregate, two running sums over 10
    rows; every ratio divides exact BIGINTs."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    urgent = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    t = (
        cust.join(urgent.withColumn("y", F.lit(1)), "c_custkey", "left")
        .select(
            "c_custkey",
            _c_cents().alias("cents"),
            F.coalesce(F.col("y"), F.lit(0)).alias("y"),
        )
    )
    d = t.select(
        "y",
        F.ntile(10)
        .over(Window.orderBy(F.col("cents").desc(), F.col("c_custkey")))
        .alias("decile"),
    )
    g = d.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("n_pos")
    )
    wo = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    c = g.select(
        "decile",
        "n",
        "n_pos",
        F.sum("n").over(wo).alias("cum_n"),
        F.sum("n_pos").over(wo).alias("cum_pos"),
        F.sum("n").over(wall).alias("tot_n"),
        F.sum("n_pos").over(wall).alias("tot_pos"),
    )
    return c.select(
        F.col("decile").cast("int").alias("decile"),
        "n",
        "n_pos",
        F.round(F.col("cum_pos").cast("double") / F.col("tot_pos"), 6).alias(
            "cum_capture"
        ),
        F.round(
            (F.col("cum_pos").cast("double") / F.col("cum_n"))
            / (F.col("tot_pos").cast("double") / F.col("tot_n")),
            6,
        ).alias("cum_lift"),
    ).orderBy("decile")


# ---------------------------------------------------------------------------
# Brier score + calibration bins, integer-exact
# ---------------------------------------------------------------------------


@register(
    "model_eval_calibration_bins",
    oracle=f"""
WITH t AS (
  SELECT c.c_custkey, {_ACCT_CENTS} AS cents,
         CASE WHEN EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = c.c_custkey
                             AND o.o_orderpriority = '1-URGENT')
              THEN 1 ELSE 0 END AS y
  FROM customer c
),
r AS (
  SELECT y,
         ROW_NUMBER() OVER (ORDER BY cents, c_custkey) - 1 AS r0,
         CAST(COUNT(*) OVER () AS BIGINT) - 1 AS nm1
  FROM t
),
b AS (
  SELECT y, r0, nm1,
         LEAST(CAST((10 * r0) // nm1 AS BIGINT), 9) AS bin,
         (r0 - y * nm1) * (r0 - y * nm1) AS sq_num
  FROM r
)
SELECT CAST(bin AS INTEGER) AS bin,
  CAST(COUNT(*) AS BIGINT) AS n,
  ROUND(CAST(SUM(r0) AS DOUBLE) / COUNT(*) / MAX(nm1), 6) AS avg_score,
  ROUND(CAST(SUM(y) AS DOUBLE) / COUNT(*), 6) AS frac_pos,
  ROUND(CAST(SUM(sq_num) AS DOUBLE) / (MAX(nm1) * MAX(nm1))
        / COUNT(*), 6) AS brier_bin
FROM b GROUP BY bin ORDER BY bin
""",
    tags=("ext", "model-eval", "calibration", "window"),
    description="calibration bins + per-bin Brier, integer-exact",
)
def model_eval_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration-curve bins with per-bin Brier scores for the
    rank-derived score p = r/(n−1): each Brier term expands to
    (r − y(n−1))²/(n−1)² whose NUMERATOR is an exact integer — the
    whole calibration table reduces to integer sums divided once at
    the end, sidestepping float-accumulation nondeterminism
    entirely. Binning uses integer division (10r // (n−1)), so bin
    edges cannot flap on a float boundary either."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    urgent = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    t = (
        cust.join(urgent.withColumn("y", F.lit(1)), "c_custkey", "left")
        .select(
            "c_custkey",
            _c_cents().alias("cents"),
            F.coalesce(F.col("y"), F.lit(0)).alias("y"),
        )
    )
    wr = Window.orderBy(F.col("cents").asc(), F.col("c_custkey").asc())
    wall = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    r = t.select(
        "y",
        (F.row_number().over(wr) - 1).cast("long").alias("r0"),
        (F.count(F.lit(1)).over(wall) - 1).cast("long").alias("nm1"),
    )
    sq_num = (F.col("r0") - F.col("y") * F.col("nm1")) * (
        F.col("r0") - F.col("y") * F.col("nm1")
    )
    b = r.select(
        "y",
        "r0",
        "nm1",
        F.least(
            F.expr("(10 * r0) div nm1").cast("long"), F.lit(9)
        ).alias("bin"),
        sq_num.alias("sq_num"),
    )
    return (
        b.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum("r0").cast("double")
                / F.count(F.lit(1))
                / F.max("nm1"),
                6,
            ).alias("avg_score"),
            F.round(
                F.sum("y").cast("double") / F.count(F.lit(1)), 6
            ).alias("frac_pos"),
            F.round(
                F.sum("sq_num").cast("double")
                / (F.max("nm1") * F.max("nm1"))
                / F.count(F.lit(1)),
                6,
            ).alias("brier_bin"),
        )
        .select(
            F.col("bin").cast("int").alias("bin"),
            "n",
            "avg_score",
            "frac_pos",
            "brier_bin",
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# Event-time RANGE frame with a calendar INTERVAL bound
# ---------------------------------------------------------------------------


@register(
    "window_range_interval_frame",
    oracle="""
SELECT event_id, user_id,
  CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER (
    PARTITION BY user_id ORDER BY ts
    RANGE BETWEEN INTERVAL 3 DAY PRECEDING AND CURRENT ROW
  ) AS BIGINT) AS cents_3d,
  CAST(COUNT(*) OVER (
    PARTITION BY user_id ORDER BY ts
    RANGE BETWEEN INTERVAL 3 DAY PRECEDING AND CURRENT ROW
  ) AS BIGINT) AS n_3d
FROM events WHERE user_id < 5
ORDER BY event_id
""",
    tags=("sql-surface", "window", "range-interval", "events"),
    description="RANGE frame bounded by a calendar INTERVAL (3 days)",
)
def window_range_interval_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time RANGE frame with a calendar INTERVAL bound — the
    declarative form of a trailing-3-day rolling aggregate, written
    directly over the timestamp order instead of hand-converting to
    epoch numbers (events_rolling_1h_user_window shows the numeric
    spelling; this pins the INTERVAL spelling both engines parse
    natively). One shuffle on user_id; the frame is evaluated with
    a sliding two-pointer pass per partition."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(
        """
        SELECT event_id, user_id,
          SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER (
            PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP)
            RANGE BETWEEN INTERVAL 3 DAY PRECEDING AND CURRENT ROW
          ) AS cents_3d,
          COUNT(*) OVER (
            PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP)
            RANGE BETWEEN INTERVAL 3 DAY PRECEDING AND CURRENT ROW
          ) AS n_3d
        FROM events WHERE user_id < 5
        ORDER BY event_id
        """
    )


# ---------------------------------------------------------------------------
# ORDER BY ... NULLS FIRST / LAST battery
# ---------------------------------------------------------------------------


@register(
    "sort_nulls_placement_battery",
    oracle="""
WITH t AS (
  SELECT event_id, user_id,
         CASE WHEN event_type = 'error' THEN NULL
              ELSE ROUND(value, 2) END AS v
  FROM events WHERE user_id < 3
)
SELECT event_id, user_id, v,
  ROW_NUMBER() OVER (ORDER BY v ASC NULLS FIRST, event_id)
    AS rk_nulls_first,
  ROW_NUMBER() OVER (ORDER BY v DESC NULLS LAST, event_id)
    AS rk_desc_nulls_last
FROM t
ORDER BY event_id
""",
    tags=("sql-surface", "sort", "nulls"),
    description="explicit NULLS FIRST/LAST placement in rankings",
)
def sort_nulls_placement_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit null placement in sort orders — the engines disagree
    by DEFAULT (Spark: nulls first on ASC; standard SQL engines
    often last), so portable ranking logic must spell it out. Two
    ranking windows pin ASC NULLS FIRST and DESC NULLS LAST; a
    unique tie-break keeps every rank reproducible."""
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 3)
    v = F.when(
        F.col("event_type") != "error", F.round(F.col("value"), 2)
    )
    t = e.select("event_id", "user_id", v.alias("v"))
    w1 = Window.orderBy(F.col("v").asc_nulls_first(), F.col("event_id"))
    w2 = Window.orderBy(F.col("v").desc_nulls_last(), F.col("event_id"))
    return t.select(
        "event_id",
        "user_id",
        "v",
        F.row_number().over(w1).alias("rk_nulls_first"),
        F.row_number().over(w2).alias("rk_desc_nulls_last"),
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# Array set-operation battery (order-normalized)
# ---------------------------------------------------------------------------


@register(
    "array_setops_battery",
    oracle="""
WITH t AS (
  SELECT o_orderkey,
         string_split(o_orderpriority, '-') AS a,
         string_split(o_orderstatus || '-' ||
                      o_orderpriority[1:1], '-') AS b
  FROM orders WHERE o_orderkey < 100
)
SELECT o_orderkey,
  array_to_string(list_sort(list_distinct(list_cat(a, b))), ',')
    AS union_ab,
  array_to_string(list_sort(list_distinct(
    list_filter(a, x -> list_contains(b, x)))), ',') AS intersect_ab,
  array_to_string(list_sort(list_distinct(
    list_filter(a, x -> NOT list_contains(b, x)))), ',') AS except_ab,
  CAST(len(list_distinct(list_cat(a, b))) AS BIGINT) AS n_union,
  list_contains(a, b[1]) AS overlaps_first
FROM t ORDER BY o_orderkey
""",
    tags=("sql-surface", "array", "setops"),
    description="array union/intersect/except, order-normalized",
)
def array_setops_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-typed set algebra: union, intersection, difference,
    distinct cardinality, and membership — the collection operations
    multi-valued columns need (tags, token sets). Engines order
    set-op results differently, so every array result is
    array_sort-normalized and string-serialized before comparison — the same
    canonicalization a correct test suite applies to any set-valued
    output."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 100)
    t = o.select(
        "o_orderkey",
        F.split("o_orderpriority", "-").alias("a"),
        F.split(
            F.concat(
                F.col("o_orderstatus"),
                F.lit("-"),
                F.substring("o_orderpriority", 1, 1),
            ),
            "-",
        ).alias("b"),
    )
    return t.select(
        "o_orderkey",
        F.array_join(F.array_sort(F.array_union("a", "b")), ",").alias(
            "union_ab"
        ),
        F.array_join(
            F.array_sort(F.array_intersect("a", "b")), ","
        ).alias("intersect_ab"),
        F.array_join(F.array_sort(F.array_except("a", "b")), ",").alias(
            "except_ab"
        ),
        F.size(F.array_union("a", "b")).cast("long").alias("n_union"),
        F.array_contains("a", F.element_at("b", 1)).alias("overlaps_first"),
    ).orderBy("o_orderkey")


# ---------------------------------------------------------------------------
# Fixed-frequency periodogram with literal trig tables (libm-free)
# ---------------------------------------------------------------------------


def _trig_case(col: str, period: int, fn: str) -> str:
    """CASE expression mapping (t mod P) to a literal cos/sin value.

    The literals are formatted with repr() so BOTH engines multiply
    by the exact same doubles — no dependence on libm agreement
    between the JVM and DuckDB."""
    import math

    vals = [
        getattr(math, fn)(2.0 * math.pi * k / period) for k in range(period)
    ]
    branches = " ".join(
        f"WHEN {k} THEN CAST({v!r} AS DOUBLE)" for k, v in enumerate(vals)
    )
    return f"(CASE ({col}) % {period} {branches} END)"


def _periodogram_oracle() -> str:
    rows = []
    for period in (7, 30):
        c = _trig_case("t", period, "cos")
        s = _trig_case("t", period, "sin")
        rows.append(
            f"""
SELECT event_type, {period} AS period,
       ROUND((SUM(y * {c}) * SUM(y * {c})
              + SUM(y * {s}) * SUM(y * {s}))
             / (COUNT(*) * COUNT(*)), 3) AS power
FROM idx GROUP BY event_type"""
        )
    return (
        """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
idx AS (
  SELECT event_type, y,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) - 1
           AS t
  FROM daily
)
SELECT * FROM ("""
        + " UNION ALL ".join(f"({r})" for r in rows)
        + ") ORDER BY event_type, period"
    )


@register(
    "events_periodogram_fixed_freqs",
    oracle=_periodogram_oracle(),
    tags=("events", "timeseries", "spectral"),
    description="DFT power at 7-day and 30-day periods per event type",
)
def events_periodogram_fixed_freqs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Coarse periodogram: the DFT power of the daily-count series
    at the weekly and monthly frequencies — the spectral test for
    seasonality that complements the time-domain ACF
    (events_autocorrelation_acf). Trig coefficients are emitted as
    LITERAL doubles into both engines' expressions (t mod P has
    only P distinct angles), so the computation never touches
    libm and the only float work is a short dot product per
    (type, frequency)."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("y"))
    idx = daily.select(
        "event_type",
        "y",
        (
            F.row_number().over(
                Window.partitionBy("event_type").orderBy("day")
            )
            - 1
        ).alias("t"),
    )
    outs = []
    for period in (7, 30):
        c = F.expr(_trig_case("t", period, "cos"))
        s = F.expr(_trig_case("t", period, "sin"))
        outs.append(
            idx.groupBy("event_type").agg(
                F.lit(period).alias("period"),
                F.round(
                    (
                        F.sum(F.col("y") * c) * F.sum(F.col("y") * c)
                        + F.sum(F.col("y") * s) * F.sum(F.col("y") * s)
                    )
                    / (F.count(F.lit(1)) * F.count(F.lit(1))),
                    3,
                ).alias("power"),
            )
        )
    return outs[0].unionByName(outs[1]).orderBy("event_type", "period")


# ---------------------------------------------------------------------------
# Pettitt changepoint test (rank-based, midrank tie handling)
# ---------------------------------------------------------------------------


@register(
    "events_pettitt_changepoint",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
ranked AS (
  SELECT event_type, day,
         RANK() OVER (PARTITION BY event_type ORDER BY y)
           + (CAST(COUNT(*) OVER (PARTITION BY event_type, y) AS BIGINT)
              - 1) / 2.0 AS r,
         CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS t
  FROM daily
),
u AS (
  SELECT event_type, day, t, n,
         2.0 * SUM(r) OVER (PARTITION BY event_type ORDER BY t
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW)
           - t * (n + 1) AS u_t
  FROM ranked WHERE t < n
),
best AS (
  SELECT event_type, day, u_t, n,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY ABS(u_t) DESC, day) AS rk
  FROM u
)
SELECT event_type, CAST(day AS VARCHAR) AS change_day,
       ROUND(ABS(u_t), 1) AS k_stat,
       ROUND(2 * exp(-6.0 * u_t * u_t / (n * n * n + n * n)), 6)
         AS p_approx
FROM best WHERE rk = 1 ORDER BY event_type
""",
    tags=("events", "timeseries", "changepoint", "rank"),
    description="Pettitt rank changepoint (midrank variant) per type",
)
def events_pettitt_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pettitt's nonparametric changepoint test on the daily count
    series: U_t = 2·Σ_{i≤t} r_i − t(n+1) over midranks, the split
    point maximizing |U_t|, and the closed-form significance
    approximation — the rank-based complement to the CUSUM
    changepoint (events_changepoint_cusum), robust to outliers by
    construction. Midranks keep every term a half-integer (exactly
    representable), one ranking + one running sum per series."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("y"))
    wr = Window.partitionBy("event_type").orderBy("y")
    wt = Window.partitionBy("event_type", "y")
    wn = Window.partitionBy("event_type")
    wo = Window.partitionBy("event_type").orderBy("day")
    ranked = daily.select(
        "event_type",
        "day",
        (
            F.rank().over(wr)
            + (F.count(F.lit(1)).over(wt) - 1) / 2.0
        ).alias("r"),
        F.count(F.lit(1)).over(wn).alias("n"),
        F.row_number().over(wo).alias("t"),
    )
    wrun = (
        Window.partitionBy("event_type")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    u = ranked.filter(F.col("t") < F.col("n")).select(
        "event_type",
        "day",
        "n",
        (
            F.lit(2.0) * F.sum("r").over(wrun)
            - F.col("t") * (F.col("n") + 1)
        ).alias("u_t"),
    )
    wb = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("u_t")).desc(), F.col("day").asc()
    )
    return (
        u.withColumn("rk", F.row_number().over(wb))
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("day").cast("string").alias("change_day"),
            F.round(F.abs(F.col("u_t")), 1).alias("k_stat"),
            F.round(
                2
                * F.exp(
                    F.lit(-6.0)
                    * F.col("u_t")
                    * F.col("u_t")
                    / (
                        F.col("n") * F.col("n") * F.col("n")
                        + F.col("n") * F.col("n")
                    )
                ),
                6,
            ).alias("p_approx"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Additive seasonal decomposition (exact-sevenths arithmetic)
# ---------------------------------------------------------------------------


@register(
    "events_seasonal_additive_dow",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
ma AS (
  SELECT event_type, day, y,
         CAST(SUM(y) OVER (PARTITION BY event_type ORDER BY day
              ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS s7,
         CAST(COUNT(*) OVER (PARTITION BY event_type ORDER BY day
              ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS c7,
         dayofweek(day) + 1 AS dow
  FROM daily
),
detr AS (
  SELECT event_type, dow, 7 * y - s7 AS detr7
  FROM ma WHERE c7 = 7
)
SELECT event_type, CAST(dow AS INTEGER) AS dow,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       ROUND(CAST(SUM(detr7) AS DOUBLE) / (7 * COUNT(*)), 4)
         AS seasonal_add
FROM detr GROUP BY event_type, dow
ORDER BY event_type, dow
""",
    tags=("events", "timeseries", "seasonal", "window"),
    description="additive day-of-week seasonal components per type",
)
def events_seasonal_additive_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal decomposition (the additive twin of the
    ratio-to-MA multiplicative indices): detrend with a centered
    7-day moving average, average the residual per day-of-week.
    Worked entirely in SEVENTHS — detr7 = 7y − Σ₇y is an exact
    integer, so the per-DOW mean is one exact sum divided once;
    no float accumulates across rows. Interior days only (full
    7-day window), one shuffle for the daily aggregate, the
    windows reuse its partitioning."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("y"))
    w7 = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-3, 3)
    )
    ma = daily.select(
        "event_type",
        F.dayofweek("day").alias("dow"),
        F.col("y"),
        F.sum("y").over(w7).alias("s7"),
        F.count(F.lit(1)).over(w7).alias("c7"),
    )
    detr = ma.filter(F.col("c7") == 7).select(
        "event_type", "dow", (7 * F.col("y") - F.col("s7")).alias("detr7")
    )
    return (
        detr.groupBy("event_type", "dow")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.round(
                F.sum("detr7").cast("double") / (7 * F.count(F.lit(1))), 4
            ).alias("seasonal_add"),
        )
        .select(
            "event_type",
            F.col("dow").cast("int").alias("dow"),
            "n_days",
            "seasonal_add",
        )
        .orderBy("event_type", "dow")
    )


# ---------------------------------------------------------------------------
# Simpson's-paradox audit: aggregate vs per-group regression signs
# ---------------------------------------------------------------------------

_BPS = "CAST(ROUND(l_discount * 10000) AS BIGINT)"
_QTY = "CAST(ROUND(l_quantity) AS BIGINT)"


@register(
    "lineitem_simpson_paradox_audit",
    oracle=f"""
WITH g AS (
  SELECT l_returnflag AS grp,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM({_BPS}) AS BIGINT) AS sx,
         CAST(SUM({_QTY}) AS BIGINT) AS sy,
         CAST(SUM({_BPS} * {_QTY}) AS BIGINT) AS sxy,
         CAST(SUM({_BPS} * {_BPS}) AS BIGINT) AS sxx
  FROM lineitem GROUP BY l_returnflag
),
a AS (
  SELECT 'ALL' AS grp, CAST(SUM(n) AS BIGINT) AS n,
         CAST(SUM(sx) AS BIGINT) AS sx, CAST(SUM(sy) AS BIGINT) AS sy,
         CAST(SUM(sxy) AS BIGINT) AS sxy, CAST(SUM(sxx) AS BIGINT) AS sxx
  FROM g
),
u AS (SELECT * FROM g UNION ALL SELECT * FROM a),
sl AS (
  SELECT grp, n,
    (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
    / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) AS slope
  FROM u
),
ov AS (SELECT slope AS all_slope FROM sl WHERE grp = 'ALL')
SELECT sl.grp, sl.n, ROUND(sl.slope * 10000, 6) AS slope_per_unit,
       (sl.grp != 'ALL')
         AND ((sl.slope > 0) != (ov.all_slope > 0)) AS sign_flips
FROM sl CROSS JOIN ov ORDER BY sl.grp
""",
    tags=("stats", "regression", "simpson", "audit"),
    description="Simpson audit: discount→quantity slope, ALL vs groups",
)
def lineitem_simpson_paradox_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Simpson's-paradox audit: the OLS slope of quantity on
    discount computed for the whole table AND per return flag, with
    a flag marking any group whose slope sign contradicts the
    aggregate — the confounding check a feature pipeline should run
    before trusting a pooled correlation. One pass of exact integer
    moments per group; the 'ALL' row is the SUM of the group
    moments (free), not a second scan."""
    li = load_table(spark, sf_dir, "lineitem")
    bps = F.round(F.col("l_discount") * 10000).cast("long")
    qty = F.round(F.col("l_quantity")).cast("long")
    g = li.groupBy(F.col("l_returnflag").alias("grp")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(bps).alias("sx"),
        F.sum(qty).alias("sy"),
        F.sum(bps * qty).alias("sxy"),
        F.sum(bps * bps).alias("sxx"),
    )
    a = g.agg(
        F.lit("ALL").alias("grp"),
        F.sum("n").alias("n"),
        F.sum("sx").alias("sx"),
        F.sum("sy").alias("sy"),
        F.sum("sxy").alias("sxy"),
        F.sum("sxx").alias("sxx"),
    )
    u = g.unionByName(a)
    slope = (
        F.col("n").cast("double") * F.col("sxy")
        - F.col("sx").cast("double") * F.col("sy")
    ) / (
        F.col("n").cast("double") * F.col("sxx")
        - F.col("sx").cast("double") * F.col("sx")
    )
    sl = u.select("grp", "n", slope.alias("slope"))
    ov = sl.filter(F.col("grp") == "ALL").select(
        F.col("slope").alias("all_slope")
    )
    return (
        sl.crossJoin(F.broadcast(ov))
        .select(
            "grp",
            "n",
            F.round(F.col("slope") * 10000, 6).alias("slope_per_unit"),
            (
                (F.col("grp") != "ALL")
                & ((F.col("slope") > 0) != (F.col("all_slope") > 0))
            ).alias("sign_flips"),
        )
        .orderBy("grp")
    )


# ---------------------------------------------------------------------------
# Inter-arrival exponential-fit audit (Poissonness check)
# ---------------------------------------------------------------------------


@register(
    "events_interarrival_exponential_audit",
    oracle="""
WITH seq AS (
  SELECT event_type,
         CAST(floor(epoch(ts)) AS BIGINT)
           - LAG(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
               PARTITION BY event_type ORDER BY ts, event_id) AS gap_s
  FROM events
),
g AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(gap_s) AS BIGINT) AS s,
         CAST(SUM(gap_s * gap_s) AS BIGINT) AS ss
  FROM seq WHERE gap_s IS NOT NULL
  GROUP BY event_type
)
SELECT event_type, n AS n_gaps,
  ROUND(CAST(s AS DOUBLE) / n, 2) AS mean_gap_s,
  ROUND(sqrt((ss - CAST(s AS DOUBLE) * s / n) / (n - 1))
        / (CAST(s AS DOUBLE) / n), 4) AS cv
FROM g ORDER BY event_type
""",
    tags=("events", "timeseries", "poisson", "audit"),
    description="inter-arrival mean and CV per type (CV≈1 ⇒ Poisson)",
)
def events_interarrival_exponential_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Poisson-process audit: per event type, the mean inter-arrival
    gap and its coefficient of variation — CV ≈ 1 is the signature
    of exponential gaps (memoryless arrivals); CV ≫ 1 flags
    burstiness (cross-check: events_burst_peaks). Gaps come from
    one LAG over the per-type time order; mean and CV from exact
    second-granularity integer moments."""
    e = load_table(spark, sf_dir, "events")
    sec = F.unix_timestamp(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", (sec - F.lag(sec).over(w)).alias("gap_s")
    ).filter(F.col("gap_s").isNotNull())
    g = seq.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("gap_s").alias("s"),
        F.sum(F.col("gap_s") * F.col("gap_s")).alias("ss"),
    )
    mean = F.col("s").cast("double") / F.col("n")
    std = F.sqrt(
        (F.col("ss") - F.col("s").cast("double") * F.col("s") / F.col("n"))
        / (F.col("n") - 1)
    )
    return g.select(
        "event_type",
        F.col("n").alias("n_gaps"),
        F.round(mean, 2).alias("mean_gap_s"),
        F.round(std / mean, 4).alias("cv"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# PSI drift monitor (population stability index over decile bins)
# ---------------------------------------------------------------------------


@register(
    "events_drift_psi_value",
    oracle="""
WITH split AS (
  SELECT MIN(ts) + INTERVAL 15 DAY AS cutoff FROM events
),
ref AS (
  SELECT e.value FROM events e CROSS JOIN split s WHERE e.ts < s.cutoff
),
cur AS (
  SELECT e.value FROM events e CROSS JOIN split s WHERE e.ts >= s.cutoff
),
edges AS (
  SELECT """
    + ", ".join(
        f"quantile_disc(value, {k / 10}) AS e{k}" for k in range(1, 10)
    )
    + """
  FROM ref
),
rb AS (
  SELECT ("""
    + " + ".join(f"(CASE WHEN r.value > e.e{k} THEN 1 ELSE 0 END)"
                 for k in range(1, 10))
    + """) AS bin, CAST(COUNT(*) AS BIGINT) AS c
  FROM ref r CROSS JOIN edges e GROUP BY 1
),
cb AS (
  SELECT ("""
    + " + ".join(f"(CASE WHEN c.value > e.e{k} THEN 1 ELSE 0 END)"
                 for k in range(1, 10))
    + """) AS bin, CAST(COUNT(*) AS BIGINT) AS c
  FROM cur c CROSS JOIN edges e GROUP BY 1
),
tot AS (
  SELECT (SELECT CAST(SUM(c) AS BIGINT) FROM rb) AS nr,
         (SELECT CAST(SUM(c) AS BIGINT) FROM cb) AS nc
)
SELECT CAST(rb.bin AS INTEGER) AS bin, rb.c AS n_ref,
       COALESCE(cb.c, 0) AS n_cur,
       ROUND((CAST(rb.c + 1 AS DOUBLE) / (t.nr + 10)
              - CAST(COALESCE(cb.c, 0) + 1 AS DOUBLE) / (t.nc + 10))
             * ln((CAST(rb.c + 1 AS DOUBLE) / (t.nr + 10))
                  / (CAST(COALESCE(cb.c, 0) + 1 AS DOUBLE)
                     / (t.nc + 10))), 6) AS psi_part
FROM rb LEFT JOIN cb ON cb.bin = rb.bin CROSS JOIN tot t
ORDER BY bin
""",
    tags=("ext", "monitoring", "drift", "psi"),
    description="PSI of the value distribution, first vs second half",
)
def events_drift_psi_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index — the standard production-ML
    drift monitor: decile bins fitted on the reference window
    (first 15 days), bin shares compared against the current
    window with Laplace smoothing, PSI contribution per bin.
    The nine decile edges are DISCRETE (actual data values, so
    both engines cut identically) and travel as a 1-row broadcast;
    each window then needs only one scan + one 10-row aggregate —
    the shape that keeps a drift monitor cheap enough to run on
    every ingest batch at 100 TB."""
    e = load_table(spark, sf_dir, "events")
    split = e.agg(
        (F.min("ts") + F.expr("INTERVAL 15 DAY")).alias("cutoff")
    )
    with_split = e.crossJoin(F.broadcast(split))
    ref = with_split.filter(F.col("ts") < F.col("cutoff")).select("value")
    cur = with_split.filter(F.col("ts") >= F.col("cutoff")).select("value")
    edges = ref.agg(
        *[
            F.expr(f"percentile_disc({k / 10}) WITHIN GROUP (ORDER BY value)")
            .alias(f"e{k}")
            for k in range(1, 10)
        ]
    )

    def binned(df: DataFrame) -> DataFrame:
        bin_expr = None
        for k in range(1, 10):
            term = F.when(F.col("value") > F.col(f"e{k}"), 1).otherwise(0)
            bin_expr = term if bin_expr is None else bin_expr + term
        return (
            df.crossJoin(F.broadcast(edges))
            .select(bin_expr.alias("bin"))
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias("c"))
        )

    rb = binned(ref)
    cb = binned(cur)
    nr = rb.agg(F.sum("c").alias("nr"))
    nc = cb.agg(F.sum("c").alias("nc"))
    j = (
        rb.select(F.col("bin"), F.col("c").alias("n_ref"))
        .join(
            cb.select(F.col("bin"), F.col("c").alias("n_cur")),
            "bin",
            "left",
        )
        .withColumn("n_cur", F.coalesce(F.col("n_cur"), F.lit(0)))
        .crossJoin(F.broadcast(nr))
        .crossJoin(F.broadcast(nc))
    )
    p = (F.col("n_ref") + 1).cast("double") / (F.col("nr") + 10)
    q = (F.col("n_cur") + 1).cast("double") / (F.col("nc") + 10)
    return (
        j.select(
            F.col("bin").cast("int").alias("bin"),
            "n_ref",
            "n_cur",
            F.round((p - q) * F.log(p / q), 6).alias("psi_part"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# Weekly Jensen-Shannon divergence of the event-type mix
# ---------------------------------------------------------------------------


@register(
    "events_drift_js_weekly_mix",
    oracle="""
WITH base AS (
  SELECT event_type,
         CAST(date_diff('day', (SELECT CAST(MIN(ts) AS DATE) FROM events),
                        CAST(ts AS DATE)) // 7 AS BIGINT) AS week
  FROM events
),
c AS (
  SELECT week, event_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM base GROUP BY 1, 2
),
tot AS (SELECT week, CAST(SUM(n) AS BIGINT) AS nt FROM c GROUP BY week),
p AS (
  SELECT c.week, c.event_type,
         CAST(c.n + 1 AS DOUBLE) / (t.nt + 5) AS pr
  FROM c JOIN tot t USING (week)
),
ref AS (SELECT event_type, pr AS p0 FROM p WHERE week = 0),
pairs AS (
  SELECT p.week, p.event_type, p.pr, r.p0,
         (p.pr + r.p0) / 2 AS m
  FROM p JOIN ref r USING (event_type) WHERE p.week > 0
)
SELECT CAST(week AS INTEGER) AS week,
  ROUND(SUM(0.5 * pr * ln(pr / m) + 0.5 * p0 * ln(p0 / m)), 6)
    AS js_divergence
FROM pairs GROUP BY week ORDER BY week
""",
    tags=("ext", "monitoring", "drift", "js-divergence"),
    description="weekly JS divergence of event-type mix vs week 0",
)
def events_drift_js_weekly_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical drift monitor: the Jensen-Shannon divergence of
    each week's event-type mix against week 0 — symmetric, bounded,
    and zero-safe (Laplace-smoothed shares), the complement of the
    numeric PSI monitor. The mix table is a tiny
    (weeks × types) aggregate; everything after is arithmetic over
    ≤5 terms per week, so ordering effects are confined far below
    the display rounding."""
    e = load_table(spark, sf_dir, "events")
    min_day = e.agg(F.min(F.col("ts").cast("date")).alias("d0"))
    base = e.crossJoin(F.broadcast(min_day)).select(
        "event_type",
        F.floor(
            F.datediff(F.col("ts").cast("date"), F.col("d0")) / 7
        ).alias("week"),
    )
    c = base.groupBy("week", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = c.groupBy("week").agg(F.sum("n").alias("nt"))
    p = c.join(tot, "week").select(
        "week",
        "event_type",
        ((F.col("n") + 1).cast("double") / (F.col("nt") + 5)).alias("pr"),
    )
    ref = p.filter(F.col("week") == 0).select(
        "event_type", F.col("pr").alias("p0")
    )
    pairs = (
        p.filter(F.col("week") > 0)
        .join(F.broadcast(ref), "event_type")
        .withColumn("m", (F.col("pr") + F.col("p0")) / 2)
    )
    term = F.lit(0.5) * F.col("pr") * F.log(
        F.col("pr") / F.col("m")
    ) + F.lit(0.5) * F.col("p0") * F.log(F.col("p0") / F.col("m"))
    return (
        pairs.groupBy("week")
        .agg(F.round(F.sum(term), 6).alias("js_divergence"))
        .select(F.col("week").cast("int").alias("week"), "js_divergence")
        .orderBy("week")
    )


# ---------------------------------------------------------------------------
# ABC-XYZ inventory classification matrix
# ---------------------------------------------------------------------------


@register(
    "lineitem_abc_xyz_matrix",
    oracle=f"""
WITH rev AS (
  SELECT l_partkey, CAST(SUM({_EP_CENTS}) AS BIGINT) AS cents
  FROM lineitem GROUP BY l_partkey
),
abc AS (
  SELECT l_partkey,
    CASE WHEN CAST(SUM(cents) OVER (ORDER BY cents DESC, l_partkey)
              AS DOUBLE) / (SELECT SUM(cents) FROM rev) <= 0.8 THEN 'A'
         WHEN CAST(SUM(cents) OVER (ORDER BY cents DESC, l_partkey)
              AS DOUBLE) / (SELECT SUM(cents) FROM rev) <= 0.95 THEN 'B'
         ELSE 'C' END AS abc_class
  FROM rev
),
mon AS (
  SELECT l_partkey, date_trunc('month', l_shipdate) AS m,
         CAST(SUM({_QTY}) AS BIGINT) AS q
  FROM lineitem GROUP BY 1, 2
),
xyz AS (
  SELECT l_partkey,
    CASE WHEN COUNT(*) < 2 THEN 'Z'
         WHEN sqrt((SUM(q * q) - CAST(SUM(q) AS DOUBLE) * SUM(q)
                    / COUNT(*)) / (COUNT(*) - 1))
              / (CAST(SUM(q) AS DOUBLE) / COUNT(*)) < 0.5 THEN 'X'
         WHEN sqrt((SUM(q * q) - CAST(SUM(q) AS DOUBLE) * SUM(q)
                    / COUNT(*)) / (COUNT(*) - 1))
              / (CAST(SUM(q) AS DOUBLE) / COUNT(*)) < 1.0 THEN 'Y'
         ELSE 'Z' END AS xyz_class
  FROM mon GROUP BY l_partkey
)
SELECT a.abc_class, x.xyz_class,
       CAST(COUNT(*) AS BIGINT) AS n_parts
FROM abc a JOIN xyz x USING (l_partkey)
GROUP BY 1, 2 ORDER BY 1, 2
""",
    tags=("analytics", "abc-xyz", "inventory", "window"),
    description="ABC (revenue share) × XYZ (demand CV) part matrix",
)
def lineitem_abc_xyz_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ABC-XYZ inventory matrix: parts classed by cumulative
    revenue share (A ≤80%, B ≤95%, C rest — the Pareto cut of
    abc_part_classification) crossed with demand-variability
    classes from the monthly-quantity coefficient of variation
    (X <0.5, Y <1, Z rest — from exact integer moments). Two
    aggregates + one ranked running sum + one join; the 3×3 output
    is the planning table supply-chain teams actually read."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    qty = F.round(F.col("l_quantity")).cast("long")
    rev = li.groupBy("l_partkey").agg(F.sum(cents).alias("cents"))
    tot = rev.agg(F.sum("cents").alias("tot"))
    wc = Window.orderBy(F.col("cents").desc(), F.col("l_partkey"))
    abc = (
        rev.crossJoin(F.broadcast(tot))
        .withColumn(
            "share",
            F.sum("cents").over(wc).cast("double") / F.col("tot"),
        )
        .select(
            "l_partkey",
            F.when(F.col("share") <= 0.8, "A")
            .when(F.col("share") <= 0.95, "B")
            .otherwise("C")
            .alias("abc_class"),
        )
    )
    mon = li.groupBy(
        "l_partkey", F.date_trunc("month", "l_shipdate").alias("m")
    ).agg(F.sum(qty).alias("q"))
    n = F.count(F.lit(1))
    s = F.sum("q")
    ss = F.sum(F.col("q") * F.col("q"))
    cv = F.sqrt(
        (ss - s.cast("double") * s / n) / (n - 1)
    ) / (s.cast("double") / n)
    xyz = mon.groupBy("l_partkey").agg(
        F.when(n < 2, "Z")
        .when(cv < 0.5, "X")
        .when(cv < 1.0, "Y")
        .otherwise("Z")
        .alias("xyz_class")
    )
    return (
        abc.join(xyz, "l_partkey")
        .groupBy("abc_class", "xyz_class")
        .agg(F.count(F.lit(1)).alias("n_parts"))
        .orderBy("abc_class", "xyz_class")
    )


# ---------------------------------------------------------------------------
# Lagged feature-store table (forecasting features)
# ---------------------------------------------------------------------------


@register(
    "feature_store_customer_monthly",
    oracle=f"""
WITH mon AS (
  SELECT o_custkey, date_trunc('month', o_orderdate) AS m,
         CAST(SUM({_CENTS}) AS BIGINT) AS spend
  FROM orders WHERE o_custkey < 50 GROUP BY 1, 2
),
feat AS (
  SELECT o_custkey, m, spend,
    LAG(spend, 1) OVER (PARTITION BY o_custkey ORDER BY m) AS lag1,
    LAG(spend, 2) OVER (PARTITION BY o_custkey ORDER BY m) AS lag2,
    CAST(SUM(spend) OVER (PARTITION BY o_custkey ORDER BY m
         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS s3,
    CAST(COUNT(*) OVER (PARTITION BY o_custkey ORDER BY m
         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS c3
  FROM mon
)
SELECT o_custkey, CAST(CAST(m AS TIMESTAMP) AS VARCHAR) AS month,
       spend, lag1, lag2,
       ROUND(CAST(s3 AS DOUBLE) / c3, 4) AS rolling3_mean
FROM feat ORDER BY o_custkey, month
""",
    tags=("ext", "feature-engineering", "feature-store", "window"),
    description="monthly spend features: lag-1/2 + trailing-3 mean",
)
def feature_store_customer_monthly(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The forecasting feature-store table: per (customer, month)
    spend with lag-1, lag-2, and trailing-3-month mean — the lagged
    features a demand model trains on, produced leakage-free (every
    feature only looks backward). One monthly aggregate, then all
    four features ride a single per-customer window ordering —
    one shuffle total, the textbook incremental feature-store
    build."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 50)
    mon = o.groupBy(
        "o_custkey", F.date_trunc("month", "o_orderdate").alias("m")
    ).agg(F.sum(_o_cents()).alias("spend"))
    w = Window.partitionBy("o_custkey").orderBy("m")
    w3 = w.rowsBetween(-2, Window.currentRow)
    feat = mon.select(
        "o_custkey",
        "m",
        "spend",
        F.lag("spend", 1).over(w).alias("lag1"),
        F.lag("spend", 2).over(w).alias("lag2"),
        F.sum("spend").over(w3).alias("s3"),
        F.count(F.lit(1)).over(w3).alias("c3"),
    )
    return feat.select(
        "o_custkey",
        F.col("m").cast("string").alias("month"),
        "spend",
        "lag1",
        "lag2",
        F.round(F.col("s3").cast("double") / F.col("c3"), 4).alias(
            "rolling3_mean"
        ),
    ).orderBy("o_custkey", "month")


# ---------------------------------------------------------------------------
# Spark 4 SQL surface: IDENTIFIER clause (parameterized table name)
# ---------------------------------------------------------------------------


@register(
    "sql_identifier_clause",
    oracle=f"""
SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM({_CENTS}) AS BIGINT) AS revenue_cents
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
""",
    tags=("sql-surface", "identifier", "parameterized"),
    description="IDENTIFIER(:tbl) parameterized table reference",
)
def sql_identifier_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IDENTIFIER clause: a table name supplied as a BOUND
    PARAMETER rather than string-spliced SQL — the injection-safe
    way to write one query over N tables (the reference's
    dual-provider dispatch would use exactly this). The identifier
    resolves during analysis, so the optimized plan is identical
    to the hard-coded form."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        f"""
        SELECT o_orderstatus, COUNT(*) AS n,
               SUM({_CENTS}) AS revenue_cents
        FROM IDENTIFIER(:tbl) GROUP BY o_orderstatus
        ORDER BY o_orderstatus
        """,
        args={"tbl": "orders"},
    )


# ---------------------------------------------------------------------------
# Spark 4 SQL surface: session variables (DECLARE / SET VAR)
# ---------------------------------------------------------------------------


@register(
    "sql_session_variables",
    oracle=f"""
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_above
FROM orders WHERE {_CENTS} > 15000000
GROUP BY o_orderpriority ORDER BY o_orderpriority
""",
    tags=("sql-surface", "session-variables"),
    description="DECLARE/SET VAR session variable in a predicate",
)
def sql_session_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL session variables (DECLARE VARIABLE / SET VAR): typed,
    session-scoped state referenced directly in query text — the
    ANSI replacement for client-side string substitution of
    thresholds. The variable folds to a literal during analysis,
    so predicate pushdown sees a constant."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    spark.sql(
        "DECLARE OR REPLACE VARIABLE min_cents BIGINT DEFAULT 0"
    )
    spark.sql("SET VAR min_cents = 15000000")
    return spark.sql(
        f"""
        SELECT o_orderpriority, COUNT(*) AS n_above
        FROM orders WHERE {_CENTS} > min_cents
        GROUP BY o_orderpriority ORDER BY o_orderpriority
        """
    )


# ---------------------------------------------------------------------------
# Adamic-Adar link prediction (log-degree-weighted common neighbors)
# ---------------------------------------------------------------------------


@register(
    "graph_adamic_adar_links",
    oracle="""
WITH base AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
),
prs AS (
  SELECT a.pk AS pa, b.pk AS pb
  FROM base a JOIN base b ON a.ok = b.ok AND a.pk < b.pk
  GROUP BY 1, 2 HAVING COUNT(*) >= 3
),
edges AS (
  SELECT pa AS u, pb AS w FROM prs
  UNION ALL SELECT pb AS u, pa AS w FROM prs
),
deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY u),
wedge AS (
  SELECT e1.u AS a, e2.u AS b, e1.w AS c
  FROM edges e1 JOIN edges e2 ON e1.w = e2.w AND e1.u < e2.u
),
score AS (
  SELECT w.a, w.b,
         CAST(COUNT(*) AS BIGINT) AS n_common,
         SUM(CASE WHEN dc.d > 1 THEN 1.0 / ln(dc.d) ELSE 0 END) AS aa
  FROM wedge w JOIN deg dc ON dc.u = w.c
  GROUP BY w.a, w.b
),
nonadj AS (
  SELECT s.a, s.b, s.n_common, s.aa FROM score s
  LEFT JOIN prs p ON p.pa = s.a AND p.pb = s.b
  WHERE p.pa IS NULL
)
SELECT a, b, n_common, ROUND(aa, 6) AS adamic_adar
FROM nonadj ORDER BY aa DESC, a, b LIMIT 20
""",
    tags=("graph", "link-prediction", "adamic-adar", "join"),
    description="top-20 predicted links by Adamic-Adar score",
)
def graph_adamic_adar_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction: common neighbors weighted by
    1/ln(degree) — rare shared neighbors count more than hubs, the
    refinement over plain neighbor-Jaccard
    (graph_jaccard_link_prediction). Same wedge-join backbone; the
    degree weight joins once on the SHARED endpoint before the
    pair aggregate, so the weighting adds no extra pass over the
    edge list. Hub terms sum ≤degree² doubles per pair but through
    a groupBy SUM of well-separated magnitudes — rounded at 1e-6
    where ordering noise is ~1e-15."""
    base = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .distinct()
    )
    a = base.select("ok", F.col("pk").alias("pa"))
    b = base.select("ok", F.col("pk").alias("pb"))
    prs = (
        a.join(b, "ok")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 3)
        .select("pa", "pb")
    )
    edges = prs.select(
        F.col("pa").alias("u"), F.col("pb").alias("w")
    ).unionAll(prs.select(F.col("pb").alias("u"), F.col("pa").alias("w")))
    deg = edges.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    e1 = edges.select(F.col("u").alias("a"), "w")
    e2 = edges.select(F.col("u").alias("b"), "w")
    wedge = e1.join(e2, "w").filter(F.col("a") < F.col("b"))
    dc = deg.select(F.col("u").alias("w"), F.col("d").alias("dc"))
    score = (
        wedge.join(dc, "w")
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.sum(
                F.when(
                    F.col("dc") > 1, F.lit(1.0) / F.log(F.col("dc"))
                ).otherwise(0.0)
            ).alias("aa"),
        )
    )
    nonadj = score.join(
        prs.select(F.col("pa").alias("a"), F.col("pb").alias("b")),
        ["a", "b"],
        "left_anti",
    )
    return (
        nonadj.orderBy(F.col("aa").desc(), "a", "b")
        .limit(20)
        .select("a", "b", "n_common", F.round("aa", 6).alias("adamic_adar"))
    )


# ---------------------------------------------------------------------------
# Sequential purchase rules between brands (A before B)
# ---------------------------------------------------------------------------


@register(
    "brand_sequence_rules",
    oracle="""
WITH firsts AS (
  SELECT o.o_custkey AS cust, p.p_brand AS brand,
         MIN(o.o_orderdate) AS first_dt
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY 1, 2
),
nbrand AS (
  SELECT brand, CAST(COUNT(*) AS BIGINT) AS n_buyers FROM firsts
  GROUP BY brand
),
seq AS (
  SELECT a.brand AS brand_a, b.brand AS brand_b,
         CAST(COUNT(*) AS BIGINT) AS n_seq
  FROM firsts a JOIN firsts b
    ON a.cust = b.cust AND a.brand != b.brand
   AND a.first_dt < b.first_dt
  GROUP BY 1, 2
)
SELECT s.brand_a, s.brand_b, s.n_seq, na.n_buyers AS n_a,
       ROUND(CAST(s.n_seq AS DOUBLE) / na.n_buyers, 6) AS confidence
FROM seq s JOIN nbrand na ON na.brand = s.brand_a
ORDER BY s.n_seq DESC, s.brand_a, s.brand_b LIMIT 15
""",
    tags=("analytics", "sequence-rules", "join"),
    description="top-15 brand A→B first-purchase sequence rules",
)
def brand_sequence_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern rules: 'customers who first bought brand A
    later bought brand B', with confidence n_seq/n_buyers(A) — the
    temporal upgrade of the co-occurrence basket rules
    (basket_association_rules). Reducing each (customer, brand) to
    its FIRST purchase date caps the per-customer self-join at
    brands², independent of order volume — aggregate before
    exploding pairs, the same scale discipline as Theil-Sen."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    p = load_table(spark, sf_dir, "part")
    firsts = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(
            F.col("o_custkey").alias("cust"),
            F.col("p_brand").alias("brand"),
        )
        .agg(F.min("o_orderdate").alias("first_dt"))
    )
    nbrand = firsts.groupBy("brand").agg(
        F.count(F.lit(1)).alias("n_buyers")
    )
    fa = firsts.select(
        "cust", F.col("brand").alias("brand_a"),
        F.col("first_dt").alias("dt_a"),
    )
    fb = firsts.select(
        "cust", F.col("brand").alias("brand_b"),
        F.col("first_dt").alias("dt_b"),
    )
    seq = (
        fa.join(fb, "cust")
        .filter(
            (F.col("brand_a") != F.col("brand_b"))
            & (F.col("dt_a") < F.col("dt_b"))
        )
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("n_seq"))
    )
    na = nbrand.select(
        F.col("brand").alias("brand_a"), F.col("n_buyers").alias("n_a")
    )
    return (
        seq.join(F.broadcast(na), "brand_a")
        .select(
            "brand_a",
            "brand_b",
            "n_seq",
            "n_a",
            F.round(
                F.col("n_seq").cast("double") / F.col("n_a"), 6
            ).alias("confidence"),
        )
        .orderBy(F.col("n_seq").desc(), "brand_a", "brand_b")
        .limit(15)
    )


# ---------------------------------------------------------------------------
# RAKE keyphrase extraction (stopword-delimited phrases)
# ---------------------------------------------------------------------------


def _rake_oracle() -> str:
    from wilayah_aceh_etl_spark.plans.ext_queries import _STOP_SQL

    return f"""
WITH toks AS (
  SELECT doc_id, i AS pos, w[i] AS tok
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       UNNEST(range(1, len(w) + 1)) AS t(i)
),
ns AS (
  SELECT doc_id, pos, tok,
         pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
           AS grp
  FROM toks WHERE tok NOT IN ({_STOP_SQL}) AND tok != ''
),
phr AS (
  SELECT doc_id, grp,
         array_to_string(list(tok ORDER BY pos), ' ') AS phrase,
         CAST(COUNT(*) AS BIGINT) AS plen
  FROM ns GROUP BY doc_id, grp
),
pw AS (
  SELECT p.doc_id, p.grp, n.tok, p.plen
  FROM phr p JOIN ns n ON n.doc_id = p.doc_id AND n.grp = p.grp
),
ws AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq,
         CAST(SUM(plen) AS BIGINT) AS degree
  FROM pw GROUP BY tok
),
scored AS (
  SELECT p.doc_id, p.grp, p.phrase,
         SUM(CAST(w.degree AS DOUBLE) / w.freq) AS score
  FROM pw p2
  JOIN phr p ON p.doc_id = p2.doc_id AND p.grp = p2.grp
  JOIN ws w ON w.tok = p2.tok
  GROUP BY p.doc_id, p.grp, p.phrase
)
SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       ROUND(MAX(score), 4) AS rake_score
FROM scored GROUP BY phrase
ORDER BY MAX(score) DESC, phrase LIMIT 15
"""


@register(
    "text_rake_keyphrases",
    oracle=_rake_oracle(),
    tags=("ext", "text", "keyphrase", "rake", "window"),
    description="top-15 RAKE keyphrases over the corpus",
)
def text_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction: candidate phrases are maximal
    stopword-free token runs (a gaps-and-islands window over token
    positions), each word scores degree/freq over the phrase
    corpus, each phrase the sum of its word scores. Everything is
    joins + aggregates over the exploded token stream — the
    keyword extractor that needs no model artifact, practical at
    corpus scale because word stats are one hash aggregate and
    phrases never leave their documents until the final tiny
    top-k."""
    from wilayah_aceh_etl_spark.functions.text import EN_STOPWORDS

    docs = load_table(spark, sf_dir, "documents")
    toks = spread(docs.select("doc_id", F.split("text", " ").alias("w"))).select(
        "doc_id", F.posexplode("w").alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    stop_arr = F.array(*[F.lit(s) for s in EN_STOPWORDS])
    ns = (
        toks.filter(
            (~F.array_contains(stop_arr, F.col("tok")))
            & (F.col("tok") != "")
        )
        .withColumn(
            "grp",
            F.col("pos")
            - F.row_number().over(
                Window.partitionBy("doc_id").orderBy("pos")
            ),
        )
    )
    phr = ns.groupBy("doc_id", "grp").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("pos", "tok"))
                ),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("phrase"),
        F.count(F.lit(1)).alias("plen"),
    )
    pw = phr.join(ns.select("doc_id", "grp", "tok"), ["doc_id", "grp"])
    ws = pw.groupBy("tok").agg(
        F.count(F.lit(1)).alias("freq"),
        F.sum("plen").alias("degree"),
    )
    scored = (
        pw.join(ws, "tok")
        .groupBy("doc_id", "grp", "phrase")
        .agg(
            F.sum(
                F.col("degree").cast("double") / F.col("freq")
            ).alias("score")
        )
    )
    return (
        scored.groupBy("phrase")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.max("score").alias("mx"),
        )
        .orderBy(F.col("mx").desc(), "phrase")
        .limit(15)
        .select(
            "phrase",
            "n_occurrences",
            F.round("mx", 4).alias("rake_score"),
        )
    )
