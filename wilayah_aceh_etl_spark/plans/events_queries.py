"""Event-stream analytics — batch semantics of the streaming ops.

SURVEY §2.11 declares streaming absent in the reference; the engine
adds it (phase 4). Each query here is the deterministic batch
equivalent of a Structured Streaming operator in
wilayah_aceh_etl_spark/streaming/ (tumbling/sliding/session windows,
stateful dedup) so the correctness gate can oracle-check the WINDOW
SEMANTICS; the streaming twins run in tests/test_streaming.py with
availableNow triggers.

Both engines bucket epochs identically: Spark `window(ts, w)` and
DuckDB `time_bucket(INTERVAL w, ts)` are epoch-aligned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wilayah_aceh_etl_spark.plans.registry import register
from wilayah_aceh_etl_spark.session import local_frame
from wilayah_aceh_etl_spark.sources.tables import load_table

def _stage_events(spark: SparkSession, sf_dir: str) -> str:
    """Stage the events table as a directory of plain parquet files
    for streaming reads (the streaming file source reads a directory,
    and the testdata holds one file per table). Cached per (sf_dir,
    source mtime): regenerated testdata invalidates the staged copy
    instead of being silently shadowed by a stale one."""
    import hashlib
    import os
    import tempfile

    src = os.path.join(sf_dir, "events.parquet")
    mtime = int(os.path.getmtime(src)) if os.path.exists(src) else 0
    tag = hashlib.md5(f"{sf_dir}:{mtime}".encode()).hexdigest()[:10]
    staged = os.path.join(tempfile.gettempdir(), f"wilayah_spark_events_{tag}")
    if not os.path.exists(os.path.join(staged, "_SUCCESS")):
        load_table(spark, sf_dir, "events").repartition(4).write.mode(
            "overwrite"
        ).parquet(staged)
    return staged



# ---------------------------------------------------------------------------
# Tumbling window
# ---------------------------------------------------------------------------

_TUMBLING_ORACLE = """
SELECT
  time_bucket(INTERVAL '5 minutes', ts) AS window_start,
  event_type,
  COUNT(*)                   AS n_events,
  ROUND(SUM(value), 2)       AS total_value
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
"""


@register(
    "events_tumbling_window_counts",
    oracle=_TUMBLING_ORACLE,
    tags=("events", "window-time", "agg"),
    description="5-minute tumbling window counts per event type",
    bench=True,
)
def events_tumbling_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling time window — the batch twin of
    streaming/windows.py::tumbling_counts (same window spec feeds
    readStream + watermark there)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
        .orderBy("window_start", "event_type")
    )


# ---------------------------------------------------------------------------
# Sliding window
# ---------------------------------------------------------------------------

_SLIDING_ORACLE = """
SELECT window_start, COUNT(*) AS n_events,
       ROUND(SUM(value), 2) AS total_value
FROM (
  SELECT u.window_start, value
  FROM events,
  LATERAL (
    SELECT UNNEST([
      time_bucket(INTERVAL '5 minutes', ts),
      time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes'
    ]) AS window_start
  ) u
) t
GROUP BY window_start
ORDER BY window_start
"""


@register(
    "events_sliding_window_rates",
    oracle=_SLIDING_ORACLE,
    tags=("events", "window-time", "sliding"),
    description="10-minute window sliding every 5 minutes",
)
def events_sliding_window_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (10 min length, 5 min slide): each event lands
    in 2 windows; Spark expands via the window generator, the oracle
    via an explicit 2-element unnest of the same bucket arithmetic."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # count + rounded total, NOT a rounded average: dividing a
            # 2-decimal sum by the count lands exactly on rounding
            # ties (x.xxxx5), where Spark (shortest-decimal HALF_UP)
            # and other engines (raw-binary rounding) legitimately
            # disagree — found by the sf0.1 parity sweep
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
        .orderBy("window_start")
    )


# ---------------------------------------------------------------------------
# Session window (gaps-and-islands oracle)
# ---------------------------------------------------------------------------

_SESSION_ORACLE = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN ts - LAG(ts) OVER w > INTERVAL '10 minutes'
                OR LAG(ts) OVER w IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
numbered AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS UNBOUNDED PRECEDING
         ) AS session_id
  FROM flagged
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL '10 minutes' AS session_end,
       COUNT(*) AS n_events
FROM numbered
GROUP BY user_id, session_id
ORDER BY user_id, session_start
"""


@register(
    "events_session_windows",
    oracle=_SESSION_ORACLE,
    tags=("events", "window-time", "session"),
    description="10-minute-gap session windows per user",
)
def events_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a 10-minute inactivity gap. Spark's
    native session_window (merging-state op in streaming) vs the
    classic gaps-and-islands SQL — identical session boundaries."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "10 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


# ---------------------------------------------------------------------------
# Stateful dedup (batch twin of dropDuplicates-within-watermark)
# ---------------------------------------------------------------------------

_DEDUP_ORACLE = """
SELECT user_id, event_type, first_ts, first_event_id FROM (
  SELECT user_id, event_type, ts AS first_ts, event_id AS first_event_id,
         ROW_NUMBER() OVER (
           PARTITION BY user_id, event_type ORDER BY ts, event_id
         ) AS rn
  FROM events
) t
WHERE rn = 1
ORDER BY user_id, event_type
"""


@register(
    "events_dedup_first_per_key",
    oracle=_DEDUP_ORACLE,
    tags=("events", "dedup", "window"),
    description="first-event-wins dedup per (user, event_type)",
)
def events_dedup_first_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed dedup keeping the earliest event — batch semantics of
    streaming dropDuplicates within a watermark (streaming/stateful.py)."""
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("ts").alias("first_ts"),
            F.col("event_id").alias("first_event_id"),
        )
        .orderBy("user_id", "event_type")
    )


# ---------------------------------------------------------------------------
# Semi-structured JSON props (reference P4/P5 JSON boundary analog)
# ---------------------------------------------------------------------------

_JSON_ORACLE = """
SELECT event_type,
       CAST(MIN(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS INTEGER)
         AS min_k,
       CAST(MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS INTEGER)
         AS max_k,
       ROUND(AVG(CAST(json_extract_string(props, '$.k') AS INTEGER)), 4)
         AS avg_k
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@register(
    "events_json_props_stats",
    oracle=_JSON_ORACLE,
    tags=("events", "json", "agg"),
    description="JSON property extraction + aggregation (reference P4/P5)",
)
def events_json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference parses/serializes JSON at every boundary
    (server.js:89,490-498); here get_json_object pushes extraction
    into the JVM — no Python in the loop."""
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        e.groupBy("event_type")
        .agg(
            F.min(k).alias("min_k"),
            F.max(k).alias("max_k"),
            F.round(F.avg(k), 4).alias("avg_k"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Top-k users (rate ranking)
# ---------------------------------------------------------------------------

_TOPK_USERS_ORACLE = """
SELECT user_id, COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value
FROM events
GROUP BY user_id
ORDER BY n_events DESC, user_id
LIMIT 10
"""


@register(
    "events_topk_users",
    oracle=_TOPK_USERS_ORACLE,
    tags=("events", "topk", "agg"),
    description="top-10 users by event volume",
)
def events_topk_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume ranking with deterministic tiebreak."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy(F.col("n_events").desc(), "user_id")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# As-of join (custom temporal operator — no Spark built-in)
# ---------------------------------------------------------------------------

_ASOF_ORACLE = """
SELECT l.event_id, l.user_id, l.ts,
       r.ts AS purchase_ts, ROUND(r.value, 2) AS purchase_value
FROM (SELECT * FROM events WHERE event_type = 'click') l
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
ON l.user_id = r.user_id AND l.ts > r.ts
ORDER BY l.event_id
"""


@register(
    "events_asof_last_purchase",
    oracle=_ASOF_ORACLE,
    tags=("events", "asof", "join", "temporal"),
    description="as-of join: each click ← latest strictly-prior purchase",
    bench=True,
)
def events_asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each click event joined to the SAME USER's latest purchase
    strictly before it (operators/temporal.py::asof_join — the
    union+sort formulation, one shuffle, checked against DuckDB's
    native ASOF JOIN)."""
    from wilayah_aceh_etl_spark.operators.temporal import asof_join

    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    joined = asof_join(
        clicks, purchases, on="user_id", right_payload=["value"], strict=True
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        F.col("ts_r").alias("purchase_ts"),
        F.round(F.col("value_r"), 2).alias("purchase_value"),
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# Banded range join (interval predicate → equi-join on time buckets)
# ---------------------------------------------------------------------------

_RANGE_JOIN_ORACLE = """
SELECT l.event_id, l.user_id, l.ts AS error_ts,
       r.event_id AS click_event_id, r.ts AS click_ts,
       CAST(floor(epoch(l.ts)) AS BIGINT)
         - CAST(floor(epoch(r.ts)) AS BIGINT) AS delta_s
FROM events l JOIN events r
  ON l.user_id = r.user_id
 AND l.event_type = 'error' AND r.event_type = 'click'
 AND CAST(floor(epoch(l.ts)) AS BIGINT)
       - CAST(floor(epoch(r.ts)) AS BIGINT) BETWEEN 0 AND 3599
ORDER BY l.event_id, click_event_id
"""


@register(
    "events_range_join_error_click",
    oracle=_RANGE_JOIN_ORACLE,
    tags=("events", "range-join", "join", "temporal"),
    description="banded range join: errors ← same-user clicks ≤1h before",
)
def events_range_join_error_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every (error, click) pair of the same user with the click at
    most 1 hour before the error. Spark side runs the bucketed
    equi-join (operators/temporal.py::banded_range_join) whose
    intermediate is O(true pairs); the oracle states the naive
    inequality join. Time resolution is whole seconds
    (unix_timestamp ≡ floor(epoch))."""
    from wilayah_aceh_etl_spark.operators.temporal import banded_range_join

    e = load_table(spark, sf_dir, "events")
    errors = e.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    joined = banded_range_join(
        errors,
        clicks,
        on="user_id",
        left_time="ts",
        right_time="ts",
        lower=F.lit(0),
        upper=F.lit(3600),
        band_seconds=3600,
    )
    return joined.select(
        "event_id",
        "user_id",
        F.col("ts").alias("error_ts"),
        F.col("event_id_r").alias("click_event_id"),
        F.col("ts_r").alias("click_ts"),
        (
            F.unix_timestamp("ts") - F.unix_timestamp("ts_r")
        ).alias("delta_s"),
    ).orderBy("event_id", "click_event_id")


# ---------------------------------------------------------------------------
# Hierarchical rollup (continuous-aggregate pattern: fine partials →
# coarse aggregate, never re-reading raw data for the coarse grain)
# ---------------------------------------------------------------------------

_HIER_ROLLUP_ORACLE = """
WITH minute_partials AS (
  SELECT time_bucket(INTERVAL '1 minute', ts) AS m,
         event_type,
         COUNT(*)             AS n,
         ROUND(SUM(value), 2) AS v
  FROM events GROUP BY 1, 2
)
SELECT time_bucket(INTERVAL '1 hour', m) AS hour_start,
       event_type,
       CAST(SUM(n) AS BIGINT) AS n_events,
       ROUND(SUM(v), 2)       AS total_value
FROM minute_partials
GROUP BY 1, 2 ORDER BY 1, 2
"""


@register(
    "events_hierarchical_rollup",
    oracle=_HIER_ROLLUP_ORACLE,
    tags=("events", "window-time", "rollup", "hypertable"),
    description="hypertable-style rollup: minute partials → hourly",
)
def events_hierarchical_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hypertable/continuous-aggregate pattern: the hourly grain
    is computed FROM the minute-grain partials (both engines do the
    same two-level computation, so the FP rounding path is shared).
    At 100 TB the minute partials are a materialized table the
    streaming job maintains; every coarser grain derives from it —
    ~60× less data than re-scanning raw events per grain."""
    e = load_table(spark, sf_dir, "events")
    minute = (
        e.groupBy(
            F.window("ts", "1 minute").alias("w"), "event_type"
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("v"),
        )
        .select(F.col("w.start").alias("m"), "event_type", "n", "v")
    )
    return (
        minute.groupBy(
            F.window("m", "1 hour").alias("w"), "event_type"
        ).agg(
            F.sum("n").alias("n_events"),
            F.round(F.sum("v"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("hour_start"),
            "event_type",
            "n_events",
            "total_value",
        )
        .orderBy("hour_start", "event_type")
    )


# ---------------------------------------------------------------------------
# Funnel analysis (ordered multi-step conversion)
# ---------------------------------------------------------------------------

_FUNNEL_ORACLE = """
WITH s AS (
  SELECT user_id, MIN(ts) AS t_signup
  FROM events WHERE event_type = 'signup' GROUP BY user_id
),
c AS (
  SELECT e.user_id, MIN(e.ts) AS t_click
  FROM events e JOIN s ON e.user_id = s.user_id AND e.ts > s.t_signup
  WHERE e.event_type = 'click' GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, MIN(e.ts) AS t_purchase
  FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t_click
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
)
SELECT s.user_id, s.t_signup, c.t_click, p.t_purchase,
       CAST(c.user_id IS NOT NULL AS BOOLEAN)   AS reached_click,
       CAST(p.user_id IS NOT NULL AS BOOLEAN)   AS reached_purchase
FROM s LEFT JOIN c ON s.user_id = c.user_id
       LEFT JOIN p ON s.user_id = p.user_id
ORDER BY s.user_id
"""


@register(
    "events_funnel_signup_click_purchase",
    oracle=_FUNNEL_ORACLE,
    tags=("events", "funnel", "sequence", "join"),
    description="ordered funnel: signup → first later click → first later purchase",
)
def events_funnel_signup_click_purchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Ordered-sequence funnel: each step's timestamp is the first
    occurrence strictly AFTER the previous step (not just presence).
    Three keyed aggregations + two left joins on user_id — one
    shuffle key throughout, so at scale all steps co-partition."""
    e = load_table(spark, sf_dir, "events")

    def first_after(prev: DataFrame, prev_t: str, etype: str, out_t: str) -> DataFrame:
        return (
            e.filter(F.col("event_type") == etype)
            .join(prev, "user_id")
            .filter(F.col("ts") > F.col(prev_t))
            .groupBy("user_id")
            .agg(F.min("ts").alias(out_t))
        )

    s = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_signup"))
    )
    c = first_after(s, "t_signup", "click", "t_click")
    p = first_after(c, "t_click", "purchase", "t_purchase")
    return (
        s.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            "t_signup",
            "t_click",
            "t_purchase",
            F.col("t_click").isNotNull().alias("reached_click"),
            F.col("t_purchase").isNotNull().alias("reached_purchase"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Structured Streaming THROUGH the correctness gate: the availableNow
# streaming pipeline must hash-match the same DuckDB oracle as its
# batch twin — not just "run".
# ---------------------------------------------------------------------------


@register(
    "streaming_tumbling_window_counts",
    oracle=_TUMBLING_ORACLE,
    tags=("streaming", "events", "window-time"),
    description="Structured Streaming tumbling agg, oracle-checked",
)
def streaming_tumbling_window_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Runs the REAL streaming pipeline (readStream → watermark →
    windowed agg → memory sink, availableNow trigger) and returns its
    result table: the one registry entry whose execution path is
    Structured Streaming end-to-end, held to the same oracle as the
    batch twin. Events are staged once per (sf_dir, source mtime) as a
    directory of parquet files, the input the streaming file source
    reads."""
    import uuid

    from wilayah_aceh_etl_spark.streaming import (
        read_event_stream,
        tumbling_counts,
    )

    staged = _stage_events(spark, sf_dir)
    name = f"stream_tumbling_{uuid.uuid4().hex[:8]}"
    q = (
        tumbling_counts(read_event_stream(spark, staged))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name).orderBy("window_start", "event_type")


@register(
    "streaming_session_windows",
    oracle=_SESSION_ORACLE,
    tags=("streaming", "events", "session"),
    description="Structured Streaming session windows, oracle-checked",
)
def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows through the REAL streaming path (merging
    session state), availableNow over staged files, held to the same
    gaps-and-islands oracle as the batch twin."""
    import uuid

    from wilayah_aceh_etl_spark.streaming import (
        read_event_stream,
        session_counts,
    )

    staged = _stage_events(spark, sf_dir)
    name = f"stream_session_{uuid.uuid4().hex[:8]}"
    q = (
        session_counts(read_event_stream(spark, staged))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name).orderBy("user_id", "session_start")


# ---------------------------------------------------------------------------
# Gap-filling + LOCF (hypertable-style time_bucket_gapfill / locf)
# ---------------------------------------------------------------------------

_GAPFILL_ORACLE = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         ROUND(SUM(value), 2) AS total_value
  FROM events GROUP BY 1, 2
),
spans AS (
  SELECT event_type, MIN(hour) AS hmin, MAX(hour) AS hmax FROM hourly
  GROUP BY event_type
),
grid AS (
  SELECT event_type,
         UNNEST(generate_series(hmin, hmax, INTERVAL '1 hour')) AS hour
  FROM spans
)
SELECT g.event_type, g.hour,
       COALESCE(h.n_events, 0) AS n_events,
       CAST(h.hour IS NOT NULL AS BOOLEAN) AS observed,
       last_value(h.total_value IGNORE NULLS) OVER (
         PARTITION BY g.event_type ORDER BY g.hour
         ROWS UNBOUNDED PRECEDING
       ) AS locf_total_value
FROM grid g LEFT JOIN hourly h USING (event_type, hour)
ORDER BY g.event_type, g.hour
"""


@register(
    "events_gapfill_locf",
    oracle=_GAPFILL_ORACLE,
    tags=("events", "window-time", "gapfill", "locf", "temporal"),
    description="hourly gap-fill grid + last-observation-carried-forward",
)
def events_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style gap-filling: a dense per-type hourly grid
    generated from each type's own [min, max] span (sequence +
    explode — no cross join), left-joined with observed hourly
    aggregates, missing hours carried forward with
    last(ignorenulls) over an unbounded-preceding frame — the
    time_bucket_gapfill/locf pattern. At scale the grid size is
    bounded by the time span, not the data volume; the one shuffle
    is the (event_type, hour) join, and the LOCF window partitions
    by type so state never concentrates on one executor."""
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    grid = (
        hourly.groupBy("event_type")
        .agg(F.min("hour").alias("hmin"), F.max("hour").alias("hmax"))
        .select(
            "event_type",
            F.explode(
                F.sequence("hmin", "hmax", F.expr("INTERVAL 1 HOUR"))
            ).alias("hour"),
        )
    )
    joined = grid.join(
        hourly.withColumnRenamed("hour", "obs_hour"),
        (grid.event_type == hourly.event_type)
        & (grid.hour == F.col("obs_hour")),
        "left",
    ).select(
        grid.event_type,
        grid.hour,
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.col("obs_hour").isNotNull().alias("observed"),
        "total_value",
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        joined.select(
            "event_type",
            "hour",
            "n_events",
            "observed",
            F.last("total_value", ignorenulls=True)
            .over(w)
            .alias("locf_total_value"),
        )
        .orderBy("event_type", "hour")
    )


# ---------------------------------------------------------------------------
# Rolling event-time window (RANGE frame over an interval)
# ---------------------------------------------------------------------------

_ROLLING_ORACLE = """
SELECT event_id, user_id,
       CAST(COUNT(*) OVER w AS BIGINT) AS n_prev_1h,
       ROUND(SUM(value) OVER w, 2) AS sum_value_1h
FROM events
WINDOW w AS (
  PARTITION BY user_id ORDER BY epoch_us(ts)
  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
)
ORDER BY event_id
"""


@register(
    "events_rolling_1h_user_window",
    oracle=_ROLLING_ORACLE,
    tags=("events", "window-time", "rolling", "temporal"),
    description="per-user rolling 1-hour event-time RANGE window",
    bench=True,
)
def events_rolling_1h_user_window(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Rolling event-time aggregate: for every event, the count and
    value-sum of the same user's events in the trailing hour —
    a RANGE frame over microsecond epochs so both engines use the
    identical numeric frame (no interval/timezone ambiguity, ties
    are peers in both). One shuffle on user_id; the frame is
    evaluated with a sliding two-pointer pass per partition, never
    materializing per-row subsets."""
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    return (
        e.select(
            "event_id",
            "user_id",
            F.count(F.lit(1)).over(w).alias("n_prev_1h"),
            F.round(F.sum("value").over(w), 2).alias("sum_value_1h"),
        )
        .orderBy("event_id")
    )


@register(
    "streaming_sliding_window_rates",
    oracle=_SLIDING_ORACLE,
    tags=("streaming", "events", "window-time", "sliding"),
    description="Structured Streaming sliding-window agg, oracle-checked",
)
def streaming_sliding_window_rates(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sliding windows (10 min / 5 min slide) through the REAL
    streaming path — each event enters two window states, watermark
    prunes them — availableNow over staged files, held to the same
    2-element-unnest oracle as the batch twin."""
    import uuid

    from wilayah_aceh_etl_spark.streaming import (
        read_event_stream,
        sliding_rates,
    )

    staged = _stage_events(spark, sf_dir)
    name = f"stream_sliding_{uuid.uuid4().hex[:8]}"
    q = (
        sliding_rates(read_event_stream(spark, staged))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name).orderBy("window_start")


# ---------------------------------------------------------------------------
# Event-type transition matrix (Markov-chain counts via lag)
# ---------------------------------------------------------------------------

_TRANSITIONS_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
  FROM events
)
SELECT prev_type, event_type AS next_type,
       CAST(COUNT(*) AS BIGINT) AS n_transitions
FROM seq WHERE prev_type IS NOT NULL
GROUP BY prev_type, next_type
ORDER BY prev_type, next_type
"""


@register(
    "events_type_transitions",
    oracle=_TRANSITIONS_ORACLE,
    tags=("events", "window", "sequence", "markov"),
    description="event-type transition matrix (lag over user timelines)",
)
def events_type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavioral sequencing: consecutive event-type pairs
    counted into a transition matrix (the Markov-chain input of a
    session-analysis pipeline). One shuffle on user_id for the lag
    window (deterministic (ts, event_id) tiebreak), then a tiny
    |types|² hash-agg."""
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    return (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n_transitions"))
        .orderBy("prev_type", "next_type")
    )


_VARIANT_ORACLE = """
SELECT
  event_type,
  CAST(COUNT(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT)
    AS n_with_k,
  CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT)
    AS sum_k,
  CAST(SUM(CASE WHEN CAST(json_extract_string(props, '$.k') AS INTEGER) >= 50
                THEN 1 ELSE 0 END) AS BIGINT) AS n_high_k
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@register(
    "events_variant_props",
    oracle=_VARIANT_ORACLE,
    tags=("events", "variant", "semi-structured"),
    description="VARIANT-typed semi-structured extraction (Spark 4 parse_json)",
)
def events_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props through Spark 4's VARIANT type:
    parse_json once into the binary variant encoding, then typed
    try_variant_get extraction — the scale path for ragged JSON
    (parse once, extract many, no per-access string re-parse the way
    repeated get_json_object calls re-parse; the reference re-parses
    at every boundary, server.js:490-498). All aggregates are exact
    integers."""
    e = load_table(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    k = F.try_variant_get(v, "$.k", "int")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.sum("k").cast("long").alias("sum_k"),
            F.sum(F.when(F.col("k") >= 50, 1).otherwise(0))
            .cast("long")
            .alias("n_high_k"),
        )
        .orderBy("event_type")
    )


_USER_FEATURES_ORACLE = """
SELECT
  user_id,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
    AS n_purchases,
  CAST(COUNT(DISTINCT date_trunc('day', ts)) AS BIGINT) AS active_days,
  ROUND(CAST(SUM(CAST(ROUND(value * 16777216) AS BIGINT)) AS DOUBLE)
        / (COUNT(value) * 16777216), 4) AS avg_value,
  ROUND(CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             AS DOUBLE) / COUNT(*), 4) AS purchase_rate,
  min(ts) AS first_ts,
  max(ts) AS last_ts
FROM events
GROUP BY user_id
ORDER BY user_id
"""


@register(
    "events_user_features",
    oracle=_USER_FEATURES_ORACLE,
    tags=("events", "features", "training-prep"),
    description="per-user behavioral feature vector (feature-store shape)",
)
def events_user_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature engineering in one hash-aggregate pass: the per-entity
    profile a training pipeline joins onto examples (counts, rates,
    recency bounds, distinct-activity cardinality). Everything is a
    conditional aggregate over the single shuffle on user_id; the
    distinct-days count rides the same aggregation (Spark plans the
    distinct via a partial expand, still one logical pass). Ratios
    divide exact integers — avg_value uses the quantize-before-sum
    idiom (Σ ROUND(value·2²⁴) BIGINT, one final division): the
    original ROUND(SUM(value), 2) guard was an order-SENSITIVE float
    sum that flapped at the 1e-4 boundary once per-user event counts
    reached sf0.1 scale (caught by the round-10 full sf0.1 sweep —
    2 of 100 users differed in the last rounded digit)."""
    e = load_table(spark, sf_dir, "events")
    is_purchase = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    return (
        e.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(is_purchase).cast("long").alias("n_purchases"),
            F.countDistinct(F.date_trunc("day", F.col("ts"))).alias("active_days"),
            F.round(
                F.sum(F.round(F.col("value") * 16777216).cast("long"))
                .cast("double")
                / (F.count("value") * F.lit(16777216)),
                4,
            ).alias("avg_value"),
            F.round(
                F.sum(is_purchase).cast("double") / F.count(F.lit(1)), 4
            ).alias("purchase_rate"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .orderBy("user_id")
    )


_RETENTION_ORACLE = """
WITH signup AS (
  SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
  FROM events WHERE event_type = 'signup' GROUP BY user_id
),
activity AS (
  SELECT DISTINCT e.user_id, date_trunc('week', e.ts) AS active_week
  FROM events e
)
SELECT
  s.cohort_week,
  CAST(datediff('week', s.cohort_week, a.active_week) AS BIGINT) AS week_offset,
  CAST(COUNT(DISTINCT s.user_id) AS BIGINT) AS n_active_users
FROM signup s
JOIN activity a ON s.user_id = a.user_id
WHERE a.active_week >= s.cohort_week
GROUP BY s.cohort_week, week_offset
ORDER BY cohort_week, week_offset
"""


@register(
    "events_weekly_retention",
    oracle=_RETENTION_ORACLE,
    tags=("events", "retention", "cohort"),
    description="signup-cohort weekly retention triangle",
)
def events_weekly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users bucketed by signup week, counted in
    each later week they were active. Two aggregates plus one join on
    user_id; the signup side is one row per user so it broadcasts at
    any realistic cohort cardinality, and the distinct-activity grid
    is bounded by users × weeks, not events."""
    e = load_table(spark, sf_dir, "events")
    signup = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.date_trunc("week", F.min("ts")).alias("cohort_week"))
    )
    activity = e.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("active_week")
    ).distinct()
    week_offset = (
        F.datediff(F.col("active_week"), F.col("cohort_week")) / 7
    ).cast("long")
    return (
        activity.join(F.broadcast(signup), "user_id")
        .filter(F.col("active_week") >= F.col("cohort_week"))
        .groupBy("cohort_week", week_offset.alias("week_offset"))
        .agg(F.countDistinct("user_id").alias("n_active_users"))
        .orderBy("cohort_week", "week_offset")
    )


_STREAM_JOIN_ORACLE = """
SELECT
  c.user_id   AS user_id,
  c.event_id  AS click_id,
  p.event_id  AS purchase_id,
  c.ts        AS click_ts,
  p.ts        AS purchase_ts
FROM events c
JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click'
 AND p.event_type = 'purchase'
 AND c.ts < p.ts
 AND p.ts <= c.ts + INTERVAL 1 HOUR
ORDER BY click_id, purchase_id
"""


@register(
    "streaming_stream_stream_join",
    oracle=_STREAM_JOIN_ORACLE,
    tags=("streaming", "events", "stream-stream-join"),
    description="Structured Streaming stream-stream join, oracle-checked",
)
def streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stream-stream attribution join executed END-TO-END as
    Structured Streaming (readStream → dual watermark → range-
    condition join → memory sink, availableNow) and held to the batch
    SQL oracle. The staged 4-file source fits one micro-batch, so no
    event is dropped as late and streaming output equals the batch
    join exactly — larger corpora would relax this to the
    watermark-filtered batch twin."""
    import uuid

    from wilayah_aceh_etl_spark.streaming import (
        click_purchase_attribution,
        read_event_stream,
    )

    staged = _stage_events(spark, sf_dir)
    name = f"stream_ssjoin_{uuid.uuid4().hex[:8]}"
    q = (
        click_purchase_attribution(read_event_stream(spark, staged))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name).orderBy("click_id", "purchase_id")


_STREAM_LOJ_ORACLE = """
WITH clicks AS (
  SELECT user_id, event_id AS click_id, ts AS click_ts
  FROM events WHERE event_type = 'click' AND user_id < 30
),
purch AS (
  SELECT user_id, event_id AS purchase_id, ts AS purchase_ts
  FROM events WHERE event_type = 'purchase' AND user_id < 30
)
SELECT c.user_id, c.click_id, p.purchase_id, c.click_ts, p.purchase_ts
FROM clicks c
LEFT JOIN purch p
  ON p.user_id = c.user_id
 AND c.click_ts < p.purchase_ts
 AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR
ORDER BY click_id, purchase_id
"""


@register(
    "streaming_stream_stream_left_outer",
    oracle=_STREAM_LOJ_ORACLE,
    tags=("streaming", "events", "stream-stream-join", "outer"),
    description="LEFT OUTER stream-stream join drained by watermark, oracle-checked",
)
def streaming_stream_stream_left_outer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The null-emitting stream-stream class, end-to-end: unmatched
    clicks may only emit once the cross-side watermark PROVES no
    match can still arrive, so a single availableNow pass is not
    enough — the query runs the production two-trigger protocol
    (parquet sink + checkpoint): pass 1 over the real slice emits
    matches (and whatever lates the in-data watermark already
    closed), then a far-future sentinel batch on BOTH types advances
    the min-watermark past every click's horizon and pass 2 drains
    the remaining null-padded rows from state. The cumulative sink
    must then equal the batch LEFT JOIN exactly — which is the whole
    point: watermark expiry is observable output, held to a DuckDB
    oracle. State is bounded by (watermark + horizon) per side at
    any corpus rate; the user_id<30 slice keeps the gate run small."""
    import datetime as _dt
    import os

    from wilayah_aceh_etl_spark.scratch import scratch_dir
    from wilayah_aceh_etl_spark.streaming import (
        click_purchase_attribution_outer,
        read_event_stream,
    )

    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    max_ts = e.agg(F.max("ts")).head()[0]
    base = scratch_dir("loj")
    src, ckpt, out = (os.path.join(base, d) for d in ("src", "ckpt", "out"))

    def run_pass():
        q = (
            click_purchase_attribution_outer(read_event_stream(spark, src))
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    e.coalesce(4).write.mode("overwrite").parquet(src)
    run_pass()
    # local_frame stores a datetime's wall clock as UTC, and
    # createDataFrame(<list>) read a naive one as local time: pass
    # that local instant in UTC
    flush_ts = (max_ts + _dt.timedelta(days=30)).astimezone(_dt.UTC)
    local_frame(
        spark,
        [
            (999_998, flush_ts, 9_998, "click", 0.0, "{}"),
            (999_999, flush_ts, 9_999, "purchase", 0.0, "{}"),
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.mode("append").parquet(src)
    run_pass()
    return (
        spark.read.parquet(out)
        .filter(F.col("user_id") < 30)  # drop the sentinel rows
        .orderBy("click_id", "purchase_id")
    )


_STATEFUL_TOTALS_ORACLE = """
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 2)     AS total_value
FROM events
GROUP BY user_id
ORDER BY user_id
"""


@register(
    "streaming_stateful_user_totals",
    oracle=_STATEFUL_TOTALS_ORACLE,
    tags=("streaming", "stateful", "applyInPandasWithState"),
    description="applyInPandasWithState running totals, oracle-checked",
)
def streaming_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ARBITRARY-stateful operator class (applyInPandasWithState)
    in the correctness gate: per-user running totals where state is
    one (count, sum) tuple per user. The staged source fits one
    availableNow micro-batch, so the single 'update' emission per
    user IS the final total and the batch GROUP BY oracle applies;
    with more batches the entry would assert only the latest row per
    key (the sink-side last-wins merge)."""
    import uuid

    from wilayah_aceh_etl_spark.streaming import (
        read_event_stream,
        running_user_totals,
    )

    staged = _stage_events(spark, sf_dir)
    name = f"stream_stateful_{uuid.uuid4().hex[:8]}"
    q = (
        running_user_totals(read_event_stream(spark, staged))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name).orderBy("user_id")


_DYN_SESSION_ORACLE = """
WITH e AS (
  SELECT user_id, ts, event_id,
         ts + CASE WHEN event_type = 'error' THEN INTERVAL '5 minutes'
                   ELSE INTERVAL '10 minutes' END AS e_end
  FROM events
),
m AS (
  SELECT user_id, ts, event_id, e_end,
         MAX(e_end) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS prev_max
  FROM e
),
flagged AS (
  SELECT user_id, ts, event_id, e_end,
         CASE WHEN prev_max IS NULL OR ts > prev_max THEN 1 ELSE 0 END
           AS new_session
  FROM m
),
numbered AS (
  SELECT user_id, ts, e_end,
         SUM(new_session) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS UNBOUNDED PRECEDING
         ) AS session_id
  FROM flagged
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(e_end) AS session_end,
       COUNT(*) AS n_events
FROM numbered
GROUP BY user_id, session_id
ORDER BY user_id, session_start
"""


@register(
    "events_session_dynamic_gap",
    oracle=_DYN_SESSION_ORACLE,
    tags=("events", "window-time", "session", "dynamic-gap"),
    description="per-event-type dynamic-gap session windows",
)
def events_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session_window with a DATA-DEPENDENT gap (errors time out
    after 5 minutes, everything else 10): each event claims the
    interval [ts, ts+gap] and sessions are unions of overlapping
    claims — verified empirically that Spark merges on boundary
    equality and reports end = MAX(ts+gap) over the merged set, which
    is exactly what the cumulative-max gaps-and-islands oracle
    computes. The streaming form is the same expression under a
    watermark (merging session state)."""
    e = load_table(spark, sf_dir, "events")
    gap = F.when(F.col("event_type") == "error", F.lit("5 minutes")).otherwise(
        F.lit("10 minutes")
    )
    return (
        e.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


@register(
    "events_hll_rollup",
    oracle=None,  # no HLL twin in DuckDB — rows-only; bounds + merge
    # associativity pinned in tests/test_ext_operators.py
    tags=("events", "sketch", "hll", "rollup"),
    description="mergeable HLL rollup: minute sketches unioned to hourly",
)
def events_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE mergeable-sketch pattern for 100 TB rollups: per-minute
    HLL sketches of distinct users are stored once, and every coarser
    grain (hour here) is a sketch UNION — no re-scan of raw events,
    no exact re-count. HLL registers update by max(), so the merged
    estimate is a pure function of the distinct set: partial-merge
    equals direct computation exactly (asserted in tests), unlike
    naive distinct counts which cannot be merged at all."""
    e = load_table(spark, sf_dir, "events")
    minute = F.date_trunc("minute", F.col("ts"))
    per_minute = (
        e.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            minute.alias("minute"),
        )
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
    )
    return (
        per_minute.groupBy("hour")
        .agg(
            F.count(F.lit(1)).alias("n_minutes"),
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias(
                "approx_distinct_users"
            ),
        )
        .orderBy("hour")
    )


def _stage_events_doubled(spark: SparkSession, sf_dir: str) -> str:
    """Stage events UNION ALL events as ONE parquet file: an
    at-least-once source that replayed every record exactly twice.
    A single file keeps availableNow to one deterministic
    micro-batch, so the dedup outcome is exact (no dup can straddle
    a watermark advance)."""
    import hashlib
    import os
    import tempfile

    src = os.path.join(sf_dir, "events.parquet")
    mtime = int(os.path.getmtime(src)) if os.path.exists(src) else 0
    tag = hashlib.md5(f"{sf_dir}:double:{mtime}".encode()).hexdigest()[:10]
    staged = os.path.join(
        tempfile.gettempdir(), f"wilayah_spark_events2x_{tag}"
    )
    if not os.path.exists(os.path.join(staged, "_SUCCESS")):
        e = load_table(spark, sf_dir, "events")
        e.unionAll(e).coalesce(1).write.mode("overwrite").parquet(staged)
    return staged


_DEDUP_REPLAY_ORACLE = """
SELECT
  event_type,
  COUNT(*) AS n_events,
  ROUND(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) / 100.0, 2) AS total_value
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@register(
    "streaming_dedup_within_watermark",
    oracle=_DEDUP_REPLAY_ORACLE,
    tags=("streaming", "events", "dedup"),
    description="dropDuplicatesWithinWatermark un-doubles a replayed stream",
)
def streaming_dedup_within_watermark(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exactly-once repair through the REAL streaming path: the
    staged source replays every event twice; the pipeline is
    readStream → watermark → dropDuplicatesWithinWatermark(event_id)
    → memory sink (append). The oracle is the per-type profile of
    the ORIGINAL events — it hash-matches only if every replica was
    dropped (a doubled stream would double n_events). Summarization
    of the sink table is batch-side; value sums exact integer cents
    so the aggregate is order-independent."""
    import uuid

    from wilayah_aceh_etl_spark.streaming import (
        dedup_exact_replay,
        read_event_stream,
    )

    staged = _stage_events_doubled(spark, sf_dir)
    name = f"stream_dedup_{uuid.uuid4().hex[:8]}"
    q = (
        dedup_exact_replay(read_event_stream(spark, staged))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    cents = F.round(F.col("value") * 100, 0).cast("long")
    return (
        spark.table(name)
        .select("event_type", cents.alias("cents"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("cents") / 100.0, 2).alias("total_value"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Exact mergeable distinct via bitmaps (the pre-aggregation scale path)
# ---------------------------------------------------------------------------

_BITMAP_DISTINCT_ORACLE = """
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS distinct_users
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@register(
    "events_bitmap_distinct_rollup",
    oracle=_BITMAP_DISTINCT_ORACLE,
    tags=("events", "rollup", "bitmap", "distinct"),
    description="exact distinct users via mergeable hourly bitmap partials",
)
def events_bitmap_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT(DISTINCT) as a mergeable rollup: hourly partial
    bitmaps (bitmap_construct_agg over bitmap_bit_position, bucketed
    by bitmap_bucket_number) are OR-merged across hours and summed.

    This is the EXACT counterpart of the HLL rollup in
    events_hll_rollup: unlike a raw COUNT(DISTINCT), the hourly
    partials are reusable — any time-range distinct count is an OR
    of stored partials, never a rescan. At 100 TB the partials are
    what you materialize; re-aggregation cost is proportional to
    bitmap count, not row count. The oracle is a plain
    COUNT(DISTINCT): bitmaps are exact, so this hash-matches."""
    e = load_table(spark, sf_dir, "events")
    hourly = (
        e.select(
            "event_type",
            F.date_trunc("hour", "ts").alias("hour"),
            F.expr("bitmap_bucket_number(user_id)").alias("bucket"),
            F.expr("bitmap_bit_position(user_id)").alias("pos"),
        )
        .groupBy("event_type", "hour", "bucket")
        .agg(F.expr("bitmap_construct_agg(pos)").alias("bm"))
    )
    merged = hourly.groupBy("event_type", "bucket").agg(
        F.expr("bitmap_or_agg(bm)").alias("bm")
    )
    return (
        merged.select("event_type", F.expr("bitmap_count(bm)").alias("n"))
        .groupBy("event_type")
        .agg(F.sum("n").alias("distinct_users"))
        .orderBy("event_type")
    )


@register(
    "events_cms_heavy_hitters",
    oracle=None,  # no count-min twin in DuckDB — rows-only; the
    # estimate-vs-exact error bound is pinned in tests/test_ext_operators.py
    tags=("events", "sketch", "cms"),
    description="count-min sketch frequency estimates for the hottest users",
)
def events_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter frequencies from ONE count-min sketch pass: the
    sketch is a fixed 0.1%-eps / 99%-confidence summary (a few KB)
    built in a single distributed aggregation (mergeable across
    partitions/time ranges the same way the HLL and bitmap rollups
    are); per-key estimates are then probed from the collected
    sketch by a pure-Python wire-format reader
    (functions/sketches.py) — O(1) per probe on a KB-sized object,
    the one deliberate driver-side step, and Spark-Connect-safe (no
    spark._jvm reflection; the sketch bytes are ordinary row data).
    At 100 TB the sketch replaces a full groupBy when only known
    keys need frequencies: the shuffle carries one sketch per
    partition instead of one row per key. Count-min guarantees
    estimate >= true and (estimate - true) <= eps·N at the stated
    confidence; the test pins both bounds against exact counts AND
    the reader against the JVM implementation. The fixed seed makes
    the output deterministic, so the rows-only gate is stable
    across runs."""
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
    top = (
        e.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), "user_id")
        .limit(20)
        .collect()
    )
    sketch = CountMinSketchReader.from_bytes(cms_bytes)
    rows = [
        (r["user_id"], r["exact_n"], sketch.estimate_count(r["user_id"]))
        for r in top
    ]
    return local_frame(
        spark, rows, "user_id long, exact_n long, est_n long"
    ).orderBy(F.col("exact_n").desc(), "user_id")


# ---------------------------------------------------------------------------
# SCD2 dimension build (change events → validity intervals)
# ---------------------------------------------------------------------------

_SCD2_ORACLE = """
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER w AS prev_type
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), flagged AS (
  SELECT *, CASE WHEN prev_type IS NULL OR prev_type <> event_type
                 THEN 1 ELSE 0 END AS is_change
  FROM ordered
), islands AS (
  SELECT *, SUM(is_change) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS island
  FROM flagged
), intervals AS (
  SELECT user_id, event_type, island,
         MIN(ts) AS valid_from,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM islands
  GROUP BY user_id, event_type, island
)
SELECT user_id, event_type, valid_from,
       lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from)
         AS valid_to,
       n_events,
       CAST(lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from)
            IS NULL AS BOOLEAN) AS is_current
FROM intervals
ORDER BY user_id, valid_from
"""


@register(
    "scd2_user_state_history",
    oracle=_SCD2_ORACLE,
    tags=("events", "scd2", "window", "temporal"),
    description="SCD2 build: change events collapsed to validity intervals",
)
def scd2_user_state_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 from a change stream:
    consecutive same-state runs collapse to one row with
    [valid_from, valid_to) and an is_current flag — the warehouse
    dimension the as-of join (events_asof_last_purchase) would probe.
    Three window passes + one aggregate, ALL partitioned by user_id:
    one data shuffle total — every subsequent window and the
    aggregate reuse that hash partitioning (user_id is a subset of
    the group keys, so ClusteredDistribution is already satisfied);
    the only other Exchange in the plan is the presentation ORDER BY.
    Ties on ts break by event_id so islands are deterministic."""
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = e.select(
        "user_id", "event_type", "ts", "event_id",
        F.lag("event_type").over(w).alias("prev_type"),
    ).withColumn(
        "is_change",
        (
            F.col("prev_type").isNull()
            | (F.col("prev_type") != F.col("event_type"))
        ).cast("int"),
    )
    islands = flagged.withColumn(
        "island", F.sum("is_change").over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    intervals = islands.groupBy("user_id", "event_type", "island").agg(
        F.min("ts").alias("valid_from"),
        F.count(F.lit(1)).alias("n_events"),
    )
    w2 = W.partitionBy("user_id").orderBy("valid_from")
    return (
        intervals.select(
            "user_id", "event_type", "valid_from",
            F.lead("valid_from").over(w2).alias("valid_to"),
            "n_events",
        )
        .withColumn("is_current", F.col("valid_to").isNull())
        .orderBy("user_id", "valid_from")
    )


# ---------------------------------------------------------------------------
# CDC apply: collapse an insert/update/delete change log to final state
# ---------------------------------------------------------------------------

_CDC_ORACLE = """
WITH log AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type = 'signup' THEN 'I'
              WHEN event_type = 'error'  THEN 'D'
              ELSE 'U' END AS op,
         ROUND(value, 2) AS v
  FROM events
),
ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rk,
         COUNT(*) OVER (PARTITION BY user_id) AS n_ops
  FROM log
)
SELECT user_id, ts AS last_ts, op AS last_op, v AS last_value,
       CAST(n_ops AS BIGINT) AS n_ops
FROM ranked
WHERE rk = 1 AND op != 'D'
ORDER BY user_id
"""


@register(
    "cdc_last_writer_apply",
    oracle=_CDC_ORACLE,
    tags=("events", "cdc", "merge", "window", "temporal"),
    description="CDC apply: I/U/D change log collapsed to live final state",
)
def cdc_last_writer_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture apply — the lakehouse MERGE pattern
    without a transactional table format: the event stream is read
    as a change log (signup→insert, error→delete tombstone,
    everything else→update), ranked per key by (ts, event_id)
    descending, and only each key's latest operation survives; a
    tombstone-last key is dropped entirely. One shuffle on the key;
    at 100 TB this runs per ingest batch over only the keys present
    in the batch, then merges into the base table (the same
    last-writer-wins window as wilayah_upsert_last_wins). The
    event_id tie-break makes concurrent same-timestamp ops
    deterministic — the property a real CDC consumer needs."""
    from pyspark.sql import Window as W

    log = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "signup", "I")
        .when(F.col("event_type") == "error", "D")
        .otherwise("U")
        .alias("op"),
        F.round(F.col("value"), 2).alias("v"),
    )
    w = W.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    wc = W.partitionBy("user_id")
    return (
        log.withColumn("rk", F.row_number().over(w))
        .withColumn("n_ops", F.count(F.lit(1)).over(wc))
        .filter((F.col("rk") == 1) & (F.col("op") != "D"))
        .select(
            "user_id",
            F.col("ts").alias("last_ts"),
            F.col("op").alias("last_op"),
            F.col("v").alias("last_value"),
            F.col("n_ops").cast("long").alias("n_ops"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# EWMA: inherently-sequential per-key state via applyInPandas
# ---------------------------------------------------------------------------

_EWMA_ORACLE = """
WITH RECURSIVE seq AS (
  SELECT user_id, event_id, ROUND(value, 2) AS x,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events WHERE user_id < 20
),
ewma AS (
  SELECT user_id, rn, event_id, x, CAST(x AS DOUBLE) AS e
  FROM seq WHERE rn = 1
  UNION ALL
  SELECT s.user_id, s.rn, s.event_id, s.x, 0.2 * s.x + 0.8 * w.e
  FROM seq s JOIN ewma w ON s.user_id = w.user_id AND s.rn = w.rn + 1
)
SELECT user_id, event_id, x, ROUND(e, 6) AS ewma_02
FROM ewma ORDER BY user_id, rn
"""


@register(
    "events_ewma_per_user",
    oracle=_EWMA_ORACLE,
    tags=("events", "ewma", "pandas-udf", "sequential", "temporal"),
    description="per-user EWMA (alpha=0.2) via applyInPandas grouped state",
)
def events_ewma_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average per user — the
    inherently-SEQUENTIAL per-key recurrence (e_t = αx_t + (1-α)e_{t-1})
    that no associative window aggregate can express. Each user's
    timeline is a single pandas group (applyInPandas; Arrow batch in,
    vectorized within the group), keys are hash-distributed so 100 TB
    of users parallelize across executors even though each timeline
    is serial. The oracle replays the identical recurrence as a
    DuckDB recursive CTE: both engines evaluate the same FP ops in
    the same order, so results agree bit-for-bit before the final
    rounding."""
    import pandas as pd

    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") < 20)
        .select(
            "user_id", "event_id", "ts", F.round("value", 2).alias("x")
        )
    )

    def ewma(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"])
        prev = None
        out = []
        for x in pdf["x"]:
            prev = float(x) if prev is None else 0.2 * float(x) + 0.8 * prev
            out.append(prev)
        pdf = pdf.assign(ewma_raw=out)
        return pdf[["user_id", "event_id", "x", "ewma_raw"]]

    return (
        e.groupBy("user_id")
        .applyInPandas(
            ewma,
            "user_id long, event_id long, x double, ewma_raw double",
        )
        .select(
            "user_id",
            "event_id",
            "x",
            F.round("ewma_raw", 6).alias("ewma_02"),
        )
        .orderBy("user_id", "event_id")
    )


# ---------------------------------------------------------------------------
# M4 downsampling (Jugel et al., VLDB'14) — visualization-lossless
# ---------------------------------------------------------------------------

_M4_ORACLE = """
WITH b AS (
  SELECT event_type, value, epoch_us(ts) AS e, event_id FROM events
),
span AS (SELECT MIN(e) AS e0, MAX(e) AS e1 FROM b),
pix AS (
  SELECT event_type, value, event_id, e,
    CAST(least(399, CAST(floor((e - e0) * 400.0 / (e1 - e0 + 1)) AS BIGINT))
         AS BIGINT) AS bucket
  FROM b, span
),
rn AS (
  SELECT *,
    ROW_NUMBER() OVER (PARTITION BY event_type, bucket
                       ORDER BY e, event_id) AS rf,
    ROW_NUMBER() OVER (PARTITION BY event_type, bucket
                       ORDER BY e DESC, event_id DESC) AS rl
  FROM pix
)
SELECT event_type, bucket,
  CAST(COUNT(*) AS BIGINT) AS n_points,
  ROUND(MIN(value), 2) AS min_v,
  ROUND(MAX(value), 2) AS max_v,
  ROUND(MAX(CASE WHEN rf = 1 THEN value END), 2) AS first_v,
  ROUND(MAX(CASE WHEN rl = 1 THEN value END), 2) AS last_v
FROM rn
GROUP BY event_type, bucket
ORDER BY event_type, bucket
"""


@register(
    "events_m4_downsample",
    oracle=_M4_ORACLE,
    tags=("events", "downsample", "m4", "window"),
    description="M4 downsampling: first/last/min/max per pixel bucket",
)
def events_m4_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 downsampling (Jugel et al., VLDB'14): for a 400-pixel-wide
    chart, keep exactly the first/last/min/max of each series per
    pixel column — the provably visualization-lossless reduction for
    line charts, and the op a monitoring store runs on every zoomed-
    out query. The bucket key is exact integer epoch math on a
    broadcast 1-row global span; first/last are pinned by (ts,
    event_id) row_numbers so ties break identically in both engines.
    One shuffle on (series, bucket); output is O(series × pixels),
    independent of input volume — the whole point at 100 TB."""
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        "value",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("e"),
        "event_id",
    )
    span = e.agg(F.min("e").alias("e0"), F.max("e").alias("e1"))
    pix = e.join(F.broadcast(span)).withColumn(
        "bucket",
        F.least(
            F.lit(399),
            F.floor(
                (F.col("e") - F.col("e0"))
                * 400.0
                / (F.col("e1") - F.col("e0") + 1)
            ).cast("long"),
        ).cast("long"),
    )
    wf = Window.partitionBy("event_type", "bucket").orderBy("e", "event_id")
    wl = Window.partitionBy("event_type", "bucket").orderBy(
        F.col("e").desc(), F.col("event_id").desc()
    )
    return (
        pix.withColumn("rf", F.row_number().over(wf))
        .withColumn("rl", F.row_number().over(wl))
        .groupBy("event_type", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.round(F.min("value"), 2).alias("min_v"),
            F.round(F.max("value"), 2).alias("max_v"),
            F.round(
                F.max(F.when(F.col("rf") == 1, F.col("value"))), 2
            ).alias("first_v"),
            F.round(
                F.max(F.when(F.col("rl") == 1, F.col("value"))), 2
            ).alias("last_v"),
        )
        .orderBy("event_type", "bucket")
    )


# ---------------------------------------------------------------------------
# Table-argument UDTF: per-user event-type runs (gaps-and-islands)
# ---------------------------------------------------------------------------

_RUNS_ORACLE = """
WITH o AS (
  SELECT user_id, event_type, event_id,
    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
    ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                       ORDER BY ts, event_id) AS rt
  FROM events
)
SELECT user_id, event_type,
  CAST(COUNT(*) AS BIGINT) AS run_len,
  CAST(arg_min(event_id, rn) AS BIGINT) AS start_event_id,
  CAST(arg_max(event_id, rn) AS BIGINT) AS end_event_id
FROM o
GROUP BY user_id, event_type, rn - rt
ORDER BY user_id, start_event_id
"""


@register(
    "udtf_event_runs",
    oracle=_RUNS_ORACLE,
    tags=("events", "udtf", "table-arg", "islands"),
    description="table-arg UDTF: maximal same-type event runs per user",
)
def udtf_event_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's polymorphic-UDTF surface end-to-end: the engine
    passes TABLE(events) PARTITION BY user_id ORDER BY (ts, event_id)
    into a Python table function that streams each user's timeline
    once and emits maximal same-type runs. Held to a pure-SQL
    gaps-and-islands oracle — certifying the imperative per-group
    pass against the relational formulation (same discipline as the
    chunker UDTF vs its expression twin). One shuffle on user_id;
    per-group state is O(1)."""
    from wilayah_aceh_etl_spark.functions.udtfs import register_udtfs

    register_udtfs(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events_v")
    return spark.sql(
        """
        SELECT * FROM event_runs(
          TABLE(events_v) PARTITION BY user_id ORDER BY (ts, event_id)
        )
        ORDER BY user_id, start_event_id
        """
    )


@register(
    "streaming_m4_downsample",
    oracle=_M4_ORACLE,
    tags=("streaming", "events", "downsample", "m4"),
    description="Structured Streaming M4 downsample, oracle-checked",
)
def streaming_m4_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 through the REAL streaming path: the chart's x-domain
    (global [min,max] epoch span) is fixed by a one-row batch
    pre-pass — exactly how a live dashboard pins its axis — then the
    stream aggregates first/last/min/max per (series, pixel) with
    min_by/max_by over the (ts, event_id) order, state O(series ×
    pixels). Held to the same oracle as the batch twin, so the
    incremental aggregation provably matches the relational
    formulation."""
    import uuid

    from wilayah_aceh_etl_spark.streaming import read_event_stream

    staged = _stage_events(spark, sf_dir)
    span = (
        spark.read.parquet(staged)
        .agg(
            F.min(F.unix_micros(F.col("ts").cast("timestamp"))).alias("e0"),
            F.max(F.unix_micros(F.col("ts").cast("timestamp"))).alias("e1"),
        )
        .head()
    )
    e0, e1 = int(span["e0"]), int(span["e1"])
    s = read_event_stream(spark, staged).select(
        "event_type",
        "value",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("e"),
    )
    bucket = F.least(
        F.lit(399),
        F.floor((F.col("e") - F.lit(e0)) * 400.0 / F.lit(e1 - e0 + 1)).cast(
            "long"
        ),
    ).cast("long")
    order_key = F.struct("e", "event_id")
    agg = (
        s.withColumn("bucket", bucket)
        .groupBy("event_type", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.round(F.min("value"), 2).alias("min_v"),
            F.round(F.max("value"), 2).alias("max_v"),
            F.round(F.min_by("value", order_key), 2).alias("first_v"),
            F.round(F.max_by("value", order_key), 2).alias("last_v"),
        )
    )
    name = f"stream_m4_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name).orderBy("event_type", "bucket")


# ---------------------------------------------------------------------------
# Robust outliers: median absolute deviation per event type
# ---------------------------------------------------------------------------

_MAD_ORACLE = """
WITH med AS (
  SELECT event_type, median(value) AS med FROM events GROUP BY event_type
),
dev AS (
  SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS adev
  FROM events e JOIN med m ON e.event_type = m.event_type
),
mad AS (
  SELECT event_type, median(adev) AS mad FROM dev GROUP BY event_type
)
SELECT d.event_type,
  ROUND(MAX(d.med), 4) AS median_value,
  ROUND(MAX(m.mad), 4) AS mad,
  CAST(SUM(CASE WHEN d.adev > 3 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
    AS n_outliers,
  CAST(COUNT(*) AS BIGINT) AS n_events
FROM dev d JOIN mad m ON d.event_type = m.event_type
GROUP BY d.event_type
ORDER BY d.event_type
"""


@register(
    "events_mad_outliers",
    oracle=_MAD_ORACLE,
    tags=("events", "robust-stats", "mad", "outliers"),
    description="median-absolute-deviation outlier counts per event type",
)
def events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection: per event type, the median, the MAD
    (median of absolute deviations), and how many events sit beyond
    3·MAD — the screen that survives the very outliers a mean/std
    z-score is corrupted by (events_hourly_anomaly is the parametric
    twin). Two exact-median passes; each is one shuffle on the
    (low-cardinality) type key, and the tiny per-type statistics
    broadcast back against the fact rows. At extreme scale the
    medians would switch to approx_percentile partials — noted, same
    plan shape."""
    e = load_table(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(F.median("value").alias("med"))
    dev = e.join(F.broadcast(med), "event_type").select(
        "event_type",
        "value",
        "med",
        F.abs(F.col("value") - F.col("med")).alias("adev"),
    )
    mad = dev.groupBy("event_type").agg(F.median("adev").alias("mad"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.max("med"), 4).alias("median_value"),
            F.round(F.max("mad"), 4).alias("mad"),
            F.sum(
                F.when(F.col("adev") > 3 * F.col("mad"), 1).otherwise(0)
            ).alias("n_outliers"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Cogrouped-map pandas UDF: click vs purchase timelines per user
# ---------------------------------------------------------------------------

_COGROUP_ORACLE = """
SELECT user_id,
  CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS n_clicks,
  CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS n_purchases,
  CAST(MIN(epoch_us(ts)) FILTER (WHERE event_type = 'click') AS BIGINT)
    AS first_click_us,
  CAST(MIN(epoch_us(ts)) FILTER (WHERE event_type = 'purchase') AS BIGINT)
    AS first_purchase_us
FROM events
WHERE event_type IN ('click', 'purchase')
GROUP BY user_id
ORDER BY user_id
"""


@register(
    "cogroup_click_purchase_stats",
    oracle=_COGROUP_ORACLE,
    tags=("events", "pandas-udf", "cogroup"),
    description="cogroup().applyInPandas: per-user click vs purchase timelines",
)
def cogroup_click_purchase_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cogrouped-map UDF surface: two relations grouped on the
    same key arrive as a PAIR of Arrow batches per key in one Python
    function — the shape for custom two-sided per-key logic (asof
    reconciliation, interleaved replay) when relational forms run
    out. Certified here against a conditional-aggregation oracle so
    the plumbing (two-sided shuffle co-location, empty-side
    semantics: keys present on either side must still emit) is
    hash-checked. Both sides shuffle once on user_id, co-located."""
    import pandas as pd

    e = load_table(spark, sf_dir, "events")
    micros = F.unix_micros(F.col("ts").cast("timestamp")).alias("e_us")
    clicks = e.filter(F.col("event_type") == "click").select("user_id", micros)
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", micros
    )

    def merge(key, cdf: pd.DataFrame, pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_clicks": [len(cdf)],
                "n_purchases": [len(pdf)],
                "first_click_us": [
                    int(cdf["e_us"].min()) if len(cdf) else None
                ],
                "first_purchase_us": [
                    int(pdf["e_us"].min()) if len(pdf) else None
                ],
            }
        )

    return (
        clicks.groupBy("user_id")
        .cogroup(purchases.groupBy("user_id"))
        .applyInPandas(
            merge,
            schema="user_id long, n_clicks long, n_purchases long, "
            "first_click_us long, first_purchase_us long",
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Burst detection: peak trailing-5-minute rate per event type
# ---------------------------------------------------------------------------

_BURST_ORACLE = """
WITH per_min AS (
  SELECT event_type,
    CAST(epoch_us(date_trunc('minute', ts)) / 60000000 AS BIGINT) AS minute,
    CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
rolling AS (
  SELECT event_type, minute, n,
    CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY minute
                      RANGE BETWEEN 4 PRECEDING AND CURRENT ROW) AS BIGINT)
      AS n_5min
  FROM per_min
)
SELECT event_type,
  CAST(MAX(n_5min) AS BIGINT) AS peak_5min,
  CAST(MIN(minute) FILTER (WHERE n_5min = m.best) AS BIGINT) AS peak_minute
FROM rolling r
JOIN (SELECT event_type AS et, MAX(n_5min) AS best
      FROM rolling GROUP BY 1) m
  ON r.event_type = m.et
GROUP BY event_type
ORDER BY event_type
"""


@register(
    "events_burst_peaks",
    oracle=_BURST_ORACLE,
    tags=("events", "window-time", "burst"),
    description="peak trailing-5-minute event rate per type",
)
def events_burst_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst detection: pre-aggregate to per-minute counts (the data
    reduction that makes the window cheap — the RANGE frame then
    slides over minutes, not raw events), take the trailing-5-minute
    sum, report each type's peak and its earliest peak minute. The
    minute key is integer epoch-minutes so the RANGE frame is pure
    integer arithmetic in both engines."""
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    per_min = (
        e.select(
            "event_type",
            (
                F.unix_micros(F.date_trunc("minute", F.col("ts").cast("timestamp")))
                / 60_000_000
            )
            .cast("long")
            .alias("minute"),
        )
        .groupBy("event_type", "minute")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("minute")
        .rangeBetween(-4, Window.currentRow)
    )
    rolling = per_min.withColumn("n_5min", F.sum("n").over(w))
    best = rolling.groupBy(F.col("event_type").alias("et")).agg(
        F.max("n_5min").alias("best")
    )
    return (
        rolling.join(
            F.broadcast(best),
            rolling.event_type == F.col("et"),
        )
        .groupBy("event_type")
        .agg(
            F.max("n_5min").alias("peak_5min"),
            F.min(
                F.when(F.col("n_5min") == F.col("best"), F.col("minute"))
            ).alias("peak_minute"),
        )
        .orderBy("event_type")
    )


_ENTROPY_ORACLE = """
WITH c AS (
  SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY user_id, event_type
),
t AS (
  SELECT user_id, CAST(SUM(n) AS BIGINT) AS tot FROM c GROUP BY user_id
)
SELECT c.user_id,
  CAST(MAX(t.tot) AS BIGINT) AS n_events,
  CAST(COUNT(*) AS BIGINT) AS n_types,
  ROUND(SUM(-(c.n * 1.0 / t.tot) * ln(c.n * 1.0 / t.tot)), 6) AS entropy
FROM c JOIN t ON c.user_id = t.user_id
GROUP BY c.user_id
ORDER BY c.user_id
"""


@register(
    "events_user_entropy",
    oracle=_ENTROPY_ORACLE,
    tags=("events", "entropy", "feature"),
    description="behavioral entropy of each user's event-type distribution",
)
def events_user_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral-diversity feature: Shannon entropy of each user's
    event-type mix — 0 for single-action bots, ln(n_types) for
    uniform explorers; a standard feature-store column and the
    per-key micro-version of the corpus-level KL audit
    (text_source_kl_divergence). Two keyed aggregates on user_id —
    co-partitioned, so the join after them adds no exchange."""
    e = load_table(spark, sf_dir, "events")
    c = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    t = c.groupBy("user_id").agg(F.sum("n").alias("tot"))
    p = F.col("n") * 1.0 / F.col("tot")
    return (
        c.join(t, "user_id")
        .groupBy("user_id")
        .agg(
            F.max("tot").alias("n_events"),
            F.count(F.lit(1)).alias("n_types"),
            F.round(F.sum(-p * F.log(p)), 6).alias("entropy"),
        )
        .orderBy("user_id")
    )


_DOW_HOUR_ORACLE = """
SELECT CAST(dayofweek(ts) AS BIGINT) AS dow,
       CAST(hour(ts) AS BIGINT) AS hour,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 2) AS total_value
FROM events
GROUP BY 1, 2
ORDER BY dow, hour
"""


@register(
    "events_dow_hour_matrix",
    oracle=_DOW_HOUR_ORACLE,
    tags=("events", "calendar", "heatmap"),
    description="day-of-week x hour activity matrix",
)
def events_dow_hour_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ops-dashboard heatmap: activity by (day-of-week, hour) —
    a bounded 7×24 output whatever the input volume, so it is pure
    map-side partials plus one tiny exchange. DuckDB's dayofweek is
    0=Sunday while Spark's dayofweek is 1=Sunday; normalized to the
    DuckDB convention here so the keys hash-match."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            (F.dayofweek("ts") - 1).cast("long").alias("dow"),
            F.hour("ts").cast("long").alias("hour"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("dow", "hour")
    )


# ---------------------------------------------------------------------------
# Session-length distribution (the engagement histogram)
# ---------------------------------------------------------------------------


@register(
    "events_session_length_histogram",
    oracle="""
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN ts - LAG(ts) OVER w > INTERVAL '10 minutes'
                OR LAG(ts) OVER w IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
numbered AS (
  SELECT user_id,
         SUM(new_session) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS UNBOUNDED PRECEDING
         ) AS session_id
  FROM flagged
),
sessions AS (
  SELECT user_id, session_id, CAST(COUNT(*) AS BIGINT) AS n_events
  FROM numbered GROUP BY user_id, session_id
)
SELECT n_events AS session_length,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(n_events) AS BIGINT) AS n_events_total
FROM sessions GROUP BY n_events ORDER BY session_length
""",
    tags=("events", "session", "histogram", "engagement"),
    description="distribution of session lengths (10-min-gap sessions)",
)
def events_session_length_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Engagement profile: sessionize with the native session_window
    (same merging-state op the streaming path uses), then histogram
    the per-session event counts. Two aggregations — the session
    build shuffles on user_id, the histogram on the (small) length
    domain; nothing scales with anything but the event count."""
    e = load_table(spark, sf_dir, "events")
    sessions = e.groupBy(
        F.session_window("ts", "10 minutes"), "user_id"
    ).agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    return (
        sessions.groupBy(F.col("n_events").alias("session_length"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            F.sum("n_events").cast("long").alias("n_events_total"),
        )
        .orderBy("session_length")
    )


# ---------------------------------------------------------------------------
# Concurrency sweepline: peak simultaneous sessions per day
# ---------------------------------------------------------------------------


@register(
    "events_peak_concurrent_sessions",
    oracle="""
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN ts - LAG(ts) OVER w > INTERVAL '10 minutes'
                OR LAG(ts) OVER w IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
numbered AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS UNBOUNDED PRECEDING
         ) AS session_id
  FROM flagged
),
sessions AS (
  SELECT user_id, session_id, MIN(ts) AS s,
         MAX(ts) + INTERVAL '10 minutes' AS e
  FROM numbered GROUP BY user_id, session_id
),
pts AS (
  SELECT s AS t, 1 AS delta FROM sessions
  UNION ALL
  SELECT e AS t, -1 AS delta FROM sessions
),
run AS (
  SELECT t, SUM(delta) OVER (ORDER BY t, delta
                             ROWS UNBOUNDED PRECEDING) AS conc
  FROM pts
)
SELECT strftime(date_trunc('day', t), '%Y-%m-%d') AS day,
       CAST(MAX(conc) AS BIGINT) AS peak_concurrent
FROM run GROUP BY 1 ORDER BY day
""",
    tags=("events", "session", "sweepline", "concurrency"),
    description="peak simultaneous sessions per day (interval sweepline)",
)
def events_peak_concurrent_sessions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Capacity question: how many sessions overlap at the worst
    moment of each day? Session intervals become ±1 boundary points;
    one global-ordered running sum (the sweepline) yields concurrency
    at every boundary. The partition-less window is fed by the
    SESSION AGGREGATE (2 rows per session, not per event), which is
    what keeps a global sort viable — and at true scale the sweepline
    shards by day with carry-in offsets (the two-phase prefix-sum
    pattern used by the watermark-lateness audit). Ends sort before
    starts at equal timestamps (delta −1 < +1): half-open intervals,
    so back-to-back sessions never double-count."""
    e = load_table(spark, sf_dir, "events")
    sessions = e.groupBy(
        F.session_window("ts", "10 minutes").alias("w"), "user_id"
    ).agg(F.count(F.lit(1)).alias("n"))
    from pyspark.sql.window import Window

    pts = sessions.select(
        F.col("w.start").alias("t"), F.lit(1).alias("delta")
    ).unionByName(
        sessions.select(F.col("w.end").alias("t"), F.lit(-1).alias("delta"))
    )
    run = pts.select(
        "t",
        F.sum("delta")
        .over(
            Window.orderBy("t", "delta").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .alias("conc"),
    )
    return (
        run.groupBy(
            F.date_format(F.date_trunc("day", "t"), "yyyy-MM-dd").alias(
                "day"
            )
        )
        .agg(F.max("conc").cast("long").alias("peak_concurrent"))
        .orderBy("day")
    )
