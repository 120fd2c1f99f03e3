"""Structured Streaming operators: availableNow runs over file
sources must agree with the oracle-checked batch twins."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE, split_layout
from wilayah_aceh_etl_spark.sources.tables import load_table
from wilayah_aceh_etl_spark.streaming import (
    click_purchase_attribution,
    dedup_first_per_key,
    enriched_segment_counts,
    read_event_stream,
    running_user_totals,
    session_counts,
    tumbling_counts,
)


@pytest.fixture(scope="module")
def event_files(spark, tmp_path_factory):
    """Event files for streaming reads: a directory of part files,
    which the streaming file source needs (the testdata holds one
    file per table)."""
    path = str(tmp_path_factory.mktemp("events_stream"))
    load_table(spark, SF_SMOKE, "events").repartition(4).write.mode(
        "overwrite"
    ).parquet(path)
    return path


def _run_to_memory(df, name: str):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete" if name.startswith("agg") else "append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_tumbling_matches_batch(spark, event_files):
    stream = read_event_stream(spark, event_files)
    name = f"agg_tumbling_{uuid.uuid4().hex[:8]}"
    _run_to_memory(tumbling_counts(stream), name)
    got = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in spark.table(name).collect()
    }
    from wilayah_aceh_etl_spark.plans.events_queries import (
        events_tumbling_window_counts,
    )

    want = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in events_tumbling_window_counts(spark, SF_SMOKE).collect()
    }
    assert got == want


def test_session_matches_batch(spark, event_files):
    stream = read_event_stream(spark, event_files)
    name = f"agg_session_{uuid.uuid4().hex[:8]}"
    _run_to_memory(session_counts(stream), name)
    got = {
        (r.user_id, r.session_start): (r.session_end, r.n_events)
        for r in spark.table(name).collect()
    }
    from wilayah_aceh_etl_spark.plans.events_queries import events_session_windows

    want = {
        (r.user_id, r.session_start): (r.session_end, r.n_events)
        for r in events_session_windows(spark, SF_SMOKE).collect()
    }
    assert got == want


def test_stream_stream_join_matches_batch(spark, event_files):
    stream = read_event_stream(spark, event_files)
    name = f"ssjoin_{uuid.uuid4().hex[:8]}"
    _run_to_memory(click_purchase_attribution(stream), name)
    got = {
        (r.click_id, r.purchase_id) for r in spark.table(name).collect()
    }
    e = load_table(spark, SF_SMOKE, "events")
    c = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    want = {
        (r.click_id, r.purchase_id)
        for r in c.join(
            p,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("click_ts") < F.col("purchase_ts"))
            & (
                F.col("purchase_ts")
                <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")
            ),
        ).collect()
    }
    assert got == want and len(want) > 0


def test_stream_static_join_matches_batch(spark, event_files):
    users = (
        load_table(spark, SF_SMOKE, "customer")
        .select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_mktsegment").alias("segment"),
        )
    )
    stream = read_event_stream(spark, event_files)
    name = f"agg_enriched_{uuid.uuid4().hex[:8]}"
    _run_to_memory(enriched_segment_counts(stream, users), name)
    got = {
        (r.window_start, r.segment): (r.n_events, r.total_value)
        for r in spark.table(name).collect()
    }
    batch = (
        load_table(spark, SF_SMOKE, "events")
        .join(users, "user_id")
        .groupBy(F.window("ts", "5 minutes").alias("w"), "segment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )
    want = {
        (r["w"].start, r.segment): (r.n_events, r.total_value)
        for r in batch.collect()
    }
    assert got == want


def test_dedup_stream_runs(spark, event_files):
    stream = read_event_stream(spark, event_files)
    name = f"dedup_{uuid.uuid4().hex[:8]}"
    _run_to_memory(dedup_first_per_key(stream), name)
    out = spark.table(name)
    n_keys = out.select("user_id", "event_type").distinct().count()
    assert out.count() == n_keys  # at most one row per key
    batch_keys = (
        load_table(spark, SF_SMOKE, "events")
        .select("user_id", "event_type")
        .distinct()
        .count()
    )
    assert n_keys == batch_keys


def test_running_totals_stateful(spark, event_files):
    stream = read_event_stream(spark, event_files)
    name = f"totals_{uuid.uuid4().hex[:8]}"
    q = (
        running_user_totals(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # last update per user must equal the batch totals
    out = spark.table(name)
    from pyspark.sql.window import Window

    last = (
        out.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
            ),
        )
        .filter("rn = 1")
        .select("user_id", "n_events", "total_value")
    )
    batch = (
        load_table(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )
    got = {r.user_id: (r.n_events, r.total_value) for r in last.collect()}
    want = {r.user_id: (r.n_events, r.total_value) for r in batch.collect()}
    assert got == want


def test_watermark_drops_late_rows_across_runs(spark, tmp_path):
    """Late-data policy end-to-end: a row arriving after the
    watermark passed its window is DROPPED, not merged — verified
    through a parquet sink + checkpoint across three availableNow
    runs (the third proves exactly-once: no new files → no new rows).
    """
    import datetime as dt

    src = str(tmp_path / "src")
    ck = str(tmp_path / "ck")
    out = str(tmp_path / "out")
    t = lambda m: dt.datetime(2024, 1, 1, 0, m, 0)  # noqa: E731

    def write_batch(rows):
        spark.createDataFrame(
            [(i, ts, 1, "click", 1.0, "{}") for i, ts in enumerate(rows)],
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
        ).coalesce(1).write.mode("append").parquet(src)

    def run_once():
        q = (
            tumbling_counts(read_event_stream(spark, src))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # run 1: two rows in window 00:00-00:05; a row at 00:30 pushes the
    # watermark to 00:20 > 00:05, finalizing the first window
    write_batch([t(1), t(2), t(30)])
    run_once()
    rows = {
        (r.window_start, r.n_events)
        for r in spark.read.parquet(out).collect()
    }
    assert (t(0), 2) in rows  # first window emitted with both rows

    # run 2: a LATE row for the finalized 00:00 window (watermark
    # 00:20 ≫ window end) plus a fresh row at 00:50 that finalizes
    # the 00:30 window
    write_batch([t(3), t(50)])
    run_once()
    rows2 = sorted(
        (r.window_start, r.n_events)
        for r in spark.read.parquet(out).collect()
    )
    assert (t(0), 2) in rows2  # late row did NOT resurrect the window
    assert (t(0), 3) not in rows2 and (t(0), 1) not in rows2
    assert (t(30), 1) in rows2  # 00:30 window finalized by run 2

    # run 3: no new files → exactly-once means byte-identical output
    run_once()
    rows3 = sorted(
        (r.window_start, r.n_events)
        for r in spark.read.parquet(out).collect()
    )
    assert rows3 == rows2


def test_sliding_matches_batch(spark, event_files):
    from wilayah_aceh_etl_spark.streaming import sliding_rates

    stream = read_event_stream(spark, event_files)
    name = f"agg_sliding_{uuid.uuid4().hex[:8]}"
    _run_to_memory(sliding_rates(stream), name)
    got = {
        r.window_start: (r.n_events, r.total_value)
        for r in spark.table(name).collect()
    }
    from wilayah_aceh_etl_spark.plans.events_queries import (
        events_sliding_window_rates,
    )

    want = {
        r.window_start: (r.n_events, r.total_value)
        for r in events_sliding_window_rates(spark, SF_SMOKE).collect()
    }
    assert got == want


def test_streaming_upsert_sink(spark, tmp_path):
    """foreachBatch keyed upsert: after two availableNow runs over a
    growing file source, the table holds exactly the latest event per
    (user_id, event_type) — and matches the batch computation."""
    import datetime as dt

    from pyspark.sql.window import Window

    from wilayah_aceh_etl_spark.streaming.sinks import upsert_stream

    src = str(tmp_path / "src")
    ck = str(tmp_path / "ck")
    table = str(tmp_path / "table")
    t = lambda m: dt.datetime(2024, 1, 1, 0, m, 0)  # noqa: E731

    def write_batch(rows):
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
        ).coalesce(1).write.mode("append").parquet(src)

    def run_once():
        q = (
            upsert_stream(
                read_event_stream(spark, src),
                table,
                ck,
                keys=["user_id", "event_type"],
                order_cols=["ts", "event_id"],
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    write_batch([(1, t(1), 7, "click", 1.0, "{}"), (2, t(2), 7, "click", 2.0, "{}"),
                 (3, t(1), 8, "view", 3.0, "{}")])
    run_once()
    got1 = {
        (r.user_id, r.event_type): r.value
        for r in spark.read.parquet(table).collect()
    }
    assert got1 == {(7, "click"): 2.0, (8, "view"): 3.0}

    # second run: newer click for user 7 wins; new key appears;
    # older-ts row for user 8 view loses
    write_batch([(4, t(9), 7, "click", 9.0, "{}"), (5, t(0), 8, "view", 0.5, "{}"),
                 (6, t(3), 9, "purchase", 4.0, "{}")])
    run_once()
    got2 = {
        (r.user_id, r.event_type): r.value
        for r in spark.read.parquet(table).collect()
    }
    assert got2 == {(7, "click"): 9.0, (8, "view"): 3.0, (9, "purchase"): 4.0}


def test_outer_join_emits_unmatched_after_watermark(spark, tmp_path):
    """LEFT OUTER stream-stream join: matched pairs emit immediately;
    an unmatched click emits null-padded only after a later run's
    watermark proves no match can arrive — state carries across the
    checkpointed restart."""
    import datetime

    from wilayah_aceh_etl_spark.streaming import (
        click_purchase_attribution_outer,
    )

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    base = datetime.datetime(2024, 1, 1, 0, 0, 0)

    def rows(*specs):
        return spark.createDataFrame(
            [
                (eid, base + datetime.timedelta(minutes=m), uid, et, 1.0, "{}")
                for eid, m, uid, et in specs
            ],
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double, props string",
        )

    out = str(tmp_path / "out")

    def run(name):
        # file sink (memory sink cannot recover from a checkpoint);
        # reads back the CUMULATIVE appended result
        stream = read_event_stream(spark, src)
        q = (
            click_purchase_attribution_outer(stream)
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return [
            (r.click_id, r.purchase_id)
            for r in spark.read.parquet(out).collect()
        ]

    # run 1: user 1's click matches a purchase; user 2's click has none
    rows(
        (10, 5, 1, "click"),
        (11, 20, 1, "purchase"),
        (20, 10, 2, "click"),
    ).coalesce(1).write.mode("append").parquet(src)
    got1 = run(f"outer1_{uuid.uuid4().hex[:8]}")
    assert (10, 11) in got1
    assert not any(c == 20 for c, _p in got1)  # unmatched not yet emitted

    # run 2: far-future flush events advance BOTH sides' watermarks
    # (policy is min-across-watermarks) past click_ts + horizon
    rows(
        (90, 240, 99, "click"),
        (91, 241, 98, "purchase"),
    ).coalesce(1).write.mode("append").parquet(src)
    got2 = run(f"outer2_{uuid.uuid4().hex[:8]}")
    assert got2.count((20, None)) == 1  # user 2's click, null-padded
    assert got2.count((10, 11)) == 1  # matched pair emitted exactly once


def test_dedup_within_watermark_undoes_replay(spark, event_files, tmp_path):
    """A stream that replays every record twice comes out exactly
    once per event_id — and per-key state is watermark-evicted
    (dropDuplicatesWithinWatermark), not retained forever."""
    from wilayah_aceh_etl_spark.streaming import dedup_exact_replay

    doubled = str(tmp_path / "doubled")
    e = spark.read.parquet(event_files)
    e.unionAll(e).coalesce(1).write.mode("overwrite").parquet(doubled)

    name = f"dedup_replay_{uuid.uuid4().hex[:8]}"
    _run_to_memory(dedup_exact_replay(read_event_stream(spark, doubled)), name)
    got = spark.table(name)
    assert got.count() == e.count()
    assert got.select("event_id").distinct().count() == e.count()


def test_ewma_custom_alpha_used_in_fold(spark, event_files):
    """Regression for the r3 advisory: running_user_ewma(alpha=0.5)
    must actually fold with 0.5/0.5 — compared against the batch
    recurrence computed in plain Python from the same ordered
    slice."""
    from wilayah_aceh_etl_spark.streaming import (
        read_event_stream,
        running_user_ewma,
    )

    stream = read_event_stream(spark, event_files).filter(
        F.col("user_id") < 5
    )
    q = (
        running_user_ewma(stream, alpha=0.5)
        .writeStream.format("memory")
        .queryName("ewma_alpha05")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.user_id: (r.n_events, r.ewma_02)
        for r in spark.table("ewma_alpha05").collect()
    }

    rows = (
        load_table(spark, SF_SMOKE, "events")
        .filter(F.col("user_id") < 5)
        .select("user_id", "ts", "event_id", "value")
        .orderBy("user_id", "ts", "event_id")
        .collect()
    )
    expect = {}
    for r in rows:
        n, e = expect.get(r.user_id, (0, None))
        e = float(r.value) if e is None else 0.5 * r.value + 0.5 * e
        expect[r.user_id] = (n + 1, e)
    assert set(got) == set(expect)
    for uid, (n, e) in expect.items():
        assert got[uid][0] == n
        assert abs(got[uid][1] - e) < 1e-9


def test_merge_last_wins_is_file_scoped(spark, tmp_path):
    """The generic streaming merge reads and rewrites only the files
    whose footer key-range intersects the batch — a narrow batch must
    leave the other range-files' inodes untouched."""
    import os

    from wilayah_aceh_etl_spark.streaming.sinks import merge_last_wins

    path = str(tmp_path / "scoped_merge")
    base = spark.range(10_000).select(
        F.col("id").alias("k"),
        F.lit(0).alias("ver"),
        (F.col("id") * 2).alias("v"),
    )
    with split_layout(spark):
        merge_last_wins(spark, path, base, ["k"], ["ver"])

    def stats():
        return {
            f: (os.stat(os.path.join(path, f)).st_ino,
                os.stat(os.path.join(path, f)).st_mtime_ns)
            for f in os.listdir(path)
            if f.endswith(".parquet")
        }

    before = stats()
    assert len(before) >= 4  # range layout split the table

    narrow = spark.createDataFrame(
        [(17, 1, 999), (18, 1, 998)], "k long, ver long, v long"
    )
    merge_last_wins(spark, path, narrow, ["k"], ["ver"])
    after = stats()
    kept = set(before.items()) & set(after.items())
    assert kept, "narrow merge rewrote every file"
    assert before != after

    t = spark.read.parquet(path)
    assert t.count() == 10_000
    got = {r.k: (r.ver, r.v) for r in t.filter("k in (17, 18, 19)").collect()}
    assert got == {17: (1, 999), 18: (1, 998), 19: (0, 38)}

    # event-time truth: an OLDER version never overwrites a newer one
    stale = spark.createDataFrame([(17, 0, 1)], "k long, ver long, v long")
    merge_last_wins(spark, path, stale, ["k"], ["ver"])
    assert (
        spark.read.parquet(path).filter("k = 17").collect()[0].ver == 1
    )


def test_merge_last_wins_schema_evolution(spark, tmp_path):
    """A batch carrying a NEW column merges without a table rewrite:
    touched files gain the column, untouched files are filled with
    nulls at read time (mergeSchema)."""
    from wilayah_aceh_etl_spark.streaming.sinks import merge_last_wins

    path = str(tmp_path / "evolve")
    base = spark.range(1000).select(
        F.col("id").alias("k"),
        F.lit(0).cast("long").alias("ver"),
        F.lit(1).cast("long").alias("v"),
    )
    merge_last_wins(spark, path, base, ["k"], ["ver"])

    evolved = spark.createDataFrame(
        [(5, 1, 2, "tagged")], "k long, ver long, v long, tag string"
    )
    merge_last_wins(spark, path, evolved, ["k"], ["ver"])

    t = spark.read.option("mergeSchema", True).parquet(path)
    assert "tag" in t.columns
    assert t.count() == 1000
    got = {r.k: (r.ver, r.tag) for r in t.filter("k in (5, 6)").collect()}
    assert got == {5: (1, "tagged"), 6: (0, None)}


def test_merge_schema_evolution_not_erased_by_later_merge(spark, tmp_path):
    """ADVICE r4 (medium): a merge whose affected slice spans BOTH an
    evolved file (new column) and a pre-evolution file must read the
    slice with mergeSchema — otherwise Spark infers the schema from
    one file and can permanently erase the evolved column's values."""
    from wilayah_aceh_etl_spark.streaming.sinks import merge_last_wins

    path = str(tmp_path / "evolve_keep")
    base = spark.range(1000).select(
        F.col("id").alias("k"),
        F.lit(0).cast("long").alias("ver"),
        F.lit(1).cast("long").alias("v"),
    )
    merge_last_wins(spark, path, base, ["k"], ["ver"])

    evolved = spark.createDataFrame(
        [(5, 1, 2, "tagged")], "k long, ver long, v long, tag string"
    )
    merge_last_wins(spark, path, evolved, ["k"], ["ver"])

    # a wide batch forces every file (evolved + stragglers) into the
    # affected slice, but touches only OTHER keys — k=5 must keep tag
    wide = spark.createDataFrame(
        [(0, 1, 10), (999, 1, 10)], "k long, ver long, v long"
    )
    merge_last_wins(spark, path, wide, ["k"], ["ver"])

    t = spark.read.option("mergeSchema", True).parquet(path)
    assert t.count() == 1000
    assert t.filter("k = 5").collect()[0].tag == "tagged"
    got = {r.k: r.v for r in t.filter("k in (0, 999)").collect()}
    assert got == {0: 10, 999: 10}


def test_merge_crashed_swap_is_recoverable(spark, tmp_path):
    """ADVICE r4 (medium): the file swap retires old files to
    _retired/<token>/ instead of deleting them; a crash between
    retirement and staging leaves every pre-existing row on disk,
    and the next merge (the checkpoint replays the batch) restores
    + re-merges back to the correct winners."""
    import os
    import shutil

    from wilayah_aceh_etl_spark.streaming import sinks as S

    path = str(tmp_path / "crashy")
    base = spark.range(1000).select(
        F.col("id").alias("k"),
        F.lit(0).cast("long").alias("ver"),
        (F.col("id") * 2).alias("v"),
    )
    with split_layout(spark):
        S.merge_last_wins(spark, path, base, ["k"], ["ver"])

    # crash DURING the swap: monkeypatch-free fault injection — run
    # the merge but blow up on the staged-files rename loop by
    # making the staged dir read-only is platform-brittle; instead
    # reconstruct the exact on-disk crash state: affected files
    # moved to an unsealed _retired token, staged winners NOT in.
    batch = spark.createDataFrame(
        [(17, 1, 999)], "k long, ver long, v long"
    )
    affected = S._affected_by_key(spark, path, batch, "k")
    assert affected
    token_dir = os.path.join(path, S._RETIRED_DIR, "deadbeef")
    os.makedirs(token_dir)
    for f in affected:
        os.rename(f, os.path.join(token_dir, os.path.basename(f)))
    # no _committed marker = crash before winners were staged in

    # plain read now transiently misses the retired rows ...
    assert spark.read.parquet(path).count() < 1000
    # ... but NO row was deleted; the replayed batch heals the table
    S.merge_last_wins(spark, path, batch, ["k"], ["ver"])
    t = spark.read.parquet(path)
    assert t.count() == 1000
    got = {r.k: (r.ver, r.v) for r in t.filter("k in (17, 18)").collect()}
    assert got == {17: (1, 999), 18: (0, 36)}
    assert not os.path.isdir(os.path.join(path, S._RETIRED_DIR))

    # sealed-token case: marker present → swap completed, retired
    # files are superseded and must be DROPPED, not restored
    sealed = os.path.join(path, S._RETIRED_DIR, "cafebabe")
    os.makedirs(sealed)
    some = [
        f for f in os.listdir(path) if f.endswith(".parquet")
    ][0]
    shutil.copy(
        os.path.join(path, some), os.path.join(sealed, "stale.parquet")
    )
    open(os.path.join(sealed, "_committed"), "w").close()
    S.merge_last_wins(
        spark,
        spark_table_path := path,
        spark.createDataFrame([(18, 2, 777)], "k long, ver long, v long"),
        ["k"],
        ["ver"],
    )
    t = spark.read.parquet(spark_table_path)
    assert t.count() == 1000  # stale copy dropped, not re-ingested
    assert t.filter("k = 18").collect()[0].v == 777


def test_transform_with_state_probe(spark, tmp_path):
    """r4 verdict ask #7: per-round availability probe for
    transformWithStateInPandas. The API needs protobuf for state
    serialization; this container lacks it (SURVEY §8). The probe
    auto-UNSKIPS the real end-to-end check the moment the dependency
    appears — the skip reason is re-confirmed, not assumed."""
    pytest.importorskip(
        "google.protobuf",
        reason="transformWithStateInPandas requires protobuf; "
        "container lacks it (re-probed every run)",
    )
    # dependency present → drive the REAL API: running count per key
    import pandas as pd

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
    )

    class RunningCount(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._count = handle.getValueState(
                "count", StructType([StructField("n", LongType())])
            )

        def handleInputRows(self, key, rows, timerValues):
            n = sum(len(pdf) for pdf in rows)
            prev = self._count.get()[0] if self._count.exists() else 0
            self._count.update((prev + n,))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [prev + n]}
            )

        def close(self) -> None:
            pass

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, 10), (1, 11), (2, 12)], "user_id long, v long"
    ).write.parquet(src)
    out = (
        spark.readStream.schema("user_id long, v long")
        .parquet(src)
        .groupBy("user_id")
        .transformWithStateInPandas(
            RunningCount(),
            outputStructType="user_id long, n_events long",
            outputMode="Update",
            timeMode="None",
        )
        .writeStream.format("memory")
        .queryName("tws_probe")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    out.awaitTermination(120)
    got = {
        r.user_id: r.n_events
        for r in spark.sql("SELECT * FROM tws_probe").collect()
    }
    assert got == {1: 2, 2: 1}


def test_admission_stream_sequential_semantics(spark, tmp_path):
    """Hand-built 3-batch admission run: a batch-2 copy of a KEPT
    batch-1 doc is rejected; a batch-3 copy of that REJECTED doc is
    still rejected (it matches the INDEXED original, not the
    rejected copy); and a doc similar only to a rejected,
    never-indexed doc IS admitted — the property that distinguishes
    index-based admission from global pairwise dedup."""
    import os

    from wilayah_aceh_etl_spark.streaming.dedup_admission import (
        admission_stream,
    )

    base_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    uniq = "one two three four five six seven eight nine ten"
    # batch 0: original A(1) + unrelated U(2)
    # batch 1: exact copy of A (3, rejected-exact) + near-copy of A
    #          (4, rejected-near) + brand-new V (5, kept)
    # batch 2: exact copy of doc 4 (6) — doc 4 was REJECTED, so 6 is
    #          not an exact dup of the INDEX; but it near-dups A → rejected-near;
    #          plus a fresh doc (7, kept)
    near_a = base_text.replace("kappa", "lambda")
    batches = {
        0: [(1, base_text), (2, uniq)],
        1: [(3, base_text), (4, near_a), (5, "red orange yellow green blue indigo violet pink brown black")],
        2: [(6, near_a), (7, "cat dog bird fish horse cow sheep goat duck hen")],
    }
    src = str(tmp_path / "src")
    os.makedirs(src)
    for k, rows in batches.items():
        tmp = str(tmp_path / f"stage{k}")
        spark.createDataFrame(
            rows, "doc_id long, text string"
        ).coalesce(1).write.mode("overwrite").parquet(tmp)
        part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        dst = os.path.join(src, f"b{k}.parquet")
        os.rename(os.path.join(tmp, part), dst)
        t = 1_600_000_000 + k * 1000
        os.utime(dst, (t, t))
    admitted = str(tmp_path / "admitted")
    verdicts = str(tmp_path / "verdicts")
    sq = (
        admission_stream(
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            admitted,
            verdicts,
            str(tmp_path / "ck"),
        )
        .trigger(availableNow=True)
        .start()
    )
    sq.awaitTermination(300)
    v = {
        r.doc_id: (r.is_exact_dup, r.near_dup_of, r.kept)
        for r in spark.read.parquet(verdicts).collect()
    }
    assert v[1] == (False, None, True)
    assert v[2] == (False, None, True)
    assert v[3][0] is True and v[3][2] is False      # exact copy of A
    assert v[4] == (False, 1, False)                 # near-dup of A
    assert v[5][2] is True
    # doc 6 = copy of the REJECTED doc 4: not an exact dup of the
    # index (4 was never admitted), but near-dups the indexed A
    assert v[6] == (False, 1, False)
    assert v[7][2] is True
    kept_ids = {
        r.doc_id for r in spark.read.parquet(admitted).collect()
    }
    assert kept_ids == {1, 2, 5, 7}


def test_merge_stale_lock_cleared_by_vacuum_staging(spark, tmp_path):
    """A writer that died holding the commit lock blocks merges with
    ConcurrentWriteError; vacuum_staging (path-generic) clears the
    stale lock and staging so the stream can resume."""
    from wilayah_aceh_etl_spark.operators.wilayah import (
        ConcurrentWriteError,
        vacuum_staging,
    )
    from wilayah_aceh_etl_spark.streaming.sinks import merge_last_wins

    path = str(tmp_path / "locked")
    base = spark.createDataFrame(
        [(1, 0, 10), (2, 0, 20)], "k long, ver long, v long"
    )
    merge_last_wins(spark, path, base, ["k"], ["ver"])
    open(path + "._commit_lock", "w").close()  # simulated dead writer
    nxt = spark.createDataFrame([(1, 1, 99)], "k long, ver long, v long")
    with pytest.raises(ConcurrentWriteError):
        merge_last_wins(spark, path, nxt, ["k"], ["ver"])
    removed = vacuum_staging(path)
    assert any(p.endswith("._commit_lock") for p in removed)
    merge_last_wins(spark, path, nxt, ["k"], ["ver"])
    got = {r.k: r.v for r in spark.read.parquet(path).collect()}
    assert got == {1: 99, 2: 20}


def test_compact_sink_table_packs_and_heals_schema(spark, tmp_path):
    """Sink OPTIMIZE: many per-batch small files bin-pack into few
    range-sorted files with rows invariant; pre-evolution stragglers
    are rewritten onto the current schema so a PLAIN read (no
    mergeSchema) sees the evolved column afterwards."""
    import os

    from wilayah_aceh_etl_spark.streaming.sinks import (
        compact_sink_table,
        merge_last_wins,
    )

    path = str(tmp_path / "sinkopt")
    merge_last_wins(
        spark,
        path,
        spark.range(500).select(
            F.col("id").alias("k"),
            F.lit(0).cast("long").alias("ver"),
            F.lit(1).cast("long").alias("v"),
        ),
        ["k"],
        ["ver"],
    )
    # evolve schema + create extra small files via narrow merges
    for i in range(3):
        merge_last_wins(
            spark,
            path,
            spark.createDataFrame(
                [(1000 + i, 1, 2, f"t{i}")],
                "k long, ver long, v long, tag string",
            ),
            ["k"],
            ["ver"],
        )
    before = len(
        [f for f in os.listdir(path) if f.endswith(".parquet")]
    )
    n_before, n_after = compact_sink_table(spark, path, ["k"])
    assert n_before == before and n_after < n_before
    t = spark.read.parquet(path)  # PLAIN read — no mergeSchema
    assert "tag" in t.columns
    assert t.count() == 503
    got = {r.k: r.tag for r in t.filter("k >= 1000").collect()}
    assert got == {1000: "t0", 1001: "t1", 1002: "t2"}
    # merge still works after compaction (footer pruning intact)
    merge_last_wins(
        spark,
        path,
        spark.createDataFrame([(1000, 2, 9, "z")],
                              "k long, ver long, v long, tag string"),
        ["k"],
        ["ver"],
    )
    assert (
        spark.read.parquet(path).filter("k = 1000").collect()[0].tag == "z"
    )


def test_crashed_compaction_rolls_back_staged_files(spark, tmp_path):
    """Compaction crash mid-stage-in: recovery must DELETE the
    partially staged compact outputs (recorded in _staged_names)
    BEFORE restoring originals — otherwise the restored rows
    coexist with their compacted copies and plain reads double-count
    (no batch replay exists to re-merge a compaction)."""
    import os

    from wilayah_aceh_etl_spark.streaming import sinks as S

    path = str(tmp_path / "crashy_compact")
    base = spark.range(100).select(
        F.col("id").alias("k"),
        F.lit(0).cast("long").alias("ver"),
        (F.col("id") * 3).alias("v"),
    )
    with split_layout(spark):
        S.merge_last_wins(spark, path, base, ["k"], ["ver"])
    files = sorted(
        f for f in os.listdir(path) if f.endswith(".parquet")
    )
    assert len(files) >= 2

    # reconstruct the exact crash state: originals retired with a
    # staged-names record, ONE staged file already moved in (it
    # duplicates the retired rows), no _committed marker
    token = os.path.join(path, S._RETIRED_DIR, "feedc0de")
    os.makedirs(token)
    staged_name = "part-staged-partial.parquet"
    with open(os.path.join(token, "_staged_names"), "w") as fh:
        fh.write(staged_name + "\n" + "part-never-arrived.parquet")
    import shutil

    # the "compacted" partial output = a copy of the first file
    shutil.copy(
        os.path.join(path, files[0]), os.path.join(path, staged_name)
    )
    for f in files:
        os.rename(os.path.join(path, f), os.path.join(token, f))

    # next merge heals: rollback staged partials, restore originals
    S.merge_last_wins(
        spark,
        path,
        spark.createDataFrame([(5, 1, 999)], "k long, ver long, v long"),
        ["k"],
        ["ver"],
    )
    t = spark.read.parquet(path)
    assert t.count() == 100, "rollback must not double-count rows"
    got = {r.k: r.v for r in t.filter("k in (5, 6)").collect()}
    assert got == {5: 999, 6: 18}
    assert not os.path.isdir(os.path.join(path, S._RETIRED_DIR))


def test_admission_batch_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: replaying a batch whose writes
    already landed (crash before checkpoint commit) must converge to
    the identical tables — per-batch partition overwrite, and the
    existing side excludes the batch's own prior admissions so docs
    are not flagged as dups of themselves on replay."""
    from wilayah_aceh_etl_spark.streaming.dedup_admission import (
        apply_admission_batch,
    )

    admitted = str(tmp_path / "admitted")
    verdicts = str(tmp_path / "verdicts")
    b0 = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "one two three four five six")],
        "doc_id long, text string",
    )
    b1 = spark.createDataFrame(
        [(3, "alpha beta gamma delta epsilon zeta"),  # dup of 1
         (4, "red orange yellow green blue indigo")],
        "doc_id long, text string",
    )
    apply_admission_batch(b0, 0, admitted, verdicts)
    apply_admission_batch(b1, 1, admitted, verdicts)

    def snapshot():
        v = {
            (r.doc_id, r.is_exact_dup, r.near_dup_of, r.kept)
            for r in spark.read.parquet(verdicts).collect()
        }
        a = {r.doc_id for r in spark.read.parquet(admitted).collect()}
        return v, a

    before = snapshot()
    # replay BOTH batches (writes landed, checkpoint didn't)
    apply_admission_batch(b1, 1, admitted, verdicts)
    apply_admission_batch(b1, 1, admitted, verdicts)
    assert snapshot() == before
    v, a = before
    assert a == {1, 2, 4}
    # identical text: exact dup AND verified near-dup of doc 1
    assert (3, True, 1, False) in v


def test_sink_swap_model_random_crashes(spark, tmp_path):
    """Model-based check of the sink swap protocol: a scripted mix
    of merges, compactions, and CRASHES injected at every possible
    os.rename boundary inside the swap; after each recovery the
    plain read must equal a Python dict model that applies a merge
    iff its swap completed (raised mid-swap ⇒ rolled back)."""
    import os

    from wilayah_aceh_etl_spark.streaming import sinks as S

    path = str(tmp_path / "model_sink")
    model: dict[int, tuple[int, int]] = {}

    def merge(rows):
        df = spark.createDataFrame(rows, "k long, ver long, v long")
        S.merge_last_wins(spark, path, df, ["k"], ["ver"])
        for k, ver, v in rows:
            if k not in model or ver >= model[k][0]:
                model[k] = (ver, v)

    def check():
        got = {
            r.k: (r.ver, r.v) for r in spark.read.parquet(path).collect()
        }
        assert got == model, (len(got), len(model))

    class Boom(RuntimeError):
        pass

    def crash_merge(rows, fail_after):
        """Run a merge whose swap dies after `fail_after` renames.
        Returns True if the crash fired (merge must NOT apply)."""
        df = spark.createDataFrame(rows, "k long, ver long, v long")
        real_rename = os.rename
        calls = {"n": 0}

        def wrapped(src, dst):
            # only count renames inside the table swap (src in the
            # staged tmp or the table itself)
            if path in src:
                calls["n"] += 1
                if calls["n"] > fail_after:
                    raise Boom()
            return real_rename(src, dst)

        S.os.rename = wrapped
        try:
            S.merge_last_wins(spark, path, df, ["k"], ["ver"])
            fired = False
        except Boom:
            fired = True
        finally:
            S.os.rename = real_rename
        if not fired:
            for k, ver, v in rows:
                if k not in model or ver >= model[k][0]:
                    model[k] = (ver, v)
        return fired

    def heal(seq):
        """Any later merge runs recovery; use a fresh key."""
        merge([(10_000 + seq, 0, seq)])

    merge([(k, 0, k * 2) for k in range(60)])
    check()
    merge([(5, 1, 500), (61, 0, 610)])
    check()

    # crash at EVERY rename boundary of a 2-key merge, healing and
    # model-checking after each
    seq = 0
    for fail_after in range(0, 8):
        rows = [(7, 10 + fail_after, 7000 + fail_after),
                (42, 10 + fail_after, 4200 + fail_after)]
        crash_merge(rows, fail_after)
        seq += 1
        heal(seq)
        check()

    # compaction after all that, then a crash DURING compaction's
    # swap, healed by the next merge
    S.compact_sink_table(spark, path, ["k"])
    check()
    real_rename = os.rename
    calls = {"n": 0}

    class Boom2(RuntimeError):
        pass

    def wrapped2(src, dst):
        if path in src:
            calls["n"] += 1
            if calls["n"] > 2:
                raise Boom2()
        return real_rename(src, dst)

    # force more small files first
    for i in range(3):
        seq += 1
        heal(seq)
    S.os.rename = wrapped2
    try:
        S.compact_sink_table(spark, path, ["k"])
    except Boom2:
        pass
    finally:
        S.os.rename = real_rename
    seq += 1
    heal(seq)  # recovery rolls the crashed compaction back
    check()
    # and a clean compaction converges
    S.compact_sink_table(spark, path, ["k"])
    check()


def test_merge_racing_compaction_never_duplicates(spark, tmp_path, monkeypatch):
    """The r5-advice race: a merge lists `affected` and stages its
    winners OUTSIDE the commit lock; a compaction that grabs the lock
    in that window retires/rewrites those files. The old swap then
    silently skipped the missing originals and installed winners that
    DUPLICATE rows the compaction already rewrote. Pinned fix: the
    swap validates every affected path under the final lock and
    restarts the merge on conflict.

    The compaction is injected at the exact hazard point — the
    merge's swap-lock acquisition, identified by the staged tmp dir
    existing — via a wrapped _commit_lock."""
    import glob
    import os
    from contextlib import contextmanager

    from wilayah_aceh_etl_spark.operators import wilayah as W
    from wilayah_aceh_etl_spark.streaming import sinks as S

    path = str(tmp_path / "race_sink")
    base = spark.range(500).select(
        F.col("id").alias("k"),
        F.lit(0).cast("long").alias("ver"),
        F.lit(1).cast("long").alias("v"),
    )
    with split_layout(spark):
        S.merge_last_wins(spark, path, base, ["k"], ["ver"])
    n_files = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    assert n_files >= 4  # range layout split the table

    real_lock = W._commit_lock
    state = {"armed": True, "compactions": 0}

    @contextmanager
    def hooked(p):
        # the merge is about to take its SWAP lock exactly when its
        # staged output dir exists; compact the whole table first,
        # retiring every small file the merge listed as affected
        if (
            state["armed"]
            and glob.glob(path + "._staged*")
            and state["compactions"] == 0
        ):
            state["compactions"] += 1
            S.compact_sink_table(spark, path, ["k"])
        with real_lock(p):
            yield

    monkeypatch.setattr(W, "_commit_lock", hooked)
    batch = spark.createDataFrame(
        [(10, 1, 99), (250, 1, 98)], "k long, ver long, v long"
    )
    S.merge_last_wins(spark, path, batch, ["k"], ["ver"])
    state["armed"] = False

    assert state["compactions"] == 1, "injected compaction never ran"
    t = spark.read.parquet(path)
    # the old code path leaves 502 rows here (two keys duplicated)
    assert t.count() == 500
    dup = (
        t.groupBy("k").count().filter("count > 1").count()
    )
    assert dup == 0, "merge installed duplicates over compacted rows"
    got = {r.k: (r.ver, r.v) for r in t.filter("k in (10, 250, 7)").collect()}
    assert got == {10: (1, 99), 250: (1, 98), 7: (0, 1)}


def test_merge_create_race_preserves_first_writer(spark, tmp_path, monkeypatch):
    """r6 code-review finding: two merges racing to CREATE a table —
    the loser listed the table as absent, then the winner committed.
    The old swap branch rmtree'd the winner's committed batch; the
    fixed swap treats 'table appeared since listing' as a conflict
    and re-merges, so BOTH batches survive."""
    import glob
    import os
    from contextlib import contextmanager

    from wilayah_aceh_etl_spark.operators import wilayah as W
    from wilayah_aceh_etl_spark.streaming import sinks as S

    path = str(tmp_path / "create_race")
    batch_a = spark.createDataFrame(
        [(1, 0, 10), (2, 0, 20)], "k long, ver long, v long"
    )
    batch_b = spark.createDataFrame(
        [(2, 1, 99), (3, 0, 30)], "k long, ver long, v long"
    )
    real_lock = W._commit_lock
    state = {"fired": 0}

    @contextmanager
    def hooked(p):
        # B has staged (its tmp exists) and is about to take its
        # swap lock while the table still doesn't exist — inject A's
        # full merge right there, creating the table first
        if (
            state["fired"] == 0
            and glob.glob(path + "._staged*")
            and not os.path.exists(path)
        ):
            state["fired"] = 1
            S.merge_last_wins(spark, path, batch_a, ["k"], ["ver"])
        with real_lock(p):
            yield

    monkeypatch.setattr(W, "_commit_lock", hooked)
    S.merge_last_wins(spark, path, batch_b, ["k"], ["ver"])
    assert state["fired"] == 1, "injected creator merge never ran"

    t = spark.read.parquet(path)
    got = {r.k: (r.ver, r.v) for r in t.collect()}
    # old behavior: batch A's rows are gone (table rmtree'd); fixed:
    # union with last-wins on the overlapping key
    assert got == {1: (0, 10), 2: (1, 99), 3: (0, 30)}


def test_merge_staging_file_vanish_retries(spark, tmp_path, monkeypatch):
    """r6 code-review finding: an affected file retired between the
    (locked) listing and the staging read used to surface as a raw
    FileNotFound from the Spark job; the fixed merge classifies
    file-vanished staging errors as conflicts and re-stages."""
    import os

    from wilayah_aceh_etl_spark.streaming import sinks as S

    path = str(tmp_path / "vanish_race")
    base = spark.range(300).select(
        F.col("id").alias("k"),
        F.lit(0).cast("long").alias("ver"),
        F.lit(1).cast("long").alias("v"),
    )
    S.merge_last_wins(spark, path, base, ["k"], ["ver"])

    import glob
    from contextlib import contextmanager

    from wilayah_aceh_etl_spark.operators import wilayah as W

    real_lock = W._commit_lock
    state = {"fired": 0}

    @contextmanager
    def hooked(p):
        # identify the merge's LISTING lock (no staged dir yet); as
        # soon as it releases — after the listing, before the staging
        # job reads the listed files — inject a full compaction,
        # which retires every listed file
        is_listing = os.path.exists(path) and not glob.glob(
            path + "._staged*"
        )
        with real_lock(p):
            yield
        if state["fired"] == 0 and is_listing:
            state["fired"] = 1
            S.compact_sink_table(spark, path, ["k"])

    monkeypatch.setattr(W, "_commit_lock", hooked)
    batch = spark.createDataFrame([(7, 1, 77)], "k long, ver long, v long")
    S.merge_last_wins(spark, path, batch, ["k"], ["ver"])
    assert state["fired"] == 1

    t = spark.read.parquet(path)
    assert t.count() == 300
    assert t.groupBy("k").count().filter("count > 1").count() == 0
    assert t.filter("k = 7").collect()[0].v == 77
    # no orphaned staging left behind by the retried attempt
    parent = os.path.dirname(path)
    leftovers = [
        e for e in os.listdir(parent)
        if e.startswith(os.path.basename(path) + "._staged")
    ]
    assert leftovers == []


def test_quality_monitor_batch_replay_is_idempotent(spark, tmp_path):
    """The monitor's per-batch summary is written with partition
    overwrite: replaying a batch whose row already landed must leave
    the table byte-identical (one row per batch, same counts), and
    the summary must match the shared gopher_rule_flags verdicts."""
    from wilayah_aceh_etl_spark.operators.text_analysis import (
        gopher_rule_flags,
    )
    from wilayah_aceh_etl_spark.streaming.quality_monitor import (
        batch_quality_summary,
    )

    monitor = str(tmp_path / "monitor")
    long_doc = " ".join(
        ["the", "a", "of"] * 2 + [f"word{i % 9}" for i in range(60)]
    )
    b0 = spark.createDataFrame(
        [(1, long_doc), (2, "tiny doc only")],
        "doc_id long, text string",
    )

    def write(batch_df, batch_id):
        batch_quality_summary(batch_df).write.mode("overwrite").parquet(
            f"{monitor}/batch={batch_id}"
        )

    write(b0, 0)
    before = spark.read.parquet(monitor).collect()
    write(b0, 0)  # replay
    after = spark.read.parquet(monitor).collect()
    assert before == after
    assert len(after) == 1
    row = after[0]
    flags = gopher_rule_flags(b0).collect()
    assert row.n_docs == 2
    assert row.pass_word_count == sum(f.r_wc for f in flags)
    assert row.pass_all == sum(
        1
        for f in flags
        if f.r_wc + f.r_mwl + f.r_alpha + f.r_stop + f.r_rep == 5
    )


def test_quality_monitor_empty_batch_writes_zero_row(spark, tmp_path):
    """An empty micro-batch (routine under a processing-time trigger
    with no new data) must write a well-typed all-zero summary row,
    never NULL pass counts."""
    from wilayah_aceh_etl_spark.streaming.quality_monitor import (
        batch_quality_summary,
    )

    empty = spark.createDataFrame([], "doc_id long, text string")
    row = batch_quality_summary(empty).collect()[0]
    assert row.n_docs == 0
    assert row.pass_word_count == 0
    assert row.pass_all == 0
    assert None not in tuple(row)


def test_merge_same_new_key_race_keeps_last_wins(spark, tmp_path, monkeypatch):
    """r6-advice MEDIUM: two merges racing to insert the SAME
    previously-absent key both listed an empty affected set; the old
    swap validation (every listed file still exists) passed for both
    and both installed winners — duplicate rows for that key, the
    last-wins invariant broken until some later merge happened to
    rewrite both files. Pinned fix: the swap RE-RUNS the footer
    listing for the batch's keys under the final lock and treats any
    drift (including a NEW file covering the keys) as a conflict
    that restarts the merge.

    The competing merge is injected at the outer merge's swap-lock
    acquisition (identified by its staged tmp dir existing)."""
    import glob
    import os
    from contextlib import contextmanager

    from wilayah_aceh_etl_spark.operators import wilayah as W
    from wilayah_aceh_etl_spark.streaming import sinks as S

    path = str(tmp_path / "same_key_race")
    base = spark.range(100).select(
        F.col("id").alias("k"),
        F.lit(0).cast("long").alias("ver"),
        F.lit(1).cast("long").alias("v"),
    )
    S.merge_last_wins(spark, path, base, ["k"], ["ver"])

    real_lock = W._commit_lock
    state = {"injections": 0}

    @contextmanager
    def hooked(p):
        if state["injections"] == 0 and glob.glob(path + "._staged*"):
            state["injections"] += 1
            rival = spark.createDataFrame(
                [(1000, 2, 222)], "k long, ver long, v long"
            )
            S.merge_last_wins(spark, path, rival, ["k"], ["ver"])
        with real_lock(p):
            yield

    monkeypatch.setattr(W, "_commit_lock", hooked)
    mine = spark.createDataFrame(
        [(1000, 1, 111)], "k long, ver long, v long"
    )
    S.merge_last_wins(spark, path, mine, ["k"], ["ver"])
    monkeypatch.setattr(W, "_commit_lock", real_lock)

    assert state["injections"] == 1, "rival merge never ran"
    t = spark.read.parquet(path)
    rows = t.filter("k = 1000").collect()
    # old code: TWO rows for k=1000 (ver 1 and ver 2 in separate
    # files); fixed code: one row, the higher-ver rival wins
    assert len(rows) == 1, [tuple(r) for r in rows]
    assert (rows[0].ver, rows[0].v) == (2, 222)
    assert t.count() == 101
    assert not glob.glob(path + "._staged*"), "leaked staging dir"


def test_merge_transient_lock_contention_retried_no_leak(
    spark, tmp_path, monkeypatch
):
    """r6-advice LOW: a transient ConcurrentWriteError from lock
    acquisition used to propagate out of the retry loop immediately
    (only file-vanished errors were retried), leaking the
    per-invocation ._staged_* dir until vacuum_staging. Pinned fix:
    lock contention is caught inside the loop, counts against the
    3-attempt budget with a short backoff, and the staged tree is
    removed before retrying."""
    import glob
    from contextlib import contextmanager

    from wilayah_aceh_etl_spark.operators import wilayah as W
    from wilayah_aceh_etl_spark.streaming import sinks as S

    path = str(tmp_path / "contended_sink")
    base = spark.createDataFrame(
        [(1, 0, 10), (2, 0, 20)], "k long, ver long, v long"
    )
    S.merge_last_wins(spark, path, base, ["k"], ["ver"])

    real_lock = W._commit_lock
    state = {"calls": 0}

    @contextmanager
    def flaky(p):
        state["calls"] += 1
        if state["calls"] <= 2:  # listing + swap of attempt 1
            raise W.ConcurrentWriteError("simulated contention")
        with real_lock(p):
            yield

    monkeypatch.setattr(W, "_commit_lock", flaky)
    batch = spark.createDataFrame([(2, 1, 99)], "k long, ver long, v long")
    S.merge_last_wins(spark, path, batch, ["k"], ["ver"])
    monkeypatch.setattr(W, "_commit_lock", real_lock)

    t = spark.read.parquet(path)
    got = {r.k: (r.ver, r.v) for r in t.collect()}
    assert got == {1: (0, 10), 2: (1, 99)}
    assert not glob.glob(path + "._staged*"), "leaked staging dir"
