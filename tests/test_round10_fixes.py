"""Round-10 pins for the r9 ADVICE findings: the price_band
cross-engine cast divergence, the logreg_fit n_iter=0 regression,
the streaming awaitTermination timeout guard, and the Best-of-n
short-prompt exclusion."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F


def test_price_band_cents_idiom_cross_engine(spark):
    """The MI feature's price_band must bin identically in Spark and
    DuckDB. The old bare CAST(double AS BIGINT) diverged (DuckDB
    rounds, Spark truncates — 149999.99 landed in band 3 vs band 2);
    the exact-cents idiom (ROUND to integer cents, then integer
    division) is pinned here on the adversarial edge values."""
    vals = [149999.99, 150000.0, 49999.995, 50000.0, 0.01, 99999.5]
    sdf = spark.createDataFrame([(v,) for v in vals], "v double")
    got_spark = [
        r[0]
        for r in sdf.select(
            F.expr(
                "CAST(CAST(ROUND(v * 100) AS BIGINT)"
                " div 5000000 AS STRING)"
            )
        ).collect()
    ]
    con = duckdb.connect()
    got_duck = [
        con.execute(
            "SELECT CAST(CAST(ROUND(? * 100) AS BIGINT) // 5000000"
            " AS VARCHAR)",
            [v],
        ).fetchone()[0]
        for v in vals
    ]
    assert got_spark == got_duck, (got_spark, got_duck)

    # and the OLD expression pair really was divergent — the bug the
    # idiom exists to prevent (r9 ADVICE: DuckDB rounds double->
    # BIGINT, Spark truncates)
    old_spark = [
        r[0]
        for r in sdf.select(
            F.expr("CAST(CAST(v AS BIGINT) div 50000 AS STRING)")
        ).collect()
    ]
    old_duck = [
        con.execute(
            "SELECT CAST(CAST(? AS BIGINT) // 50000 AS VARCHAR)", [v]
        ).fetchone()[0]
        for v in vals
    ]
    assert old_spark != old_duck


def test_logreg_fit_zero_iters(spark):
    """n_iter=0 returns the zero-initialized (w, b) — the
    pre-trajectory-refactor degenerate behavior; the bare
    trajectory[-1] delegation raised IndexError (r9 ADVICE)."""
    from wilayah_aceh_etl_spark.operators.ml_train import logreg_fit

    df = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0], 1), (1, [0.5, -1.0, 0.0], 0)],
        "vec_id long, embedding array<double>, y int",
    )
    w, b = logreg_fit(df, n_iter=0)
    assert w == [0.0, 0.0, 0.0] and b == 0.0


def test_await_stream_guard_raises_on_timeout():
    """_await_stream_or_raise must stop the query and raise when
    awaitTermination times out, instead of letting the caller read a
    partial sink (r9 ADVICE)."""
    from wilayah_aceh_etl_spark.plans.round9_queries import (
        _await_stream_or_raise,
    )

    class _FakeQuery:
        name = "fake"
        id = "fake-id"

        def __init__(self):
            self.stopped = False

        def awaitTermination(self, timeout):
            return False

        def stop(self):
            self.stopped = True

    sq = _FakeQuery()
    with pytest.raises(TimeoutError):
        _await_stream_or_raise(sq, 1)
    assert sq.stopped

    class _FakeDone(_FakeQuery):
        def awaitTermination(self, timeout):
            return True

    done = _FakeDone()
    _await_stream_or_raise(done, 1)  # no raise, no stop
    assert not done.stopped


def test_best_of_n_excludes_short_prompts(spark, tmp_path):
    """A prompt with fewer than N=12 samples must be EXCLUDED, not
    silently deflated by the fixed C(12, n) denominator (r9 ADVICE).
    Planted: prompt 0 has 12 events, prompt 1 has 7."""
    import datetime

    from tests.conftest import write_star_table
    from wilayah_aceh_etl_spark.plans.round9_queries import (
        model_eval_best_of_n,
    )

    t0 = datetime.datetime(2020, 9, 13, 12, 26, 40)
    rows = []
    eid = 0
    for pid, cnt in ((0, 12), (1, 7)):
        for j in range(cnt):
            rows.append(
                (
                    eid,
                    t0 + datetime.timedelta(microseconds=eid),
                    pid,
                    "reward",
                    float(j) / 10.0,
                    "{}",
                )
            )
            eid += 1
    write_star_table(
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp_ntz, user_id long,"
            " event_type string, value double, props string",
        ),
        str(tmp_path),
        "events",
    )

    got = model_eval_best_of_n(spark, str(tmp_path)).collect()
    prompts = {r["prompt_id"] for r in got}
    assert prompts == {0}, prompts
    # n=1 over 12 equally-likely draws is the plain mean (milli)
    n1 = [r for r in got if r["n"] == 1][0]
    expected = round(sum(j * 100 for j in range(12)) / 12.0, 6)
    assert n1["bon_estimate_milli"] == expected
