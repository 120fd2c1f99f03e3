"""bench.py's per-query timing loop, driven with fake specs and a
fake session: no Spark, no calibration probe."""

from __future__ import annotations

from types import SimpleNamespace

import bench


class _FakeSpark:
    """Just what time_queries touches: job descriptions and the
    CacheManager clear that starts every cold iteration."""

    def __init__(self):
        self.clears = 0
        self.sparkContext = SimpleNamespace(setJobDescription=lambda d: None)
        self.catalog = SimpleNamespace(clearCache=self._clear)

    def _clear(self):
        self.clears += 1


def _spec(spark, fail_cold: bool):
    first_seen = []

    def fn(_spark, _sf_dir):
        # cold = the caches were cleared since this spec's first run
        first_seen.append(spark.clears)
        if fail_cold and spark.clears > first_seen[0]:
            raise RuntimeError("cold only")
        return SimpleNamespace(collect=lambda: [])

    return SimpleNamespace(fn=fn)


def test_cold_failure_drops_query_from_both_totals():
    spark = _FakeSpark()
    specs = {
        "ok": _spec(spark, fail_cold=False),
        "zz_cold_fails": _spec(spark, fail_cold=True),
    }
    timings, timings_cold, errors = bench.time_queries(spark, specs, "sf")
    assert set(timings) == set(timings_cold) == {"ok"}
    assert set(errors) == {"zz_cold_fails"}
    assert errors["zz_cold_fails"].startswith("cold: RuntimeError: cold only")


def test_warm_failure_is_named_warm():
    spark = _FakeSpark()

    def boom(_spark, _sf_dir):
        raise ValueError("no table")

    timings, timings_cold, errors = bench.time_queries(
        spark, {"q": SimpleNamespace(fn=boom)}, "sf"
    )
    assert timings == timings_cold == {}
    assert errors["q"].startswith("warm: ValueError: no table")
