"""Headline benchmark: runs the bench-tagged declared queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Each query is executed once to warm (JVM/codegen/catalog) and then
timed three times; the reported figure per query is the fastest of
the timed runs (min-of-N — standard practice to strip scheduler/GC
noise; measured run-to-run spread on this box is ±10%, so two
samples were not enough), and `value` is the total across the set.

A fixed CALIBRATION PROBE (constant-shape, data-independent
`spark.range(10^8)` sum — pure whole-stage-codegen arithmetic, no
IO, no shuffle beyond the final 1-row reduce) is timed the same
min-of-3 way and reported as `calibration_sec`.  Because the probe's
work never changes, round-over-round movement in `calibration_sec`
measures AMBIENT MACHINE SPEED, not this repo's plans: if the
headline total drifts +3% and the probe drifts +3%, that's load; if
the total moves and the probe doesn't, that's a real plan change.
`value_over_calibration` pre-divides for convenience.

COLD figures (added in r13 as a measurement-bug fix): several
query functions `persist()` intermediates, and the trained-quantizer
memos keep model floats on the driver, so under
min-of-3-after-warmup the timed runs of those queries read the
warmup run's materialization instead of executing — the warm
number measures a cache read. Each query is therefore ALSO
timed cold: before every cold iteration `clear_computed_caches`
drops the session CacheManager entries and the trained-model float
memos (metadata memos — schemas and partition probes — stay; they
cannot hold results), so every cold run pays the full computation
from the parquet inputs, training included. `queries` / `value` keep
the historical warm min-of-3 methodology (comparable with rounds
1–12); `queries_cold` / `value_cold` are the honest execution
figures. A query that raises in either phase is dropped from both
totals, so they always cover the same query set (`n_queries` ==
`n_queries_cold`); `errors` names the failed phase.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from wilayah_aceh_etl_spark.cachectl import clear_computed_caches
from wilayah_aceh_etl_spark.plans.registry import all_specs
from wilayah_aceh_etl_spark.session import get_spark


def time_queries(
    spark, specs: dict, sf_dir: str
) -> tuple[dict[str, float], dict[str, float], dict[str, str]]:
    """Warm and cold min-of-3 wall time per spec, by name.

    A query that raises in either phase is left out of BOTH timing
    dicts, so `value` and `value_cold` always total the same query
    set; `errors[name]` says which phase failed (`warm: ...` or
    `cold: ...`). One failing query must not zero out the whole
    bench run: the rest are still timed."""
    timings: dict[str, float] = {}
    timings_cold: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name, spec in sorted(specs.items()):
        phase = "warm"
        try:
            spark.sparkContext.setJobDescription(f"bench:{name}")
            spec.fn(spark, sf_dir).collect()  # warm-up: codegen, listing
            best = float("inf")
            for _ in range(3):
                t0 = time.time()
                spec.fn(spark, sf_dir).collect()
                best = min(best, time.time() - t0)
            warm = round(best, 3)
            # cold: every iteration pays execution from parquet —
            # no CacheManager reuse across runs, no trained floats
            phase = "cold"
            spark.sparkContext.setJobDescription(f"bench:{name}:cold")
            best = float("inf")
            for _ in range(3):
                clear_computed_caches(spark)
                t0 = time.time()
                spec.fn(spark, sf_dir).collect()
                best = min(best, time.time() - t0)
            timings[name] = warm
            timings_cold[name] = round(best, 3)
        except Exception as exc:  # noqa: BLE001
            errors[name] = f"{phase}: {type(exc).__name__}: {exc}"[:500]
            print(f"BENCH ERROR {name}: {errors[name]}", file=sys.stderr)
        finally:
            spark.sparkContext.setJobDescription(None)
    return timings, timings_cold, errors


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark("bench", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    specs = {k: v for k, v in all_specs().items() if v.bench}
    # guess sf from dir name for the report
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = None

    def _calibrate() -> float:
        """Constant-shape probe: min-of-3 wall time of a fixed
        codegen-only job. Shape-invariant across rounds, so its
        drift isolates ambient load from plan regressions."""
        probe = lambda: spark.range(100_000_000).selectExpr(  # noqa: E731
            "sum(id * (id % 7)) AS s"
        ).collect()
        probe()  # warm-up
        best = float("inf")
        for _ in range(3):
            t0 = time.time()
            probe()
            best = min(best, time.time() - t0)
        return round(best, 4)

    calibration = _calibrate()

    timings, timings_cold, errors = time_queries(spark, specs, sf_dir)

    report = {
        "metric": "headline_queries_wall_clock",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "n_queries": len(timings),
        "n_queries_cold": len(timings_cold),
        "cpus": int(cpus),
        "timing": "min_of_3_after_warmup",
        "queries_cold": timings_cold,
        "value_cold": round(sum(timings_cold.values()), 3),
        "timing_cold": "min_of_3_caches_cleared_before_each_run",
        "calibration_sec": calibration,
        "value_over_calibration": (
            round(sum(timings.values()) / calibration, 3) if calibration else None
        ),
    }
    if errors:
        report["errors"] = errors
    print(json.dumps(report))


if __name__ == "__main__":
    main()
