"""Benchmark entry point: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload wilayah_serve --seed 1 --seconds 30 --trace 0

Run from the repository root. The engine is imported from the checkout
and driven only through its public functions; every input is generated
from `--seed` under `.perfbench_work/`, which is removed at exit.
Spark runs on local[k] with k = (usable cores - 1), leaving one core to
the driver's Python, py4j and the pandas-UDF workers.

The run is: set-up (session start, input staging, the seed ingest, a
short warm-up on a small input of the same shape), then a fixed number
of passes — `--seconds` over the workload's nominal pass time, at least
one — then the output checks. The last stdout line is one JSON object:
`{"correct", "attempted", "failed", "metrics"}`; `--trace 0` reports the
end-to-end metrics (set-up wall time and the CPU seconds of a pass and
of its fresh and repeat ops), `--trace 1` the per-layer ones, with
spans written to `.perfbench_out/`. Per-op wall and CPU times, sample
counts and wall summaries go to stderr.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# per-layer metric -> how a run aggregates its per-op values
PER_LAYER = {
    "plans.build_s": "pass_sum",
    "plans.build_jobs": "pass_sum",
    "plans.build_py_cpu_s": "pass_sum",
    "cachectl.entries_after": "last",
    "spark.plan_s": "pass_sum",
    "spark.execute_s": "pass_sum",
    "spark.deliver_s": "pass_sum",
    "spark.result_rows": "pass_sum",
    "spark.shuffle_write_bytes": "pass_sum",
    "spark.shuffle_read_bytes": "pass_sum",
    "spark.spill_bytes": "pass_sum",
    "spark.task_max_s": "pass_max",
    "spark.task_p50_s": "pass_median",
    "wilayah.load_s": "op_median",
    "wilayah.upsert_s": "op_median",
    "wilayah.compact_s": "op_median",
    "geometry.kernel_s": "op_median",
    "geometry.vertices_in": "op_median",
    "geometry.vertices_out": "op_median",
    "wilayah.bytes_written_per_input_byte": "op_median",
}
UNITS = {"_s": "s", "_bytes": "bytes", "_byte": "ratio"}


def _unit(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def _median(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else 0.0


def _geomean(xs):
    return statistics.geometric_mean(xs) if xs else 0.0


def _layer_metrics(ops: list[dict], n_passes: int) -> dict:
    # the op-duration layers of action ops
    for rec in ops:
        key = {"sync": "wilayah.upsert_s", "compact_table": "wilayah.compact_s"}.get(rec["name"])
        if key:
            rec["layers"][key] = rec["dur"]
    out = {}
    for key, how in PER_LAYER.items():
        recs = [r for r in ops if key in r["layers"]]
        vals = [(r["pass"], r["layers"][key]) for r in recs if r["layers"][key] is not None]
        if len(vals) < len(recs):
            # the op ran but its value could not be read (status API unavailable)
            print(f"{key}: no value on {len(recs) - len(vals)} of {len(recs)} ops", file=sys.stderr)
        if recs and not vals:
            out[key] = None
        elif how == "last":
            out[key] = vals[-1][1] if vals else 0
        elif how == "op_median":
            out[key] = _median(v for _, v in vals)
        else:
            agg = {"pass_sum": sum, "pass_max": max, "pass_median": _median}[how]
            per_pass = [agg([v for p, v in vals if p == i] or [0]) for i in range(n_passes)]
            out[key] = _median(per_pass)
    return out


def _usable_cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 2


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    k = max(1, _usable_cores() - 1)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # everything Spark, the JVM and Python write goes under the work dir
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        "SPARK_GRAFT_CPUS": str(k),
        "SPARK_GRAFT_DRIVER_MEM": "3g",
        "PYSPARK_PYTHON": sys.executable,
        "TZ": "UTC",
        # every JVM, the spark-submit launcher included
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    time.tzset()
    sys.path.insert(0, ROOT)
    try:
        return _run(args, k, work, tmp)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run is using it
        except OSError:
            pass


def _run(args, k: int, work: str, tmp: str) -> int:
    try:
        import workloads
        from ops import Runner
        from tracing import NullTracer, Tracer
        from wilayah_aceh_etl_spark.session import get_spark
    except ImportError as exc:
        print(f"cannot import the engine or its dependencies: {exc}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2

    tracer = Tracer() if args.trace else NullTracer()
    setup: dict[str, float] = {}
    with tracer.span("get_spark"):
        spark = get_spark(
            "perfbench",
            master=f"local[{k}]",
            **{
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
    setup["session.start_s"] = time.perf_counter() - T_PROCESS
    try:
        runner = Runner(spark, tracer)
        wl = workloads.WORKLOADS[args.workload](runner, work, args.seed)
        for phase, fn in (("inputs.stage_s", wl.stage), ("wilayah.seed_s", wl.seed_ingest),
                          ("warmup_s", wl.warmup)):
            t = time.perf_counter()
            with tracer.span(phase):
                fn()
            setup[phase] = time.perf_counter() - t

        t_measure = time.perf_counter()
        setup_s = t_measure - T_PROCESS
        # a fixed number of passes per run, sized by the workload's
        # nominal pass time, so every run measures the same op sequence
        n_passes = max(1, round(args.seconds / wl.pass_estimate_s))
        pass_wall: list[float] = []
        gc = []
        for i in range(n_passes):
            runner.pass_idx = i
            t = time.perf_counter()
            gc0 = tracer.gc_s(spark)
            with tracer.span(f"pass{i}"):
                wl.run_pass(i)
            gc.append(tracer.gc_s(spark) - gc0)
            pass_wall.append(time.perf_counter() - t)
        t_check = time.perf_counter()
        wl.finish()
        t_check = time.perf_counter() - t_check
    finally:
        _stop(spark)

    ops = runner.ops
    failed = sum(not r["ok"] for r in ops) + runner.check_failures
    ok = lambda cls, key: [r[key] for r in ops if r["cls"] == cls and r["ok"]]  # noqa: E731
    # a pass's time is the sum over its ops, so the harness's own work
    # between ops (copying inputs, oracles, result checks) is left out
    pass_s = _median(sum(r["dur"] for r in ops if r["pass"] == i) for i in range(n_passes))
    pass_cpu = [sum(r["cpu"] for r in ops if r["pass"] == i) for i in range(n_passes)]
    counts = {c: len(ok(c, "dur")) for c in ("fresh", "repeat", "maint")}
    print(
        f"workload={args.workload} seed={args.seed} k={k} passes={n_passes} "
        f"ops={len(ops)} samples={counts} setup={ {p: round(v, 3) for p, v in setup.items()} } "
        f"pass_wall={[round(p, 2) for p in pass_wall]} pass_cpu={[round(p, 2) for p in pass_cpu]} check_s={t_check:.2f}",
        file=sys.stderr,
    )
    for r in ops:
        print(f"  op {r['id']:3d} pass {r['pass']} {r['cls']:6s} {r['dur']:7.3f}s wall "
              f"{r['cpu']:7.2f}s cpu {'ok ' if r['ok'] else 'BAD'} {r['name']}", file=sys.stderr)
    print(f"wall: pass_s={pass_s:.3f} fresh_geomean_s={_geomean(ok('fresh', 'dur')):.3f} "
          f"repeat_geomean_s={_geomean(ok('repeat', 'dur')):.3f}", file=sys.stderr)
    if args.trace:
        metrics = _layer_metrics(ops, n_passes)
        metrics.update(setup)
        metrics["jvm.gc_s"] = _median(gc)
        layers = getattr(wl, "layers", {})
        metrics["wilayah.live_files"] = _median(layers.get("live_files", [])) if layers else 0
        metrics["wilayah.history_files"] = _median(layers.get("history_files", [])) if layers else 0
        metrics["trace.pass_s"] = pass_s
        metrics["trace.pass_cpu_s"] = _median(pass_cpu)
        metrics["trace.self_s"] = tracer.self_s / n_passes
        metrics["spark.cores"] = k
        if layers:
            print(f"live files after each sync: {layers['live_files']}; "
                  f"history files after each vacuum: {layers['history_files']}", file=sys.stderr)
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.write(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
    else:
        metrics = {
            "setup_s": setup_s,
            "pass_cpu_s": _median(pass_cpu),
            "fresh_cpu_s": _geomean(ok("fresh", "cpu")),
            "repeat_cpu_s": _geomean(ok("repeat", "cpu")),
        }
    result = {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {n: {"value": v, "unit": _unit(n)} for n, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


def _stop(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — a JVM that will not exit is killed
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
