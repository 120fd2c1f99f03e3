"""One closed-loop client: runs ops, times them, checks their results.

Each op records its wall time and the CPU seconds the whole process
tree (this process, the JVM, its Python workers) spent while it ran.

Untraced, a query op is `build()` then `collect()` — what a caller of
the engine does — and an action op is one call. Traced, a query op is
split into the four layers the repo names: build (Python construction,
including eager jobs such as KMeans training), plan (Catalyst, forced
through `executedPlan`), execute (a run against the noop sink) and
deliver (`collect`); Spark stage metrics and the CacheManager entry
count are read after the op.
"""

from __future__ import annotations

import datetime
import decimal
import math
import os
import sys
import time
import traceback

from tracing import NullTracer


def _cell(v) -> str:
    if v is None:
        return "<NULL>"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        return "NaN" if math.isnan(f) else repr(round(f, 9))
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def canon(rows) -> list[tuple]:
    """Order-free canonical form of a result: columns sorted by name,
    cells stringified at 9 decimals, rows sorted."""
    dicts = [r if isinstance(r, dict) else r.asDict() for r in rows]
    if not dicts:
        return []
    cols = sorted(dicts[0])
    return sorted(tuple(_cell(d[c]) for c in cols) for d in dicts)


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of process `root` and all its live
    descendants (the JVM and its Python workers), including children
    they have already reaped. Read from /proc."""
    stats: dict[int, int] = {}
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                text = f.read()
        except OSError:
            continue  # exited while listing
        fields = text[text.rindex(")") + 2:].split()
        pid = int(entry)
        children.setdefault(int(fields[1]), []).append(pid)
        stats[pid] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        total += stats.get(pid, 0)
        stack += children.get(pid, [])
    return total / _TICK


def cache_entries(spark) -> int:
    """Entries in the session's CacheManager (its list is private, so
    it is read by reflection)."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    return int(field.get(cm).size())


class Runner:
    def __init__(self, spark, tracer=None) -> None:
        self.spark = spark
        self.tracer = tracer or NullTracer()
        self.pid = os.getpid()
        self.ops: list[dict] = []
        self.pass_idx = 0
        self.check_failures = 0

    def _new(self, name: str, cls: str) -> dict:
        rec = {"id": len(self.ops), "name": name, "cls": cls, "pass": self.pass_idx,
               "dur": 0.0, "cpu": 0.0, "ok": False, "layers": {}}
        self.ops.append(rec)
        return rec

    def _fail(self, rec: dict, exc: BaseException) -> None:
        rec["ok"] = False
        rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
        print(f"op {rec['id']} {rec['name']} failed:", file=sys.stderr)
        traceback.print_exc(file=sys.stderr)

    def query(self, name: str, cls: str, build, check) -> None:
        rec = self._new(name, cls)
        cpu0, t0 = tree_cpu_s(self.pid), time.perf_counter()
        try:
            if self.tracer.enabled:
                rows = self._traced_query(rec, build)
            else:
                rows = build().collect()
                rec["dur"] = time.perf_counter() - t0
            rec["cpu"] = tree_cpu_s(self.pid) - cpu0
            rec["ok"] = bool(check(rows))
        except Exception as exc:  # noqa: BLE001 — a raising op counts as failed
            rec["dur"] = time.perf_counter() - t0
            self._fail(rec, exc)

    def action(self, name: str, cls: str, fn, check, after=None) -> None:
        rec = self._new(name, cls)
        tr = self.tracer
        cpu0, t0 = tree_cpu_s(self.pid), time.perf_counter()
        try:
            if tr.enabled:
                with tr.span(name, rec["id"]):
                    tr.begin_op(self.spark, rec["id"], name)
                    t0 = time.perf_counter()
                    value = fn()
                    rec["dur"] = time.perf_counter() - t0
                    self._spark_layers(rec)
                rec["cpu"] = tree_cpu_s(self.pid) - cpu0
                if after is not None:
                    after(rec)
            else:
                value = fn()
                rec["dur"] = time.perf_counter() - t0
                rec["cpu"] = tree_cpu_s(self.pid) - cpu0
            rec["ok"] = bool(check(value))
        except Exception as exc:  # noqa: BLE001
            rec["dur"] = time.perf_counter() - t0
            self._fail(rec, exc)

    def _traced_query(self, rec: dict, build):
        tr, spark, L = self.tracer, self.spark, rec["layers"]
        with tr.span(rec["name"], rec["id"]):
            tr.begin_op(spark, rec["id"], rec["name"])
            t0 = time.perf_counter()
            with tr.span("build", rec["id"]) as s_build:
                c0 = time.process_time()
                df = build()
                L["plans.build_py_cpu_s"] = time.process_time() - c0
            L["plans.build_jobs"] = tr.jobs_so_far(spark)
            with tr.span("executedPlan", rec["id"]) as s_plan:
                df._jdf.queryExecution().executedPlan()
            with tr.span("noop", rec["id"]) as s_exec:
                df.write.format("noop").mode("overwrite").save()
            with tr.span("collect", rec["id"]) as s_deliver:
                rows = df.collect()
            rec["dur"] = time.perf_counter() - t0
            self._spark_layers(rec)
        for key, s in (("plans.build_s", s_build), ("spark.plan_s", s_plan),
                       ("spark.execute_s", s_exec), ("spark.deliver_s", s_deliver)):
            L[key] = s["end"] - s["start"]
        L["spark.result_rows"] = len(rows)
        loads = [s for s in tr.spans if s["op"] == rec["id"] and s["name"] == "load_wilayah"]
        if loads:
            L["wilayah.load_s"] = sum(s["end"] - s["start"] for s in loads)
        return rows

    def _spark_layers(self, rec: dict) -> None:
        tr, L = self.tracer, rec["layers"]
        stages = tr.end_op(self.spark, rec["id"])
        t = time.perf_counter()
        L["cachectl.entries_after"] = cache_entries(self.spark)
        tr.self_s += time.perf_counter() - t
        for key in ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
                    "task_max_s", "task_p50_s"):
            L[f"spark.{key}"] = stages.get(key)

    def fail_checks(self, name: str, n_bad: int) -> None:
        """Mark `n_bad` stored results of `name` as wrong (oracle check
        made after the run); each one counts as a failed op."""
        if n_bad:
            print(f"{name}: {n_bad} result(s) differ from the oracle", file=sys.stderr)
        self.check_failures += n_bad
