"""Spans and Spark-side counters for the traced run.

`Tracer` keeps every span in memory (name, start, end, parent, op id)
and writes them as JSON lines when the run ends. `NullTracer` is what
the untraced run uses: spans and GC reads that do nothing (ops only
call the rest when `enabled`), so the end-to-end figures carry no
tracing cost.

Stage metrics come from the Spark status REST API of the driver's own
UI (localhost only). When the UI is off or a request fails, every
stage-derived value is None, and the run still completes.
"""

from __future__ import annotations

import json
import statistics
import time
import urllib.request
from contextlib import contextmanager


class NullTracer:
    enabled = False

    @contextmanager
    def span(self, name: str, op_id: int | None = None):
        yield

    def gc_s(self, spark) -> float:
        return 0.0


class Tracer(NullTracer):
    enabled = True

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.self_s = 0.0  # time spent in the tracer's own bookkeeping

    @contextmanager
    def span(self, name: str, op_id: int | None = None):
        parent = self.spans[self._stack[-1]] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": op_id if op_id is not None or parent is None else parent["op"],
            "parent": parent["id"] if parent else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    # -- per-op Spark counters ---------------------------------------------

    def begin_op(self, spark, op_id: int, name: str) -> None:
        t = time.perf_counter()
        spark.sparkContext.setJobGroup(f"{name}#{op_id}", name)
        self.self_s += time.perf_counter() - t

    def end_op(self, spark, op_id: int) -> dict:
        """Stage metrics of every job the op's group ran. The listener
        bus is drained first so the status store has seen the stages."""
        t = time.perf_counter()
        sc = spark.sparkContext
        group = sc.getLocalProperty("spark.jobGroup.id")
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        tracker = sc.statusTracker()
        stage_ids = []
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            if info is not None:
                stage_ids += list(info.stageIds)
        out = _stage_metrics(sc, stage_ids)
        sc.setLocalProperty("spark.jobGroup.id", None)
        self.self_s += time.perf_counter() - t
        return out

    def jobs_so_far(self, spark) -> int:
        sc = spark.sparkContext
        return len(sc.statusTracker().getJobIdsForGroup(sc.getLocalProperty("spark.jobGroup.id")))

    def gc_s(self, spark) -> float:
        t = time.perf_counter()
        beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        total = sum(b.getCollectionTime() for b in beans) / 1000.0
        self.self_s += time.perf_counter() - t
        return total

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


# the UI is on this host: never route its requests through a proxy
_OPENER = urllib.request.build_opener(urllib.request.ProxyHandler({}))


def _get(url: str):
    with _OPENER.open(url, timeout=5) as resp:
        return json.load(resp)


def _stage_metrics(sc, stage_ids: list[int]) -> dict:
    keys = ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "task_max_s", "task_p50_s")
    ui = sc.uiWebUrl
    if not ui:
        return dict.fromkeys(keys)
    if not stage_ids:
        return dict.fromkeys(keys, 0)
    port = ui.rsplit(":", 1)[1]
    api = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}/stages"
    sw = sr = spill = 0
    task_max, task_p50 = 0.0, []
    try:
        for sid in sorted(set(stage_ids)):
            for att in _get(f"{api}/{sid}?details=false"):
                if att.get("status") != "COMPLETE":
                    continue  # skipped stages (reused shuffle output) ran no tasks
                sw += att.get("shuffleWriteBytes", 0)
                sr += att.get("shuffleReadBytes", 0)
                spill += att.get("memoryBytesSpilled", 0) + att.get("diskBytesSpilled", 0)
                summ = _get(f"{api}/{sid}/{att['attemptId']}/taskSummary?quantiles=0.5,1.0")
                p50, mx = summ["duration"]
                task_max = max(task_max, mx / 1000.0)
                task_p50.append(p50 / 1000.0)
    except (OSError, ValueError, KeyError):
        return dict.fromkeys(keys)
    return {
        "shuffle_write_bytes": sw,
        "shuffle_read_bytes": sr,
        "spill_bytes": spill,
        "task_max_s": task_max,
        "task_p50_s": statistics.median(task_p50) if task_p50 else 0.0,
    }
