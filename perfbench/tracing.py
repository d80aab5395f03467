"""Spans around layer calls and Spark counters per op.

A ``Tracer`` built with ``enabled=False`` records nothing, so the
untraced passes that give the end-to-end numbers pay only a few
attribute lookups.  Spans live in memory and are written out once, at
the end of the run.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

# Spark SQL plan metrics read from executed plans, by plan-node metric key
_PY_KEYS = {
    "pythonBootTime": "pyworker.boot_ms",
    "pythonInitTime": "pyworker.init_ms",
    "pythonTotalTime": "pyworker.total_ms",
    "pythonDataSent": "pyworker.bytes_sent",
    "pythonDataReceived": "pyworker.bytes_received",
}


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.ops: list[dict] = []  # per traced op: name, pass, counters
        self._stack: list[int] = []
        self._op: dict | None = None
        self._pass = -1

    def start_pass(self, index: int) -> None:
        self._pass = index

    @contextmanager
    def span(self, name: str):
        """Time one layer call; nested spans record their parent."""
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self._op["id"] if self._op else None,
            "pass": self._pass,
            "start": time.time(),
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    @contextmanager
    def op(self, name: str):
        """One benchmark op: a span plus its Spark job group."""
        if not self.enabled:
            yield
            return
        rec = {"id": len(self.ops), "name": name, "pass": self._pass, "counters": {}}
        group = f"perfbench-{rec['id']}"
        self.sc.setJobGroup(group, name)
        self._op = rec
        t0 = time.time()
        try:
            with self.span("op." + name):
                yield
        finally:
            t1 = time.time()
            self._op = None
            self.sc.setJobGroup("perfbench-idle", "idle")
            rec["counters"].update(self._spark_counters(group, t0, t1))
            self.ops.append(rec)

    def add(self, key: str, value: float) -> None:
        """Add a counter measured by the caller to the current op."""
        if self.enabled and self._op is not None:
            c = self._op["counters"]
            c[key] = c.get(key, 0) + value

    def plan_metrics(self, df) -> None:
        """Scan and Python-runner counters from ``df``'s executed plan
        (call after its action ran)."""
        if not self.enabled:
            return
        for node in _walk(df._jdf.queryExecution().executedPlan()):
            name = node.nodeName()
            metrics = node.metrics()
            if name.startswith("Scan parquet"):
                self.add("reader.files_read", _metric(metrics, "numFiles"))
                self.add("reader.rows_scanned", _metric(metrics, "numOutputRows"))
            for key, out in _PY_KEYS.items():
                if metrics.contains(key):
                    m = metrics.apply(key)
                    v = m.value()
                    if out.endswith("_ms") and m.metricType() == "nsTiming":
                        v = v / 1e6
                    self.add(out, v)

    def _spark_counters(self, group: str, t0: float, t1: float) -> dict:
        store = self.sc._jsc.sc().statusStore()
        out = dict.fromkeys(
            [
                "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_ms",
                "spark.executor_cpu_ms", "spark.gc_ms", "spark.shuffle_write_bytes",
                "spark.shuffle_read_bytes", "spark.spill_bytes",
            ],
            0.0,
        )
        intervals = []
        seen: set[int] = set()
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            job = store.job(jid)
            out["spark.jobs"] += 1
            sub, comp = job.submissionTime(), job.completionTime()
            if sub.isDefined() and comp.isDefined():
                intervals.append((sub.get().getTime() / 1e3, comp.get().getTime() / 1e3))
            sids = job.stageIds()
            for i in range(sids.size()):
                sid = sids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                st = store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                out["spark.stages"] += 1
                out["spark.tasks"] += st.numCompleteTasks()
                out["spark.executor_run_ms"] += st.executorRunTime()
                out["spark.executor_cpu_ms"] += st.executorCpuTime() / 1e6
                out["spark.gc_ms"] += st.jvmGcTime()
                out["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spark.shuffle_read_bytes"] += st.shuffleReadBytes()
                out["spark.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        busy = _union_length([(max(a, t0), min(b, t1)) for a, b in intervals])
        out["spark.driver_gap_ms"] = max(0.0, (t1 - t0) - busy) * 1e3
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "ops": self.ops, **extra}, f)


def _metric(metrics, key: str) -> float:
    return metrics.apply(key).value() if metrics.contains(key) else 0


def _walk(plan):
    """Every node of an executed plan, descending into adaptive and
    query-stage wrappers."""
    todo = [plan]
    while todo:
        node = todo.pop()
        yield node
        name = node.nodeName()
        if name.startswith("AdaptiveSparkPlan"):
            todo.append(node.executedPlan())
        elif "QueryStage" in name:
            todo.append(node.plan())
        else:
            children = node.children()
            todo.extend(children.apply(i) for i in range(children.size()))


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total
