"""Spans and Spark-side counters for the traced run.

Spans are recorded around the benchmark's own calls into the engine's
modules (name, start, end, parent, op id), kept in memory and written out
at the end.  Spark work is read back per op from the driver's status
stores, grouped by the job group the benchmark sets before each op.
"""

from __future__ import annotations

import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder.  With ``enabled`` false every method is a
    no-op, so the untraced run pays nothing but a branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, int] = defaultdict(int)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        rec = {
            "name": name,
            "op": getattr(self._local, "op", None),
            "parent": stack[-1] if stack else None,
            "start": time.perf_counter(),
            **attrs,
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def set_op(self, op) -> None:
        self._local.op = op

    def count(self, name: str) -> None:
        if self.enabled:
            with self._lock:
                self.counts[name] += 1

    def wrap(self, owner, attr: str, name: str, on_call=None):
        """Replace ``owner.attr`` by a wrapper that records a span around
        each call; ``on_call()`` runs first when given."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            if on_call is not None:
                on_call()
            with tracer.span(name):
                return orig(*args, **kwargs)

        wrapper.__wrapped__ = orig
        setattr(owner, attr, wrapper)


def self_times(spans: list[dict]) -> dict[str, dict[str, float]]:
    """Per span name: calls, total time and self time (the span's
    duration minus the part its direct children cover)."""
    child_time: dict[int, float] = defaultdict(float)
    for s in spans:
        if s.get("parent") is not None and "end" in s:
            child_time[s["parent"]] += s["end"] - s["start"]
    out: dict[str, dict[str, float]] = {}
    for s in spans:
        if "end" not in s:
            continue
        d = s["end"] - s["start"]
        agg = out.setdefault(s["name"], {"calls": 0, "total_s": 0.0, "self_s": 0.0})
        agg["calls"] += 1
        agg["total_s"] += d
        agg["self_s"] += max(0.0, d - child_time[s["id"]])
    return out


# ------------------------------------------------------------ Spark stores
_DUR = re.compile(r"([0-9.]+)\s*(ms|s|m|min|h)\b")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}

#: SQL metric (node-name pattern, metric name) -> per-layer metric
_SQL_METRICS = [
    (re.compile(r"^Scan "), "scan time", "sql.scan_s"),
    (re.compile(r"Aggregate"), "time in aggregation build", "sql.agg_build_s"),
    (re.compile(r"^Sort"), "sort time", "sql.sort_s"),
    (re.compile(r"^WholeStageCodegen"), "duration", "sql.codegen_s"),
]
_PYTHON_NODE = re.compile(r"Python|Pandas|Arrow")


def parse_duration_s(text: str) -> float:
    """Seconds from a formatted Spark SQL timing metric: either ``"12 ms"``
    or a ``"total (min, med, max ...)\\n1.2 s (...)"`` summary."""
    line = text.strip().splitlines()[-1]
    m = _DUR.search(line)
    return float(m.group(1)) * _UNIT_S[m.group(2)] if m else 0.0


class SparkStats:
    """Reads one op's jobs, stages and SQL operator metrics back from the
    driver's status stores, selected by job group."""

    FIELDS = [
        "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s",
        "spark.executor_cpu_s", "spark.input_bytes", "spark.shuffle_write_bytes",
        "spark.spill_bytes", "sql.scan_s", "sql.agg_build_s", "sql.sort_s",
        "sql.codegen_s", "sql.python_s",
    ]

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self._seen = 0

    def start_op(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def collect(self, group: str) -> dict[str, float]:
        out = dict.fromkeys(self.FIELDS, 0.0)
        job_ids = set(self.sc.statusTracker().getJobIdsForGroup(group))
        stage_ids = set()
        for j in job_ids:
            it = self.store.job(j).stageIds().iterator()
            while it.hasNext():
                stage_ids.add(it.next())
        out["spark.jobs"] = len(job_ids)
        for sid in stage_ids:
            lst = self.store.stageData(sid, False, None, False, None)
            it = lst.iterator()
            while it.hasNext():
                sd = it.next()
                if str(sd.status()) == "SKIPPED":
                    continue
                out["spark.stages"] += 1
                out["spark.tasks"] += sd.numCompleteTasks()
                out["spark.executor_run_s"] += sd.executorRunTime() / 1e3
                out["spark.executor_cpu_s"] += sd.executorCpuTime() / 1e9
                out["spark.input_bytes"] += sd.inputBytes()
                out["spark.shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spark.spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        self._collect_sql(job_ids, out)
        return out

    def _collect_sql(self, job_ids: set, out: dict) -> None:
        total = self.sql_store.executionsCount()
        lst = self.sql_store.executionsList(self._seen, max(0, total - self._seen))
        self._seen = total
        it = lst.iterator()
        while it.hasNext():
            ex = it.next()
            eid = ex.executionId()
            jobs = ex.jobs().keySet().iterator()
            mine = False
            while jobs.hasNext():
                if jobs.next() in job_ids:
                    mine = True
            if not mine:
                continue
            values = self.sql_store.executionMetrics(eid)
            nodes = self.sql_store.planGraph(eid).allNodes()
            for i in range(nodes.size()):
                node = nodes.apply(i)
                name = node.name()
                metrics = node.metrics()
                for k in range(metrics.size()):
                    pm = metrics.apply(k)
                    if pm.metricType() not in ("timing", "nsTiming"):
                        continue
                    v = values.get(pm.accumulatorId())
                    if not v.isDefined():
                        continue
                    secs = parse_duration_s(v.get())
                    for pat, metric, key in _SQL_METRICS:
                        if pm.name() == metric and pat.search(name):
                            out[key] += secs
                    if _PYTHON_NODE.search(name):
                        out["sql.python_s"] += secs
