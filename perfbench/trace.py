"""Tracing for the traced run: in-memory spans around each call into a
layer, and per-call cost read from Spark's status stores.

Nothing here changes what a timed call does. Job-group tagging happens
before the clock starts and the status stores are read after it stops;
untraced runs never construct a ``Ledger`` and record no spans.
"""

from __future__ import annotations

import contextlib
import json
import re
import time
from collections.abc import Iterator
from typing import Any

_PY_RUN = "time to run Python workers"
_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")
_UNIT = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0,
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
}
_VALUE = re.compile(r"(-?[0-9.]+)\s*([A-Za-z]+)")
COST_FIELDS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
    "shuffle_bytes", "spill_bytes", "driver_gap_s", "python_run_s",
    "python_bytes",
)


class Spans:
    """One record per call into a layer: name, start, end, parent span
    and run id. Kept in memory; ``dump`` writes them once at the end."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.records: list[dict[str, Any]] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs: Any) -> Iterator[dict]:
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.records), "name": name, "parent": parent,
               "run": self.run_id, "start": time.perf_counter(), **attrs}
        self.records.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def add(self, name: str, start: float, end: float, **attrs: Any) -> None:
        """A span timed by the caller (also from another thread); its
        parent is the innermost open ``span``."""
        parent = self._stack[-1] if self._stack else None
        self.records.append({"id": len(self.records), "name": name, "parent": parent,
                             "run": self.run_id, "start": start, "end": end, **attrs})

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.records, f)


def parse_metric(text: str) -> float:
    """Value of a formatted SQL metric in seconds or bytes. Spark shows
    either ``"2.6 s"`` or, for per-task metrics, ``"total (min, med,
    max ...)\\n3.7 MiB (...)"``; the total is the first value of the
    last line."""
    m = _VALUE.search(text.strip().splitlines()[-1])
    if m is None or m.group(2) not in _UNIT:
        raise ValueError(f"unparsed metric value {text!r}")
    return float(m.group(1)) * _UNIT[m.group(2)]


def union_s(spans: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, reach = 0.0, float("-inf")
    for start, end in sorted(spans):
        if end <= reach:
            continue
        total += end - max(start, reach)
        reach = end
    return total


class Ledger:
    """Reads what the jobs of one job group cost, from the core status
    store (jobs, stages, task metrics) and the SQL status store (Python
    worker metrics, which Spark records there even with the UI off)."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._conv = self._sc._jvm.scala.jdk.javaapi.CollectionConverters
        self._seen_execs = self._sql.executionsCount()
        self._defaults = [getattr(self._store, f"stageData$default${i}")() for i in (3, 5)]

    def tag(self, group: str) -> None:
        self._sc.setJobGroup(group, group, False)

    def untag(self) -> None:
        self._sc.setLocalProperty("spark.jobGroup.id", None)
        self._sc.setLocalProperty("spark.job.description", None)

    def cost(self, group: str, wall_s: float) -> dict[str, float]:
        job_ids = set(self._sc.statusTracker().getJobIdsForGroup(group))
        out = dict.fromkeys(COST_FIELDS, 0.0)
        spans = []
        for jid in job_ids:
            job = self._store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                spans.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
            out["jobs"] += 1
            stages = job.stageIds().iterator()
            while stages.hasNext():
                sid = stages.next()
                for attempt in self._conv.asJava(
                    self._store.stageData(sid, False, self._defaults[0], False, self._defaults[1])
                ):
                    if not attempt.completionTime().isDefined():
                        continue  # skipped: its output was reused
                    out["stages"] += 1
                    out["tasks"] += attempt.numCompleteTasks()
                    out["executor_run_s"] += attempt.executorRunTime() / 1e3
                    out["executor_cpu_s"] += attempt.executorCpuTime() / 1e9
                    out["shuffle_bytes"] += attempt.shuffleWriteBytes()
                    out["spill_bytes"] += attempt.memoryBytesSpilled() + attempt.diskBytesSpilled()
        out["driver_gap_s"] = max(0.0, wall_s - union_s(spans))
        self._python_metrics(job_ids, out)
        return out

    def _python_metrics(self, job_ids: set[int], out: dict[str, float]) -> None:
        """Sum the Python-worker metrics of the SQL executions that ran
        ``job_ids``. The store lists executions in start order, so each
        call reads only those added since the previous call."""
        count = self._sql.executionsCount()
        fresh = self._sql.executionsList(self._seen_execs, count - self._seen_execs)
        self._seen_execs = count
        for ex in self._conv.asJava(fresh):
            if not {int(j) for j in self._conv.asJava(ex.jobs()).keySet()} & job_ids:
                continue
            values = {
                int(k): str(v)
                for k, v in self._conv.asJava(self._sql.executionMetrics(ex.executionId())).items()
            }
            seen = set()
            for metric in self._conv.asJava(ex.metrics()):
                acc, name = metric.accumulatorId(), metric.name()
                if acc in seen or acc not in values:
                    continue
                seen.add(acc)
                if name == _PY_RUN:
                    out["python_run_s"] += parse_metric(values[acc])
                elif name in _PY_BYTES:
                    out["python_bytes"] += parse_metric(values[acc])
