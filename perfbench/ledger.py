"""Tracing for the benchmark's traced runs, recorded from outside the
engine: in-memory spans around the calls into each layer, and a
per-query cost ledger read from Spark's status store.

Spans form the tree run -> pass -> query -> {build, action, clear}.
Each records its name, start, end and parent; all spans of one run
share the run's trace id.  They stay in memory until
:meth:`Tracer.dump` writes them out at the end of the run.

The ledger tags each query's jobs with ``setJobGroup`` and, right after
the query's sink returns, reads that group's jobs and stages back from
the status store (reachable over py4j with the UI disabled).  Stages a
job lists but the store has already evicted (``spark.ui.retainedStages``)
are counted, not silently read as zero.
"""

from __future__ import annotations

import json
import time
import uuid
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


class Tracer:
    """Spans of one run."""

    def __init__(self) -> None:
        self.trace_id = uuid.uuid4().hex
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": len(self.spans), "trace": self.trace_id, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def record(self, name: str, start: float, end: float) -> None:
        """Add a finished child span of the current span."""
        self.spans.append({"id": len(self.spans), "trace": self.trace_id,
                           "name": name, "parent": self._stack[-1],
                           "start": start, "end": end})

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the part covered by
        child spans."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child[s["id"]]
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"trace_id": self.trace_id, "spans": self.spans,
                       "self_time_s": self.self_times(), **extra}, f)


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Ledger:
    """Job-group tagging and status-store reads for one SparkContext."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._store = self._jsc.statusStore()

    def tag(self, group: str) -> None:
        self._sc.setJobGroup(group, group, False)

    def untag(self) -> None:
        self._sc._jsc.clearJobGroup()

    def read(self, group: str, lo: float, hi: float) -> dict:
        """Counts and executor totals of ``group``'s jobs; ``lo``/``hi``
        bound the query's wall interval (``time.time()``), inside which
        ``driver_s`` is the time no job of the group was running."""
        self._jsc.listenerBus().waitUntilEmpty()
        jobs = self._sc.statusTracker().getJobIdsForGroup(group)
        intervals, stage_ids = [], set()
        for jid in jobs:
            job = self._store.job(jid)
            start = job.submissionTime()
            end = job.completionTime()
            if start.isDefined() and end.isDefined():
                intervals.append(
                    (max(lo, start.get().getTime() / 1000.0),
                     min(hi, end.get().getTime() / 1000.0)))
            ids = job.stageIds().mkString(",")
            stage_ids.update(int(s) for s in ids.split(",") if s)
        rec = {"jobs": len(jobs), "stages": 0, "tasks": 0,
               "executor_run_s": 0.0, "executor_cpu_s": 0.0, "gc_s": 0.0,
               "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0,
               "spill_mb": 0.0, "stages_unrecorded": 0}
        for sid in sorted(stage_ids):
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:
                rec["stages_unrecorded"] += 1
                continue
            if st.status().toString() == "SKIPPED":
                continue
            rec["stages"] += 1
            rec["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            rec["executor_run_s"] += st.executorRunTime() / 1e3
            rec["executor_cpu_s"] += st.executorCpuTime() / 1e9
            rec["gc_s"] += st.jvmGcTime() / 1e3
            rec["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
            rec["shuffle_read_mb"] += st.shuffleReadBytes() / 1e6
            rec["spill_mb"] += st.diskBytesSpilled() / 1e6
        busy = _union_s([iv for iv in intervals if iv[1] > iv[0]])
        rec["job_busy_s"] = busy
        rec["driver_s"] = max(0.0, (hi - lo) - busy)
        return rec
