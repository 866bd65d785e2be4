"""Span tracer: wall time per layer call plus the Spark work it caused.

Each span runs its body under its own Spark job group.  When the span
ends, the tracer first waits until the listener bus has delivered every
pending event, because the status store is filled from that bus
asynchronously and the span's last stage may not be recorded yet.  It
then reads the group's jobs and stages from ``statusTracker()`` and
each stage's task count, executor run time, shuffle and spill from the
driver's status store, which Spark keeps with the UI off.  Spans are
held in memory; the caller writes them out at the end of the run.

Jobs belong to the innermost open span, so a span's counts exclude its
children's.  A span's self time is its duration minus the part of it
that its children cover.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

STAGE_FIELDS = ("tasks", "executor_run_ms", "shuffle_write_bytes",
                "spill_bytes", "input_bytes")


class Tracer:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._status = self._sc.statusTracker()
        self._store = self._sc._jsc.sc().statusStore()
        self._bus = self._sc._jsc.sc().listenerBus()
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.collect_s = 0.0  # time spent draining and reading status

    @contextmanager
    def span(self, name: str, layer: str):
        """Time the body as one span of ``layer``; yields the record,
        which the caller may extend (e.g. with a row count)."""
        rec = {"id": len(self.spans), "name": name, "layer": layer,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "group": f"perfbench-{len(self.spans)}"}
        self.spans.append(rec)
        self._stack.append(rec)
        self._sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                parent = self._stack[-1]
                self._sc.setJobGroup(parent["group"], parent["name"])
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
            t = time.perf_counter()
            self._bus.waitUntilEmpty()
            rec.update(self._group_work(rec["group"]))
            self.collect_s += time.perf_counter() - t

    def _group_work(self, group: str) -> dict:
        work = {"jobs": 0, "stages": 0, "skipped_stages": 0}
        work.update({f: 0 for f in STAGE_FIELDS})
        for job in self._status.getJobIdsForGroup(group):
            work["jobs"] += 1
            info = self._status.getJobInfo(job)
            for stage in (info.stageIds if info else []):
                work["stages"] += 1
                sd = self._store.lastStageAttempt(stage)
                if sd.status().toString() == "SKIPPED":
                    work["skipped_stages"] += 1
                    continue
                work["tasks"] += sd.numTasks()
                work["executor_run_ms"] += sd.executorRunTime()
                work["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                work["spill_bytes"] += (sd.memoryBytesSpilled()
                                        + sd.diskBytesSpilled())
                work["input_bytes"] += sd.inputBytes()
        return work

    def cached_bytes(self) -> int:
        """Storage held by cached RDDs and DataFrames right now."""
        return sum(r.memSize() + r.diskSize()
                   for r in self._sc._jsc.sc().getRDDStorageInfo())


def self_time(spans: list[dict], span_id: int) -> float:
    """Duration of a span minus the union of its children's intervals."""
    span = spans[span_id]
    kids = sorted((s["start"], s["end"]) for s in spans
                  if s["parent"] == span_id)
    covered, cur_start, cur_end = 0.0, None, None
    for start, end in kids:
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                covered += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        covered += cur_end - cur_start
    return (span["end"] - span["start"]) - covered
