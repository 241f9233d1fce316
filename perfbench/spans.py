"""Spans for the traced run: wall time, process-tree CPU and the Spark
stage counters of the jobs the span launched.

Each span runs its jobs under its own Spark job group, so the status
store can attribute stages to it afterwards.  Spans are kept in memory
and written out as JSON lines by ``Tracer.dump`` when the benchmark
ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from procfs import tree_reading


@dataclass
class Span:
    name: str
    span_id: str
    parent: str | None
    trace_id: str
    start: float = 0.0
    end: float = 0.0
    cpu_s: float = 0.0
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0

    @property
    def wall_s(self) -> float:
        return self.end - self.start


def stage_counters(sc, group: str) -> dict:
    """Sum the status store's per-stage counters over every job that
    ran in ``group``.  Waits for the listener bus first: task-end
    events arrive asynchronously after the action has returned."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    job_ids = tracker.getJobIdsForGroup(group)
    stage_ids = set()
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = dict(jobs=len(job_ids), tasks=0, failed_tasks=0,
               shuffle_write_bytes=0, spill_bytes=0)
    if not stage_ids:
        return out
    gw = sc._gateway
    stages = jsc.statusStore().stageList(
        None, False, False, gw.new_array(gw.jvm.double, 0),
        gw.jvm.java.util.ArrayList())
    for i in range(stages.size()):
        sd = stages.apply(i)
        if sd.stageId() not in stage_ids:
            continue
        out["tasks"] += sd.numCompleteTasks()
        out["failed_tasks"] += sd.numFailedTasks()
        out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
    return out


class Tracer:
    """Nested spans sharing one trace id."""

    def __init__(self, spark, trace_id: str):
        self.sc = spark.sparkContext
        self.trace_id = trace_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._n = 0

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._n += 1
        rec = Span(name, f"{self.trace_id}:{self._n}:{name}",
                   parent.span_id if parent else None, self.trace_id)
        self._stack.append(rec)
        self.sc.setJobGroup(rec.span_id, name)
        cpu0 = tree_reading()[0]
        rec.start = time.perf_counter()
        try:
            yield rec
        finally:
            rec.end = time.perf_counter()
            rec.cpu_s = tree_reading()[0] - cpu0
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.span_id, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            for k, v in stage_counters(self.sc, rec.span_id).items():
                setattr(rec, k, v)
            self.spans.append(rec)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(asdict(rec)) + "\n")
