"""Spans around the benchmark's calls into the program, with the Spark
work of each span read back from the application status store.

Every span gets its own Spark job group while it is open, so the jobs it
ran (and only those) are attributed to it.  Per-stage counters come from
``statusStore().lastStageAttempt(stage_id)``, which works with the UI
disabled.  With tracing off the recorder still times each span (the
end-to-end latencies need that) but sets no job group and reads no
counters.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: counters summed over the stages of a span's own job group
COUNTERS = (
    "jobs", "failed_jobs", "stages", "tasks", "failed_tasks",
    "executor_run_s", "executor_cpu_s", "input_bytes", "input_records",
    "output_bytes", "output_records", "shuffle_read_bytes", "shuffle_write_bytes",
)


@dataclass
class Span:
    id: int
    parent: int | None
    op: int | None  # spans of one workload operation share this id
    name: str
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Recorder:
    """Keeps spans in memory; :meth:`spans_json` renders them at the end."""

    def __init__(self, spark, traced: bool):
        self.sc = spark.sparkContext
        self.traced = traced
        self.cores = self.sc.defaultParallelism
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._ops = itertools.count(1)
        self._stack: list[Span] = []
        self._seen_stages: set[int] = set()

    def new_op(self) -> int:
        return next(self._ops)

    @contextmanager
    def span(self, name: str, op: int | None = None):
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = parent.op
        s = Span(next(self._ids), parent.id if parent else None, op, name, 0.0)
        self._stack.append(s)
        if self.traced:
            self.sc.setJobGroup(self._group(s), name)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(s)
            if self.traced:
                if parent is not None:
                    self.sc.setJobGroup(self._group(parent), parent.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                s.counters = self._counters(self._group(s))

    @staticmethod
    def _group(s: Span) -> str:
        return f"perfbench-{s.id}"

    def _counters(self, group: str) -> dict:
        jsc = self.sc._jsc.sc()
        # the status store is fed asynchronously: drain the listener bus so
        # the last job's stage metrics are final before they are read
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        c = dict.fromkeys(COUNTERS, 0)
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            c["jobs"] += 1
            if info is None:
                continue
            c["failed_jobs"] += info.status == "FAILED"
            for sid in info.stageIds:
                # a shuffle map stage reused by a later job keeps its id and
                # its COMPLETE record: count its work once, where it ran
                if sid in self._seen_stages:
                    continue
                sd = store.lastStageAttempt(sid)
                if sd.status().toString() in ("SKIPPED", "PENDING"):
                    continue
                self._seen_stages.add(sid)
                c["stages"] += 1
                c["tasks"] += sd.numTasks()
                c["failed_tasks"] += sd.numFailedTasks()
                c["executor_run_s"] += sd.executorRunTime() / 1e3
                c["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                c["input_bytes"] += sd.inputBytes()
                c["input_records"] += sd.inputRecords()
                c["output_bytes"] += sd.outputBytes()
                c["output_records"] += sd.outputRecords()
                c["shuffle_read_bytes"] += sd.shuffleReadBytes()
                c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        return c

    # -- derived views ------------------------------------------------------
    def children(self, s: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == s.id]

    def total(self, s: Span) -> dict:
        """Counters of ``s`` plus all its descendants."""
        out = dict(s.counters) if s.counters else dict.fromkeys(COUNTERS, 0)
        for c in self.children(s):
            for k, v in self.total(c).items():
                out[k] += v
        return out

    def self_time(self, s: Span) -> float:
        """Duration minus the part of it that child spans cover (children
        of one span never overlap: the workloads are single-threaded)."""
        return s.duration - sum(c.duration for c in self.children(s))

    def driver_gap(self, wall: float, counters: dict) -> float:
        """Wall time not explained by executor work spread over all cores."""
        return wall - counters["executor_run_s"] / self.cores

    def spans_json(self) -> list[dict]:
        t0 = min((s.start for s in self.spans), default=0.0)
        return [
            {
                "id": s.id, "parent": s.parent, "op": s.op, "name": s.name,
                "start_s": round(s.start - t0, 6), "end_s": round(s.end - t0, 6),
                "self_s": round(self.self_time(s), 6), "counters": s.counters,
            }
            for s in sorted(self.spans, key=lambda s: s.id)
        ]
