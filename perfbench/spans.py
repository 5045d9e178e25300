"""Spans and Spark stage accounting for the traced run.

A :class:`Tracer` records one span per layer boundary as
``(name, start, end, parent)`` and keeps them in memory. Each span also
sets a Spark job group named after the span, so after the run the jobs,
stages, tasks, executor time, shuffle and spill bytes of every layer are
read from the live status store over py4j (the UI stays off; no port or
URL is involved).
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark import SparkContext


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: str | None = None
    group: str = ""

    @property
    def seconds(self) -> float:
        return self.end - self.start

    def record(self) -> dict:
        return {"name": self.name, "start": self.start, "end": self.end, "parent": self.parent}


@dataclass
class StageTotals:
    """Sums over the completed stages of some set of jobs."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


@dataclass
class Tracer:
    sc: SparkContext
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)
    _run_id: int = 0

    def new_run(self) -> None:
        """Start a fresh set of job groups, so a second traced pass in the
        same process does not count the first one's jobs."""
        self._run_id += 1
        self.spans = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1].name if self._stack else None
        s = Span(name, time.perf_counter(), parent=parent, group=f"{name}#{self._run_id}")
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(s)
            if self._stack:
                self.sc.setJobGroup(self._stack[-1].group, self._stack[-1].name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def get(self, name: str) -> Span:
        return next(s for s in self.spans if s.name == name)

    def self_seconds(self, name: str) -> float:
        """Span duration minus the part of it its children cover
        (children of one span never overlap: the run is sequential)."""
        s = self.get(name)
        return s.seconds - sum(c.seconds for c in self.spans if c.parent == name)

    def subtree(self, name: str) -> list[Span]:
        out = [self.get(name)]
        for c in self.spans:
            if c.parent == name:
                out.extend(self.subtree(c.name))
        return out

    def totals(self, name: str, with_children: bool = False) -> StageTotals:
        """Stage totals of the jobs a span (and optionally its subtree) ran."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        spans = self.subtree(name) if with_children else [self.get(name)]
        out = StageTotals()
        for s in spans:
            for job in tracker.getJobIdsForGroup(s.group):
                out.jobs += 1
                info = tracker.getJobInfo(job)
                for stage in info.stageIds if info else ():
                    data = store.lastStageAttempt(stage)
                    if data.status().toString() == "SKIPPED":
                        continue
                    out.stages += 1
                    out.tasks += data.numTasks()
                    out.executor_run_s += data.executorRunTime() / 1e3
                    out.executor_cpu_s += data.executorCpuTime() / 1e9
                    out.shuffle_write_bytes += data.shuffleWriteBytes()
                    out.spill_bytes += data.memoryBytesSpilled() + data.diskBytesSpilled()
        return out
