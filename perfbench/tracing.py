"""Spans around calls into the package, each under its own Spark job
group, and the Spark stage metrics of every group read from the
driver's status store.

Only the traced run installs any of this; the untraced run calls the
package exactly as a user would.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import time
from dataclasses import dataclass, field

# StageData fields summed per span, in the units Spark reports them
STAGE_FIELDS = (
    "numCompleteTasks",
    "executorRunTime",  # ms
    "executorCpuTime",  # ns
    "inputBytes",
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "diskBytesSpilled",
)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    stage_ids: set[int] = field(default_factory=set)
    result: object = None  # what the wrapped call returned

    @property
    def group(self) -> str:
        return f"perfbench-{self.id}"

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans stay in memory; ``finish_op`` attaches each span's jobs and
    stages once Spark's listener bus has caught up."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(next(self._ids), name, parent.id if parent else None, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def finish_op(self, op: Span) -> tuple[list[Span], dict[str, float]]:
        """The op's spans (itself included) and its summed stage metrics."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        spans = [s for s in self.spans if s.id >= op.id]
        for s in spans:
            job_ids = tracker.getJobIdsForGroup(s.group)
            s.jobs = len(job_ids)
            for j in job_ids:
                s.stage_ids.update(tracker.getJobInfo(j).stageIds)
        return spans, self.stage_totals(set().union(*(s.stage_ids for s in spans)))

    def stage_totals(self, stage_ids: set[int]) -> dict[str, float]:
        """Summed metrics of the stages that ran (skipped ones excluded)."""
        store = self.sc._jsc.sc().statusStore()
        tot = dict.fromkeys(STAGE_FIELDS, 0.0)
        tot["stages"] = 0
        for sid in stage_ids:
            data = store.lastStageAttempt(sid)
            if data.status().toString() == "SKIPPED":
                continue
            tot["stages"] += 1
            for f in STAGE_FIELDS:
                tot[f] += getattr(data, f)()
        return tot

    @contextlib.contextmanager
    def patched(self, targets):
        """Wrap ``(owner, attr, name_of)`` methods in spans for the
        duration of the block; ``name_of(kwargs)`` names the span."""
        originals = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in targets]
        for (owner, attr, name_of), (_, _, fn) in zip(targets, originals):
            setattr(owner, attr, self._wrap(fn, name_of))
        try:
            yield
        finally:
            for owner, attr, fn in originals:
                setattr(owner, attr, fn)

    def _wrap(self, fn, name_of):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name_of(kwargs)) as s:
                s.result = fn(*args, **kwargs)
                return s.result

        return traced


def jvm_gc_s(spark) -> float:
    """Collection time of every JVM garbage collector, in seconds."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0
