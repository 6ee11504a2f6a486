"""Span recorder and Spark status-store reader.

A span is a named interval around one call into a layer.  Spans nest
(``parent``) and share an ``op`` id with every other span of the same
benchmark operation.  They are kept in memory and written out when the
run ends.

Jobs are attributed to a span by submission: the scheduler numbers jobs
in submission order, so the jobs submitted while a span was open are
exactly the ids between the scheduler's next-job counter at span start
and at span end.  This holds for jobs submitted from any thread,
including the package's thread pools, which drop job-group tags.  Each
span's jobs and stages are read from the status store when the span
ends, before the store's retained-job limit can evict them.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

STAGE_FIELDS = (
    "numTasks", "executorRunTime", "shuffleReadBytes", "shuffleWriteBytes",
    "memoryBytesSpilled", "diskBytesSpilled", "outputBytes", "outputRecords",
    "inputBytes",
)


@dataclass
class Span:
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    jobs: list[tuple[float, float]] = field(default_factory=list)
    stages: dict[str, int] = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def clipped(intervals: list[tuple[float, float]], start: float, end: float) -> list[tuple[float, float]]:
    return [(max(s, start), min(e, end)) for s, e in intervals if min(e, end) > max(s, start)]


class SparkStatus:
    """Reads job and stage metrics from the session's status store."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()

    def next_job_id(self) -> int:
        return self._sc.dagScheduler().nextJobId()

    def jobs(self, first: int, stop: int) -> tuple[list[tuple[float, float]], dict[str, int]]:
        """Intervals (epoch seconds) and summed stage metrics of jobs
        ``first <= id < stop``, once the listener bus has caught up."""
        self._sc.listenerBus().waitUntilEmpty()
        intervals: list[tuple[float, float]] = []
        totals = dict.fromkeys(STAGE_FIELDS, 0)
        seen: set[int] = set()
        for job_id in range(first, stop):
            job = self._store.job(job_id)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined():
                start = sub.get().getTime() / 1000.0
                end = done.get().getTime() / 1000.0 if done.isDefined() else time.time()
                intervals.append((start, end))
            stages = job.stageIds().iterator()
            while stages.hasNext():
                sid = stages.next()
                if sid in seen:
                    continue
                seen.add(sid)
                stage = self._store.lastStageAttempt(sid)
                for f in STAGE_FIELDS:
                    totals[f] += getattr(stage, f)()
        return intervals, totals


class Tracer:
    """Records spans; ``enabled=False`` makes ``span`` a no-op so the
    same workload code runs untraced."""

    def __init__(self, status=None, enabled: bool = True):
        self.status = status
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        # op -> seconds spent reading the scheduler and the status store
        self.overhead_s: dict[int, float] = {}

    @contextmanager
    def span(self, name: str, op: int):
        if not self.enabled:
            yield None
            return
        sp = Span(name, op, self._stack[-1] if self._stack else None, time.time())
        self.spans.append(sp)
        idx = len(self.spans) - 1
        self._stack.append(idx)
        t = time.perf_counter()
        first = self.status.next_job_id() if self.status else 0
        self._charge(op, t)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            t = time.perf_counter()
            if self.status:
                sp.jobs, sp.stages = self.status.jobs(first, self.status.next_job_id())
            self._charge(op, t)

    def _charge(self, op: int, since: float) -> None:
        self.overhead_s[op] = self.overhead_s.get(op, 0.0) + time.perf_counter() - since

    def children(self, idx: int) -> list[Span]:
        return [s for s in self.spans if s.parent == idx]

    def self_time(self, idx: int) -> float:
        """Span duration minus the part of it its child spans cover."""
        sp = self.spans[idx]
        kids = clipped([(c.start, c.end) for c in self.children(idx)], sp.start, sp.end)
        return sp.wall_s - union_length(kids)

    def records(self) -> list[dict]:
        out = []
        for i, sp in enumerate(self.spans):
            out.append({
                "id": i, "name": sp.name, "op": sp.op, "parent": sp.parent,
                "start": sp.start, "end": sp.end, "wall_s": sp.wall_s,
                "self_s": self.self_time(i), "outside_jobs_s": outside_jobs_s(sp),
                "jobs": len(sp.jobs), **sp.stages,
            })
        return out


def outside_jobs_s(sp: Span) -> float:
    """Span wall time not covered by any of its jobs."""
    return sp.wall_s - union_length(clipped(sp.jobs, sp.start, sp.end))
