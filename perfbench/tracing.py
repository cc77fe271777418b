"""Spans around the benchmark's calls into each layer.

A span records name, start, end and parent, plus the Spark jobs,
stages and tasks the call caused. Jobs are attributed by job group:
a span run on the caller's thread sets its own group, and the jobs a
call launches from helper threads (which start with no group) are
the ungrouped jobs that appeared during the span. A span inside a
streaming `foreachBatch` keeps the query's group (its run id) and
takes the jobs that group gained during the call.

`NullTracer` has the same interface, times each call and records
nothing: end-to-end metrics are measured with it. Either way a span's
`duration` covers the call only, not the tracer's bookkeeping around
it (waiting for the listener bus and querying the status tracker).
That bookkeeping is the tracing overhead; the tracer measures it
directly rather than as the difference of a traced and an untraced
run, which the host's run-to-run noise would swamp.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class NullTracer:
    enabled = False
    overhead_s = 0.0

    @contextmanager
    def span(self, name: str, *, stream: bool = False, **attrs):
        s = Span(0, name, None, time.perf_counter(), attrs=attrs)
        try:
            yield s
        finally:
            s.end = time.perf_counter()

    def spans(self, name: str) -> list[Span]:
        return []


class Tracer:
    """Keeps spans in memory; `dump()` writes them out at exit."""

    enabled = True

    def __init__(self, sc) -> None:
        self._sc = sc
        self._tracker = sc.statusTracker()
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.all: list[Span] = []
        self.overhead_s = 0.0  # bookkeeping time over all spans

    def _drain_listener_bus(self) -> None:
        # The status tracker is fed asynchronously by the listener
        # bus; wait until it has seen every event of the call.
        self._sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)

    def _group_jobs(self, group: str | None) -> set[int]:
        return set(self._tracker.getJobIdsForGroup(group))

    @contextmanager
    def span(self, name: str, *, stream: bool = False, **attrs):
        t_in = time.perf_counter()
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1].id if stack else None
        s = Span(next(self._ids), name, parent, 0.0, attrs=attrs)
        sc = self._sc
        prev_group = sc.getLocalProperty("spark.jobGroup.id")
        own_group = not stream and parent is None
        group = f"perfbench-{s.id}" if own_group else prev_group
        self._drain_listener_bus()
        before = self._group_jobs(None) | (set() if own_group else self._group_jobs(group))
        if own_group:
            sc.setJobGroup(group, name)
        stack.append(s)
        t_call = s.start = time.perf_counter()
        try:
            yield s
        finally:
            t_back = time.perf_counter()
            stack.pop()
            s.end = t_back
            if own_group:
                if prev_group is None:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                else:
                    sc.setJobGroup(prev_group, "")
            self._drain_listener_bus()
            jobs = (self._group_jobs(None) | self._group_jobs(group)) - before
            self._count(s, jobs)
            with self._lock:
                self.all.append(s)
                self.overhead_s += (t_call - t_in) + (time.perf_counter() - t_back)

    def _count(self, s: Span, jobs: set[int]) -> None:
        stages = set()
        for j in jobs:
            info = self._tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        s.jobs = len(jobs)
        for sid in stages:
            st = self._tracker.getStageInfo(sid)
            if st is not None:  # skipped stages never ran an attempt
                s.stages += 1
                s.tasks += st.numTasks

    def spans(self, name: str) -> list[Span]:
        with self._lock:
            return [s for s in self.all if s.name == name]

    def overhead_ms_per_span(self) -> float:
        with self._lock:
            return 1000.0 * self.overhead_s / max(len(self.all), 1)

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the part of it that
        child spans cover."""
        with self._lock:
            spans = list(self.all)
        return self_times(spans)

    def dump(self, path: str) -> None:
        with self._lock:
            spans = [asdict(s) for s in self.all]
        with open(path, "w") as f:
            json.dump(
                {"spans": spans, "self_time_s": self.self_times(), "overhead_s": self.overhead_s}, f
            )


def self_times(spans: list[Span]) -> dict[str, float]:
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        covered, edge = 0.0, s.start
        for c in sorted(kids.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, edge), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                edge = hi
        out[s.name] = out.get(s.name, 0.0) + s.duration - covered
    return out
