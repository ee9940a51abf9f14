"""Span recorder for the traced benchmark run.

Spans are recorded from outside the program: :meth:`Tracer.wrap`
replaces a public function or method with a timing wrapper, and the
benchmark opens spans around its own calls with :meth:`Tracer.span`.
A span holds name, start, end, parent index and op id; with a
SparkContext attached it also holds the Spark job, stage and task
counts that ran inside it (``statusTracker``, read after the listener
bus has drained). Spans stay in memory until :meth:`Tracer.dump`.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: str | None = None
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    tasks_failed: int = 0

    @property
    def dur(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Per span: its duration minus the time its direct children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return [s.dur - covered(kids.get(i, []), s.start, s.end) for i, s in enumerate(spans)]


class _SparkCounter:
    """Job/stage/task counts of the Spark jobs one span submits: the
    span runs under a job group of its own, read back through
    ``statusTracker`` after the listener bus has drained."""

    def __init__(self, sc) -> None:
        self._sc = sc
        self._tracker = sc.statusTracker()
        self._bus = sc._jsc.sc().listenerBus()
        self._n = 0

    def begin(self) -> tuple[str, str | None]:
        self._n += 1
        group = f"perfbench-span-{self._n}"
        outer = self._sc.getLocalProperty("spark.jobGroup.id")
        self._sc.setJobGroup(group, group)
        return group, outer

    def end(self, token: tuple[str, str | None]) -> tuple[int, int, int, int]:
        group, outer = token
        if outer is None:
            self._sc._jsc.clearJobGroup()
        else:
            self._sc.setJobGroup(outer, outer)
        self._bus.waitUntilEmpty(10_000)
        jobs = self._tracker.getJobIdsForGroup(group)
        stages: set[int] = set()
        for j in jobs:
            info = self._tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tasks = failed = 0
        for st in stages:
            info = self._tracker.getStageInfo(st)
            if info is not None:  # None: stage skipped (shuffle reused)
                tasks += info.numTasks
                failed += info.numFailedTasks
        return len(jobs), len(stages), tasks, failed


class Tracer:
    """Records spans while :attr:`active`; wrappers pass straight
    through when it is off, so one process can alternate traced and
    untraced cycles."""

    def __init__(self, sc=None) -> None:
        self.spans: list[Span] = []
        self.active = False
        self.op: str | None = None
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self._counter = _SparkCounter(sc) if sc is not None else None

    @contextlib.contextmanager
    def span(self, name: str, spark_counts: bool = False):
        """Record span ``name``; ``spark_counts`` also counts the Spark
        jobs, stages and tasks it ran (costs a listener-bus drain)."""
        if not self.active:
            yield None
            return
        counter = self._counter if spark_counts else None
        token = counter.begin() if counter else None
        s = Span(name, time.perf_counter(), parent=self._stack[-1] if self._stack else None, op=self.op)
        idx = len(self.spans)
        self.spans.append(s)
        self._stack.append(idx)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if counter is not None:
                s.jobs, s.stages, s.tasks, s.tasks_failed = counter.end(token)

    def wrap(self, owner: object, attr: str, name: str, spark_counts: bool = False) -> None:
        """Replace ``owner.attr`` by a wrapper that records span ``name``."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, spark_counts):
                return fn(*args, **kwargs)

        self._patched.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def dump(self, path: str) -> None:
        selfs = self_times(self.spans)
        with open(path, "w") as fh:
            for s, own in zip(self.spans, selfs):
                fh.write(json.dumps({**asdict(s), "self": own}) + "\n")
