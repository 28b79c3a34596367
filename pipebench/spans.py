"""Spans recorded from outside the package.

A ``Tracer`` wraps public functions where their callers look them up, so
the package itself is not changed.  Each span:

- records its name, start, end, parent and run id, and the benchmark phase
  it ran in (set-up, timed or check);
- sets its own Spark job group while it is open, so the jobs it started are
  read back from ``statusTracker`` when it closes, together with their
  stages and completed tasks.

Spans stay in memory; ``write`` saves them once, when the run ends.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    phase: str
    start: float = 0.0
    end: float = 0.0
    jobs: int = 0  # jobs started in this span's own job group
    stages: int = 0  # stages of those jobs not seen in an earlier span
    tasks: int = 0  # completed tasks of those stages
    children: list[int] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(start: float, end: float, intervals) -> float:
    """Length of [start, end] covered by the union of ``intervals``."""
    clipped = sorted((max(a, start), min(b, end)) for a, b in intervals if b > start and a < end)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(start: float, end: float, child_intervals) -> float:
    """A span's duration minus the part of it that its children cover."""
    return (end - start) - covered(start, end, child_intervals)


class Tracer:
    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.phase = "setup"
        self.spans: list[Span] = []
        self.overhead: dict[str, float] = {}  # phase -> seconds spent in bookkeeping
        self._stack: list[Span] = []
        # A reused shuffle stage shows up again, skipped, in later jobs.
        self._seen_stages: set[int] = set()
        self._bus = sc._jsc.sc().listenerBus()

    def _group(self, span: Span) -> str:
        return f"pipebench-{self.run_id}-{span.id}"

    def _charge(self, seconds: float) -> None:
        self.overhead[self.phase] = self.overhead.get(self.phase, 0.0) + seconds

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None, self.run_id, self.phase)
        self.spans.append(s)
        if parent:
            parent.children.append(s.id)
        self._stack.append(s)
        self.sc.setJobGroup(self._group(s), name)
        s.start = time.perf_counter()
        self._charge(s.start - t0)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._close(s, parent)
            self._charge(time.perf_counter() - s.end)

    def _close(self, s: Span, parent: Span | None) -> None:
        # Job and stage events reach the status store through the
        # asynchronous listener bus; drain it so every job is counted.
        self._bus.waitUntilEmpty()
        tracker = self.sc.statusTracker()
        for job_id in tracker.getJobIdsForGroup(self._group(s)):
            s.jobs += 1
            info = tracker.getJobInfo(job_id)
            for stage_id in info.stageIds if info else ():
                if stage_id in self._seen_stages:
                    continue
                self._seen_stages.add(stage_id)
                s.stages += 1
                stage = tracker.getStageInfo(stage_id)
                s.tasks += stage.numCompletedTasks if stage else 0
        self._stack.pop()
        if parent:
            self.sc.setJobGroup(self._group(parent), parent.name)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a version that runs inside a span."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    # ------------------------------------------------------------ summaries
    def total(self, s: Span, what: str) -> int:
        """``jobs``, ``stages`` or ``tasks`` started inside ``s``, children
        included."""
        return getattr(s, what) + sum(self.total(self.spans[c], what) for c in s.children)

    def self_seconds(self, s: Span) -> float:
        return self_time(s.start, s.end, [(self.spans[c].start, self.spans[c].end) for c in s.children])

    def timed(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.phase == "timed"]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")
