"""Spans recorded from the benchmark's own files around calls into the engine.

A span has a name, start, end, parent and the trace id of the operation it
belongs to. When tracing is on, every span also sets a Spark job group, so
the jobs, stages and tasks it launched can be counted afterwards through
``sparkContext.statusTracker()`` (which works with the UI off). Spans are
kept in memory and written out once, when the run ends.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    span_id: int
    trace_id: int
    parent: "int | None"
    name: str
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        inner = [(max(a, s.start), min(b, s.end)) for a, b in kids.get(s.span_id, [])]
        out[s.span_id] = s.duration - covered([iv for iv in inner if iv[1] > iv[0]])
    return out


class Tracer:
    """Times operations; with ``enabled`` also records spans and job counts."""

    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._traces = itertools.count(1)
        self.bookkeeping_s = 0.0  # time spent on job groups and job counts

    @contextmanager
    def span(self, name: str, **attrs):
        """Time the block; yields the Span (its ``end`` is set on exit)."""
        parent = self._stack[-1] if self._stack else None
        sp = Span(next(self._ids), parent.trace_id if parent else next(self._traces),
                  parent.span_id if parent else None, name, 0.0, attrs=attrs)
        t0 = time.perf_counter()
        if self.enabled and self.sc is not None:
            self.sc.setJobGroup(f"pb-{sp.span_id}", name)
        self._stack.append(sp)
        sp.start = time.perf_counter()
        if self.enabled:
            self.bookkeeping_s += sp.start - t0
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self.enabled and self.sc is not None:
                self._count_jobs(sp)
                if parent is not None:
                    self.sc.setJobGroup(f"pb-{parent.span_id}", parent.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
            if self.enabled:
                self.spans.append(sp)
                self.bookkeeping_s += time.perf_counter() - sp.end

    def _count_jobs(self, sp: Span) -> None:
        st = self.sc.statusTracker()
        for job_id in st.getJobIdsForGroup(f"pb-{sp.span_id}"):
            info = st.getJobInfo(job_id)
            if info is None:
                continue
            sp.jobs += 1
            for stage_id in info.stageIds:
                stage = st.getStageInfo(stage_id)
                if stage is not None:
                    sp.stages += 1
                    sp.tasks += stage.numTasks
        # a parent's counts include its children's
        for child in self.spans:
            if child.parent == sp.span_id:
                sp.jobs += child.jobs
                sp.stages += child.stages
                sp.tasks += child.tasks

    def dump(self, path: str) -> None:
        selfs = self_times(self.spans)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**asdict(s), "self_s": selfs[s.span_id]}) + "\n")
