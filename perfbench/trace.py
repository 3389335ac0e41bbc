"""Span recorder and per-operation Spark work counter.

Spans are recorded from the benchmark's own files around calls into each
layer of ``plan_spark``; nothing inside the program is instrumented. A span
has a name, a layer, start/end (perf_counter seconds), its parent span and
the id of the operation it belongs to. Spans stay in memory and are written
out once, when the run ends.

With tracing off, ``span()`` returns a shared no-op context manager and the
Spark counter is never consulted, so an untraced run pays one attribute
lookup per boundary.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import statistics
import time
from dataclasses import dataclass, field

LAYERS = ("session", "catalog", "engine", "spark", "dataset", "indexes",
          "operators", "streaming")


def pct(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (q in 0..100); 0.0 for no samples."""
    if not values:
        return 0.0
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    sid: int = 0
    children: list[int] = field(default_factory=list)


class Tracer:
    """Collects spans when ``enabled``; also accounts its own bookkeeping
    time so the traced run can report its overhead."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op: int | None = None
        self.overhead_s = 0.0

    def span(self, layer: str, name: str):
        if not self.enabled:
            return contextlib.nullcontext()
        return self._span(layer, name)

    @contextlib.contextmanager
    def _span(self, layer: str, name: str):
        t0 = time.perf_counter()
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, layer, 0.0, parent=parent, op=self.op, sid=sid)
        self.spans.append(sp)
        if parent is not None:
            self.spans[parent].children.append(sid)
        self._stack.append(sid)
        sp.start = time.perf_counter()
        self.overhead_s += sp.start - t0
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self.overhead_s += time.perf_counter() - sp.end

    def self_time(self, sp: Span) -> float:
        """Span duration minus the part of it that its children cover."""
        cov, last = 0.0, sp.start
        for c in sorted((self.spans[i] for i in sp.children), key=lambda s: s.start):
            lo, hi = max(c.start, last), min(c.end, sp.end)
            if hi > lo:
                cov += hi - lo
                last = hi
        return sp.end - sp.start - cov

    def layer_self(self) -> dict[str, float]:
        out = dict.fromkeys(LAYERS, 0.0)
        for sp in self.spans:
            out[sp.layer] = out.get(sp.layer, 0.0) + self.self_time(sp)
        return out

    def durations(self, name: str) -> list[float]:
        return [sp.end - sp.start for sp in self.spans if sp.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([
                {"id": s.sid, "name": s.name, "layer": s.layer, "start": s.start,
                 "end": s.end, "parent": s.parent, "op": s.op}
                for s in self.spans
            ], fh)


class SparkWork:
    """Jobs, stages and tasks per operation, read from the status tracker.

    Each operation runs under a job group id that is never reused: the
    tracker answers per group, so a reused id would pile the counts of
    every operation that shared it onto each of them."""

    _ids = itertools.count()

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.per_op: list[tuple[int, int, int]] = []
        self._group: str | None = None

    @contextlib.contextmanager
    def op(self, spark, label: str):
        if not self.tracer.enabled:
            yield
            return
        t0 = time.perf_counter()
        self._group = f"perfbench-{next(self._ids)}-{label}"
        sc = spark.sparkContext
        sc.setJobGroup(self._group, label)
        self.tracer.overhead_s += time.perf_counter() - t0
        try:
            yield
        finally:
            t1 = time.perf_counter()
            sc.setLocalProperty("spark.jobGroup.id", None)
            self.per_op.append(self._count(sc, self._group))
            self.tracer.overhead_s += time.perf_counter() - t1

    @staticmethod
    def _count(sc, group: str) -> tuple[int, int, int]:
        st = sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else []:
                si = st.getStageInfo(s)
                stages += 1
                tasks += si.numTasks if si else 0
        return len(jobs), stages, tasks

    def means(self) -> dict[str, float]:
        n = max(len(self.per_op), 1)
        return {
            "spark.jobs_per_op": sum(p[0] for p in self.per_op) / n,
            "spark.stages_per_op": sum(p[1] for p in self.per_op) / n,
            "spark.tasks_per_op": sum(p[2] for p in self.per_op) / n,
        }
