"""Spans, self time and the tail-percentile rule for the benchmark.

A span records one call into a layer: name, start, end, parent. In the
traced run the benchmark wraps the package's public functions (see
``patched``) so every call opens a span; Spark jobs are attributed to
the innermost open span through a per-span job group read back from
``statusTracker``. Spans stay in memory and are written out at the
end of the run. Nothing here edits the package: wrappers replace
module attributes for the life of the ``patched`` block and are
restored afterwards.
"""

from __future__ import annotations

import contextlib
import functools
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)
    result: object = None

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. ``sc`` (a SparkContext) is optional so
    the arithmetic can be tested without Spark."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _set_group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"perfbench-{span.id}", span.name)

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            if self.sc is not None:
                s.jobs = list(self.sc.statusTracker().getJobIdsForGroup(f"perfbench-{s.id}"))
            self._stack.pop()
            self._set_group(parent)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as s:
                s.result = fn(*args, **kwargs)
            return s.result

        return traced

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def to_json(self) -> list[dict]:
        return [
            {
                "id": s.id,
                "name": s.name,
                "parent": s.parent,
                "start": s.start,
                "end": s.end,
                "jobs": s.jobs,
                "result": s.result if isinstance(s.result, (int, float)) else None,
            }
            for s in self.spans
        ]


@contextlib.contextmanager
def patched(targets: list[tuple[object, str, str]], tracer: Tracer):
    """Wrap ``getattr(owner, attr)`` in a span named ``name`` for each
    (owner, attr, name); restore the originals on exit."""
    saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in targets]
    try:
        for (owner, attr, name), (_, _, fn) in zip(targets, saved):
            setattr(owner, attr, tracer.wrap(name, fn))
        yield
    finally:
        for owner, attr, fn in saved:
            setattr(owner, attr, fn)


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of its interval that its
    direct children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        clipped = [(max(lo, s.start), min(hi, s.end)) for lo, hi in children.get(s.id, [])]
        out[s.id] = s.duration - _covered([c for c in clipped if c[1] > c[0]])
    return out


#: a tail percentile must have at least this many samples beyond it
TAIL_MIN_BEYOND = 10


def tail_percentile(samples: list[float]) -> tuple[str, float]:
    """The highest nearest-rank percentile with at least TAIL_MIN_BEYOND
    samples above it: rank k = n - TAIL_MIN_BEYOND, percentile 100*k/n.
    Fewer than TAIL_MIN_BEYOND + 1 samples support no such percentile;
    the maximum is returned, labelled ``max``."""
    values = sorted(samples)
    n = len(values)
    if n == 0:
        raise ValueError("no samples")
    k = n - TAIL_MIN_BEYOND
    if k < 1:
        return "max", values[-1]
    pct = 100.0 * k / n
    return f"p{pct:g}", values[k - 1]
