"""Spans, self time and latency statistics for the benchmark.

A span is one timed interval at a layer boundary: a name, the layer it
belongs to, start and end (wall-clock seconds), the span that caused it
and the operation id all spans of one operation share.  Spans are kept in
memory and written out when the run ends.
"""

from __future__ import annotations

import json
import math
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

# Candidate percentiles for the tail metric, lowest first.
TAIL_PERCENTILES = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
TAIL_MIN_BEYOND = 10


@dataclass
class Span:
    id: int
    op: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans.  ``span()`` nests through an explicit stack, so the
    span open when another starts is its parent."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_id = 0

    @property
    def current(self) -> Span | None:
        return self._stack[-1] if self._stack else None

    def _new(self, op, name, layer, start, end, parent) -> Span:
        s = Span(self._next_id, op, name, layer, start, end, parent)
        self._next_id += 1
        self.spans.append(s)
        return s

    @contextmanager
    def span(self, name: str, layer: str, op: int | None = None):
        parent = self.current
        if op is None:
            if parent is None:
                raise ValueError(f"span {name!r} has no operation")
            op = parent.op
        s = self._new(op, name, layer, time.time(), math.nan, parent.id if parent else None)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def add(self, name: str, layer: str, start: float, end: float, parent: Span) -> Span:
        """Record a span measured elsewhere (a Spark job read back from
        the status store), clipped to its parent's interval."""
        start = min(max(start, parent.start), parent.end)
        end = min(max(end, start), parent.end)
        return self._new(parent.op, name, layer, start, end, parent.id)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


def covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``intervals``."""
    total = 0.0
    cur_start = cur_end = None
    for a, b in sorted(intervals):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    by_id = {s.id: s for s in spans}
    for s in spans:
        if s.parent is not None and s.parent in by_id:
            p = by_id[s.parent]
            a, b = max(s.start, p.start), min(s.end, p.end)
            if b > a:
                children.setdefault(p.id, []).append((a, b))
    return {s.id: s.duration - covered(children.get(s.id, [])) for s in spans}


def _rank(p: float, n: int) -> int:
    return max(1, math.ceil(p / 100.0 * n))


def percentile(samples: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    return sorted(samples)[_rank(p, len(samples)) - 1]


def tail(samples: list[float]) -> tuple[float, float, int]:
    """The highest of ``TAIL_PERCENTILES`` with at least ``TAIL_MIN_BEYOND``
    samples ranked above it (nearest-rank), as (value, percentile,
    sample count).  Raises when even the median has too few beyond it."""
    n = len(samples)
    fits = [p for p in TAIL_PERCENTILES if n - _rank(p, n) >= TAIL_MIN_BEYOND]
    if not fits:
        raise ValueError(f"{n} samples: fewer than {TAIL_MIN_BEYOND} beyond the median")
    return percentile(samples, fits[-1]), fits[-1], n
