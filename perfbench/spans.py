"""In-memory spans and the summary statistics the benchmark reports.

A span has a name, start, end, parent id and run id. Spans are kept in
memory and written out once, when the run ends. A span's self time is its
duration minus the part of its interval that its children cover.
"""

from __future__ import annotations

import itertools
import json
import math
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run: str
    attrs: dict


class Tracer:
    """Records spans when ``enabled``; otherwise ``span`` only yields."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        """Yields the span id (None when disabled)."""
        if not self.enabled:
            yield None
            return
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans.append(
                Span(sid, name, start, time.perf_counter(), parent, self.run_id, attrs)
            )

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> None:
        """Record a span measured elsewhere (a stream micro-batch)."""
        if self.enabled:
            self.spans.append(Span(next(self._ids), name, start, end, parent, self.run_id, attrs))

    def current(self) -> int | None:
        return self._stack[-1] if self._stack else None

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps(asdict(s)) + "\n")


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total = 0.0
    cur_lo = cur_hi = None
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time of every span: duration minus the union of its direct
    children's intervals (children may overlap, e.g. stream batches)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: (s.end - s.start) - _covered(children.get(s.id, []), s.start, s.end)
        for s in spans
    }


def self_time_by_name(spans: list[Span]) -> dict[str, float]:
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + st[s.id]
    return out


def tail(samples: list[float], beyond: int = 10) -> tuple[float, float] | None:
    """(percentile, value) of the highest percentile with at least
    ``beyond`` samples above it, or None when there are too few samples.
    With n sorted samples that is the (n - beyond)-th smallest value, the
    ``100 * (n - beyond) / n``-th percentile."""
    n = len(samples)
    if n <= beyond:
        return None
    k = n - beyond
    return 100.0 * k / n, sorted(samples)[k - 1]


def median(samples: list[float]) -> float:
    return statistics.median(samples) if samples else math.nan
