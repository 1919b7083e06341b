"""In-memory spans, self-time arithmetic and the summary statistics the
benchmark reports.

A span is (name, start, end, parent). Spans are kept in a list while the
benchmark runs and summarised at the end; nothing is written per span.
A span's self time is its duration minus the part of its interval that its
child spans cover (children may overlap; the covered part is their union).
"""

from __future__ import annotations

import math
import time
from contextlib import contextmanager
from dataclasses import dataclass

#: Percentiles tried, highest first, by :func:`tail_percentile`.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index into Tracer.spans


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), math.nan, parent))
        self._stack.append(idx)
        try:
            yield self.spans[idx]
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Total self time per span name."""
        return self_times(self.spans)


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total = 0.0
    cur_s = cur_e = None
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


def self_times(spans: list[Span]) -> dict[str, float]:
    children: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append((sp.start, sp.end))
    out: dict[str, float] = {}
    for i, sp in enumerate(spans):
        own = (sp.end - sp.start) - covered(children.get(i, []))
        out[sp.name] = out.get(sp.name, 0.0) + own
    return out


def tail_percentile(n: int) -> float | None:
    """The highest percentile in TAIL_LADDER with at least ten of ``n``
    samples beyond it, or None when even the median has fewer."""
    for p in TAIL_LADDER:
        if round(n * (100.0 - p) / 100.0, 6) >= 10.0:
            return p
    return None


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest value with at least ``p``% of
    the samples at or below it."""
    if not values:
        raise ValueError("no samples")
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]
