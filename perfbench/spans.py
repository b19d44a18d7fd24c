"""Spans, self time and the latency-percentile rule.

A span is a named interval with a parent. The traced run keeps its spans in
memory and writes them out once, at the end of the run.
"""
from __future__ import annotations

import json
import math
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float  # epoch seconds
    end: float
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
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


class Tracer:
    """In-memory span store. ``children`` and ``self_time`` work on the
    tree the parent links define."""

    def __init__(self) -> None:
        self.spans: list[Span] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> Span:
        span = Span(len(self.spans), parent, name, start, end, attrs)
        self.spans.append(span)
        return span

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_time(self, span: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        kids = [(c.start, c.end) for c in self.children(span)]
        return span.duration - covered(kids, span.start, span.end)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [dict(asdict(s), self_s=self.self_time(s)) for s in self.spans], f
            )


def tail_percentile(samples: list[float]) -> tuple[float, float, int]:
    """The highest percentile that has at least 10 samples beyond it.

    With ``n`` sorted samples that is the ``(n - 10)``-th smallest (1-based),
    at percentile ``100 * (n - 10) / n``. Returns ``(value, percentile, n)``.
    With 10 samples or fewer no percentile has 10 beyond it; the maximum is
    returned, marked as percentile 100."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return math.nan, math.nan, 0
    if n <= 10:
        return xs[-1], 100.0, n
    k = n - 10
    return xs[k - 1], 100.0 * k / n, n


def median(samples: list[float]) -> float:
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return math.nan
    mid = n // 2
    return xs[mid] if n % 2 else (xs[mid - 1] + xs[mid]) / 2
