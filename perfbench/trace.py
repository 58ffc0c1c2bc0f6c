"""In-memory spans recorded around the benchmark's calls into each layer.

A span is (id, parent, name, start, end, attrs) with wall-clock epoch
seconds, so Spark job times read from the status store (epoch ms) line
up with the phases that submitted them. Spans are only kept in memory
while the run is going and written out once when it ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
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


def self_time(span: Span, children: list[Span]) -> float:
    """The span's duration minus the part of it its children cover
    (overlapping children are counted once)."""
    return span.duration - covered([(c.start, c.end) for c in children], span.start, span.end)


class Tracer:
    """Records nested spans when enabled; a disabled tracer records
    nothing and costs one branch per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @property
    def current(self) -> Span | None:
        return self._stack[-1] if self._stack else None

    def add(self, name: str, start: float, end: float, parent: Span | None, **attrs) -> Span:
        """Record a finished span (e.g. a Spark job) under ``parent``."""
        span = Span(len(self.spans), parent.id if parent else None, name, start, end, attrs)
        self.spans.append(span)
        return span

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self.current
        span = self.add(name, time.time(), 0.0, parent, **attrs)
        self._stack.append(span)
        try:
            yield span
        finally:
            span.end = time.time()
            self._stack.pop()

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)
