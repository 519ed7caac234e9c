"""Spans and sample statistics for the benchmark.

A span is recorded by the benchmark around its own call into one engine layer:
name, start, end, parent and op id. Spans stay in memory and are written out
once, when the run ends. A layer's self time is its spans' duration minus the
part covered by their child spans.
"""

from __future__ import annotations

import contextlib
import json
import math
import statistics
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None


@dataclass
class Tracer:
    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        """Record a span when tracing is on; a bare ``yield`` otherwise."""
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        self.spans.append(Span(sid, name, time.perf_counter(), math.nan, parent, op))
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[sid].end = time.perf_counter()

    def add(self, name: str, start: float, end: float, parent: int | None, op: str | None) -> None:
        """Record a span measured elsewhere (a streaming micro-batch)."""
        self.spans.append(Span(len(self.spans), name, start, end, parent, op))

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus time covered by direct children."""
        covered = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                covered[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for s, c in zip(self.spans, covered):
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - c
        return out

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


def tail(samples: list[float]) -> tuple[float, float] | None:
    """The highest percentile with at least ten samples above it, as
    ``(value, percentile)``; None below 21 samples, where that percentile
    would not lie above the median."""
    n = len(samples)
    if n < 21:
        return None
    return sorted(samples)[n - 11], 100.0 * (n - 10) / n


def summary(samples: list[float]) -> dict:
    """Median, tail, extremes and count of one sample list."""
    if not samples:
        return {"n": 0}
    out = {
        "n": len(samples),
        "p50": statistics.median(samples),
        "min": min(samples),
        "max": max(samples),
    }
    t = tail(samples)
    if t is not None:
        out["tail"], out["tail_pct"] = t
    return out
