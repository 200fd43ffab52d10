"""In-memory spans and the statistics the benchmark reports.

Pure Python, no Spark: the parts of the benchmark whose arithmetic the
tests pin down.
"""

from __future__ import annotations

import math
import statistics
import threading
import time
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    op: str
    span_id: int
    parent: int | None = None

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans in memory; ``enabled=False`` records nothing.

    The open-span stack is per thread, so spans opened on the region
    threads of the ETL workload nest under their own chain."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next_id = 0

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str, op: str = ""):
        """Context manager recording one span; ``op`` defaults to the
        enclosing span's."""
        return _SpanContext(self, name, op)


class _SpanContext:
    def __init__(self, tracer: Tracer, name: str, op: str) -> None:
        self.tracer, self.name, self.op = tracer, name, op
        self.span: Span | None = None

    def __enter__(self) -> Span | None:
        tr = self.tracer
        if not tr.enabled:
            return None
        stack = tr._stack()
        parent = stack[-1] if stack else None
        with tr._lock:
            sid = tr._next_id
            tr._next_id += 1
        self.span = Span(
            self.name, time.perf_counter(), math.nan,
            self.op or (parent.op if parent else ""), sid,
            parent.span_id if parent else None,
        )
        stack.append(self.span)
        return self.span

    def __exit__(self, *exc) -> None:
        if self.span is None:
            return
        self.span.end = time.perf_counter()
        self.tracer._stack().pop()
        with self.tracer._lock:
            self.tracer.spans.append(self.span)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
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


def self_time(span: Span, spans: list[Span]) -> float:
    """The span's duration minus the part of it its child spans cover
    (overlapping children count once)."""
    children = [(s.start, s.end) for s in spans if s.parent == span.span_id]
    return span.duration - covered(children, span.start, span.end)


TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 80.0)


def tail_percentile(values: list[float], beyond: int = 10) -> tuple[float, float] | None:
    """The highest nearest-rank percentile of ``TAIL_LADDER`` with at
    least ``beyond`` samples above it, as (percentile, value); None when
    not even p80 has (fewer than ``5 * beyond`` samples)."""
    xs = sorted(values)
    n = len(xs)
    for p in TAIL_LADDER:
        i = math.ceil(p / 100.0 * n) - 1
        if i >= 0 and n - 1 - i >= beyond:
            return p, xs[i]
    return None


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
