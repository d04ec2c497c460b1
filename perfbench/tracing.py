"""In-memory span recorder and the interval arithmetic behind per-layer
self time and tail percentiles.

Spans are recorded by the benchmark around the engine's public calls
(``Recorder.wrap`` patches a module attribute for the recorder's
lifetime); nothing here imports Spark.
"""

from __future__ import annotations

import functools
import json
import statistics
import threading
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float  # epoch seconds, comparable with Spark event-log stamps
    end: float
    parent: int | None
    op: int | None


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def self_time(span: Span, spans: list[Span], busy=()) -> float:
    """Duration of ``span`` not covered by its direct children, nor by
    the ``busy`` intervals (e.g. Spark jobs) when given."""
    covered = [(c.start, c.end) for c in spans if c.parent == span.id]
    covered += list(busy)
    return (span.end - span.start) - union_length(
        clip(covered, span.start, span.end)
    )


def tail_percentile(values) -> tuple[float, float, int] | None:
    """Highest order statistic with at least ten samples above it.

    Returns (value, percentile, n) where percentile is the share of
    samples at or below the value; None when fewer than 11 samples
    exist, since no sample then has ten beyond it.
    """
    xs = sorted(values)
    n = len(xs)
    if n < 11:
        return None
    i = n - 11
    return xs[i], 100.0 * (i + 1) / n, n


def median(values) -> float:
    return float(statistics.median(values))


class Recorder:
    """Collects spans in memory; ``dump`` writes them once at the end."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str, op: int | None = None):
        return _SpanCtx(self, name, op)

    def current_op(self) -> int | None:
        stack = self._stack()
        return stack[-1].op if stack else None

    def wrap(self, module, attr: str, on_result=None) -> None:
        """Replace ``module.attr`` with a span-recording wrapper;
        ``on_result(span, args, result)`` sees each call's result."""
        fn = getattr(module, attr)
        label = f"{module.__name__.rsplit('.', 1)[-1]}.{attr}"

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(label, self.current_op()) as span:
                result = fn(*args, **kwargs)
            if on_result is not None:
                on_result(span, args, result)
            return result

        self._patched.append((module, attr, fn))
        setattr(module, attr, traced)

    def unwrap_all(self) -> None:
        for module, attr, fn in reversed(self._patched):
            setattr(module, attr, fn)
        self._patched.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


class _SpanCtx:
    def __init__(self, rec: Recorder, name: str, op: int | None) -> None:
        self.rec, self.name, self.op = rec, name, op
        self.span: Span | None = None

    def __enter__(self) -> Span:
        stack = self.rec._stack()
        self.span = Span(
            len(self.rec.spans), self.name, time.time(), 0.0,
            stack[-1].id if stack else None, self.op,
        )
        self.rec.spans.append(self.span)
        stack.append(self.span)
        return self.span

    def __exit__(self, *exc) -> None:
        self.span.end = time.time()
        self.rec._stack().pop()
