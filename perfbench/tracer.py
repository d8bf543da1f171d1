"""In-memory span tracer and the percentile rule the benchmark reports by.

Spans are recorded only around calls the benchmark makes into the engine's
layers; the engine itself is not instrumented. Each span carries its name,
start, end, parent span and operation id; spans stay in memory and are
written out once, at exit.
"""

from __future__ import annotations

import itertools
import json
import math
import threading
import time
from contextlib import contextmanager, nullcontext
from dataclasses import asdict, dataclass

MIN_TAIL = 10


def percentile(values, q: float) -> tuple[float, int]:
    """Nearest-rank ``q`` quantile of ``values`` and the sample count.

    A tail quantile (q > 0.5) is refused with ValueError unless at least
    MIN_TAIL samples lie beyond it, so p90 needs at least 100 samples."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    rank = max(1, math.ceil(q * n))
    if q > 0.5 and n - rank < MIN_TAIL:
        raise ValueError(
            f"p{round(q * 100)} needs {MIN_TAIL} samples beyond it; "
            f"{n} samples leave {n - rank}"
        )
    return xs[rank - 1], n


@dataclass
class Span:
    span_id: int
    parent: int | None
    op: int | None
    name: str
    start: float
    end: float


class Tracer:
    """Records spans for the operations marked traced; ``span`` is a no-op
    elsewhere. The mark is per thread, so traced and untraced operations can
    interleave across concurrent clients."""

    def __init__(self):
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()

    def mark(self, traced: bool) -> None:
        """Record (or not) the spans this thread opens from now on."""
        self._local.on = traced

    @property
    def recording(self) -> bool:
        return getattr(self._local, "on", False)

    def span(self, name: str, op: int | None = None):
        if not self.recording:
            return nullcontext()
        return self._span(name, op)

    @contextmanager
    def _span(self, name: str, op: int | None):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        if op is None and parent is not None:
            op = parent.op
        s = Span(next(self._ids), parent.span_id if parent else None, op, name, 0.0, 0.0)
        stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            self.spans.append(s)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def self_times(spans: list[Span]) -> dict[str, tuple[float, int]]:
    """{span name: (total self seconds, span count)}. A span's self time is
    its duration minus the part of its interval covered by its children."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, tuple[float, int]] = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children.get(s.span_id, ()), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        tot, n = out.get(s.name, (0.0, 0))
        out[s.name] = (tot + (s.end - s.start) - covered, n + 1)
    return out
