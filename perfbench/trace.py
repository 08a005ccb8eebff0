"""In-memory spans, self time and tail percentiles.

A span is (name, start, end, parent, trace id).  Spans stay in a list
while the run lasts and are written out once, at the end.  A span's
self time is its duration minus the part of its interval that its
child spans cover.
"""

from __future__ import annotations

import itertools
import json
import math
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float  # seconds, time.perf_counter() clock
    end: float
    parent: int | None
    trace: str  # spans of one batch or one query share this


class Tracer:
    """Collects spans; `enabled=False` records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)

    def add(
        self,
        name: str,
        start: float,
        end: float,
        parent: int | None = None,
        trace: str = "",
    ) -> int | None:
        if not self.enabled:
            return None
        sid = next(self._ids)
        self.spans.append(Span(sid, name, start, end, parent, trace))
        return sid

    @contextmanager
    def span(self, name: str, parent: int | None = None, trace: str = ""):
        """Time the block; yields the id later children attach to."""
        if not self.enabled:
            yield None
            return
        sid = next(self._ids)
        start = time.perf_counter()
        try:
            yield sid
        finally:
            self.spans.append(
                Span(sid, name, start, time.perf_counter(), parent, trace)
            )

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: (s.start, s.id)):
                f.write(json.dumps(asdict(s)) + "\n")


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of `intervals`, clipped to [lo, hi]."""
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
    """Span id -> its duration minus what its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: (s.end - s.start) - _covered(kids.get(s.id, []), s.start, s.end)
        for s in spans
    }


def self_time_by_name(spans: list[Span]) -> dict[str, float]:
    """Summed self seconds per span name (one name per layer)."""
    own = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + own[s.id]
    return out


def tail_percentile(values: list[float]) -> tuple[float, int, int] | None:
    """The highest whole percentile p with at least ten samples above
    the p-th percentile, as (value, p, n).  With nearest-rank
    percentiles the value is the sample at rank ceil(p*n/100), so ten
    samples lie beyond it when that rank is at most n - 10.  None when
    there are fewer than eleven samples."""
    n = len(values)
    if n < 11:
        return None
    ordered = sorted(values)
    p = max(q for q in range(1, 100) if math.ceil(q * n / 100) <= n - 10)
    return ordered[math.ceil(p * n / 100) - 1], p, n
