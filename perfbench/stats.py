"""Small, dependency-free helpers shared by the workloads: percentiles,
self time of a span from its children, and failure counting."""

from __future__ import annotations

import math
import threading

# Percentiles a tail metric may report, highest first.
TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile (the numpy "linear" rule); ``p`` in
    [0, 100]. Raises ValueError on an empty sample."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    if len(xs) == 1:
        return float(xs[0])
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return float(xs[lo] + (xs[hi] - xs[lo]) * (pos - lo))


def median(values) -> float:
    return percentile(values, 50.0)


def tail_percentile(n: int) -> float | None:
    """The highest TAIL_CANDIDATES percentile that still has at least ten
    samples beyond it in a sample of ``n``: p qualifies when
    floor(n * (1 - p/100)) >= 10. None when even the median lacks ten."""
    for p in TAIL_CANDIDATES:
        # round before floor: 1000 * (1 - 0.99) is 9.999999999999991
        if math.floor(round(n * (100.0 - p) / 100.0, 9)) >= 10:
            return p
    return None


def union_length(intervals) -> float:
    """Total length covered by a set of possibly overlapping [start, end)
    intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start: float, end: float, children) -> float:
    """A span's duration minus the part of [start, end) its children
    cover. Children may overlap each other (parallel work) and may stick
    out of the parent (a generator finishing after its caller); only the
    covered part inside the parent counts, and each instant once."""
    clipped = [(max(s, start), min(e, end)) for s, e in children]
    return (end - start) - union_length(clipped)


class Outcomes:
    """Thread-safe attempted/failed counters. An operation that raised
    and one whose result was checked wrong both count as failed; an
    operation is attempted once however many ways it fails."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.attempted = 0
        self._failed: set = set()
        self.errors: list[str] = []

    def attempt(self) -> int:
        with self._lock:
            self.attempted += 1
            return self.attempted

    def fail(self, op_id: int, why: str) -> None:
        with self._lock:
            self._failed.add(op_id)
            if len(self.errors) < 20:
                self.errors.append(why[:300])

    @property
    def failed(self) -> int:
        return len(self._failed)

    @property
    def fail_ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0
