"""Pure arithmetic of the benchmark: percentiles, the tail rule,
micro-batch-counted latency, span self time and error-rate accounting.

No Spark and no I/O here, so ``test_stats.py`` can check every rule on
synthetic inputs.
"""

from __future__ import annotations

import math
from collections.abc import Iterable, Sequence

# Candidate tail percentiles, highest first.  The tail of a sample is the
# highest of these that still has at least TAIL_MIN_BEYOND samples above
# it, so a tail is never decided by one or two outliers.
TAIL_LADDER = (99.9, 99.5, 99.0, 98.0, 95.0, 90.0, 80.0, 75.0, 50.0)
TAIL_MIN_BEYOND = 10


def percentile(values: Sequence[float], p: float) -> float:
    """Linear-interpolated percentile (the ``numpy`` default rule).
    Raises on an empty sample: a missing measurement must not read as 0."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    if len(xs) == 1:
        return float(xs[0])
    rank = (len(xs) - 1) * p / 100.0
    lo = math.floor(rank)
    hi = min(lo + 1, len(xs) - 1)
    return float(xs[lo] + (xs[hi] - xs[lo]) * (rank - lo))


def median(values: Sequence[float]) -> float:
    return percentile(values, 50.0)


def tail_percentile(n: int) -> float:
    """The percentile the tail rule picks for ``n`` samples: the highest
    ladder entry with at least ``TAIL_MIN_BEYOND`` samples beyond it.
    Below ``2 * TAIL_MIN_BEYOND`` samples no ladder entry qualifies and
    the tail falls back to the sample maximum (reported as 100)."""
    for p in TAIL_LADDER:
        # rounded: 10_000 * (1 - 0.999) is 9.9999... in binary floating point
        if round(n * (100.0 - p) / 100.0, 6) >= TAIL_MIN_BEYOND:
            return p
    return 100.0


def tail(values: Sequence[float]) -> tuple[float, float, int]:
    """(tail value, percentile used, sample count)."""
    p = tail_percentile(len(values))
    return percentile(values, p), p, len(values)


def windowed_tail(values: Sequence[float], windows: int) -> tuple[float, float, int]:
    """Median over ``windows`` consecutive equal slices of ``values`` (in
    time order) of each slice's tail: (value, percentile used, samples
    per slice).  One stall of a shared machine then decides the tail of
    one slice, not of the whole run."""
    w = len(values) // windows
    if w == 0:
        raise ValueError("fewer samples than windows")
    tails = [tail(values[k * w : (k + 1) * w]) for k in range(windows)]
    return median([t[0] for t in tails]), tails[0][1], w


def batch_latencies(rows: Iterable[tuple[object, float, float]]) -> list[float]:
    """One latency sample per emission batch.

    ``rows`` holds ``(batch_key, due_s, emitted_s)``; every row of one
    micro-batch shares one emission time, so a batch is ONE sample: the
    latency of its oldest row, the one the batch kept waiting longest.
    Returned in first-seen batch order."""
    first_due: dict[object, float] = {}
    emitted: dict[object, float] = {}
    for key, due, at in rows:
        first_due[key] = min(due, first_due.get(key, due))
        emitted[key] = max(at, emitted.get(key, at))
    return [emitted[k] - first_due[k] for k in first_due]


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_time(
    span: tuple[float, float], children: Iterable[tuple[float, float]]
) -> float:
    """A span's duration minus the part its children cover.  Children are
    clipped to the parent and overlapping children count once, so self
    time is never negative and never double-subtracts concurrent work."""
    lo, hi = span
    clipped = [(max(lo, a), min(hi, b)) for a, b in children]
    return (hi - lo) - union_length(clipped)


class Outcomes:
    """Attempted / failed operation accounting behind ``error_rate``.

    Every checked operation calls :meth:`ok` or :meth:`fail`; failures
    keep their description so a non-zero rate always names what failed."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failures: list[str] = []

    def ok(self, n: int = 1) -> None:
        self.attempted += n

    def fail(self, what: str) -> None:
        self.attempted += 1
        self.failures.append(what)

    def check(self, cond: bool, what: str) -> bool:
        if cond:
            self.ok()
        else:
            self.fail(what)
        return cond

    @property
    def failed(self) -> int:
        return len(self.failures)

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0
