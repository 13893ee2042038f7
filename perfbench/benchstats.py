"""Summary statistics the benchmark reports: medians, the supported tail
percentile, and wall time not covered by a set of (possibly overlapping)
intervals."""

from __future__ import annotations

import statistics

# A tail percentile is reported only when at least this many samples lie
# beyond it; below that it is one or two samples, not a percentile.
MIN_TAIL_SAMPLES = 10
TAIL_PERCENTILES = (99.9, 99.0, 90.0)


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    rank = (p / 100.0) * (len(xs) - 1)
    lo = int(rank)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (rank - lo)


def supported_tail(n: int):
    """Highest percentile in TAIL_PERCENTILES with at least
    MIN_TAIL_SAMPLES of ``n`` samples beyond it, or None."""
    for p in TAIL_PERCENTILES:
        if n * (1.0 - p / 100.0) >= MIN_TAIL_SAMPLES - 1e-9:
            return p
    return None


def median(values, default=0.0) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else default


def union_length(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Total length of the union of ``(start, end)`` intervals, clipped to
    ``[lo, hi]`` when given. Overlapping intervals count once."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total = 0.0
    cur_s = cur_e = None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def uncovered(start: float, end: float, intervals) -> float:
    """Wall time of ``[start, end]`` not covered by any interval: the
    driver-side share of a call whose Spark jobs are ``intervals``."""
    return max(0.0, (end - start) - union_length(intervals, start, end))
