"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math

# tail percentiles tried from the highest down; none at or below the
# median, which is reported on its own
TAIL_LADDER = (99.0, 95.0, 90.0, 75.0)
# a tail percentile needs at least this many samples above it
TAIL_MIN_BEYOND = 10


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * pct / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int) -> float:
    """The highest percentile on TAIL_LADDER with at least
    TAIL_MIN_BEYOND of ``n`` samples beyond it; 100 (the maximum) when
    none has, i.e. below 40 samples."""
    for pct in TAIL_LADDER:
        if n * (100.0 - pct) / 100.0 >= TAIL_MIN_BEYOND:
            return pct
    return 100.0


def tail(values: list[float]) -> tuple[float, float]:
    """``(percentile, value)`` of the latency tail."""
    pct = tail_percentile(len(values))
    return pct, percentile(values, pct)


def median(values: list[float]) -> float:
    return percentile(values, 50.0)
