"""Order statistics used by the report."""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10  # samples that must lie above a reported tail percentile


def median(values):
    return statistics.median(values) if values else None


def percentile(values, q: float):
    """The q-quantile (0 < q < 1) by linear interpolation, or None when
    fewer than MIN_BEYOND samples lie above it: a tail figure resting on a
    handful of samples is not reported."""
    n = len(values)
    if n == 0:
        return None
    xs = sorted(values)
    pos = q * (n - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    v = xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)
    return v if sum(x > v for x in xs) >= MIN_BEYOND else None


def highest_reportable(values):
    """(q, value) for the highest percentile in 1/100 steps with at least
    MIN_BEYOND samples above it; None below 2 * MIN_BEYOND samples."""
    for pct in range(99, 49, -1):
        v = percentile(values, pct / 100)
        if v is not None:
            return pct, v
    return None


def iqr_share(values):
    """Distance between the first and third quartile over the median."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")
