"""Order statistics shared by the benchmark and its compare command."""

from __future__ import annotations

import math
import statistics


def percentile(values: list[float], q: float) -> float:
    """The q-quantile (0 <= q <= 1) by linear interpolation between the
    closest ranks — numpy's default ("linear") method."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_beyond(n: int, q: float) -> int:
    """How many of n samples lie strictly beyond the q-quantile's rank."""
    return n - 1 - math.floor((n - 1) * q)


def highest_reportable(n: int, candidates=(0.999, 0.99, 0.9, 0.5)) -> float | None:
    """The highest candidate percentile with at least ten samples beyond
    it (the choosing-metrics reporting rule); None below 11 samples."""
    for q in candidates:
        if samples_beyond(n, q) >= 10:
            return q
    return None


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives
    them — the spread rule the benchmark's bounds are checked with."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def relative_spread(values: list[float]) -> float:
    """Interquartile distance as a share of the median."""
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / abs(med) if med else math.inf
