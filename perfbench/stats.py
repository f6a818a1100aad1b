"""Order statistics shared by the benchmark and its tests."""

from __future__ import annotations

import re
import statistics

METRIC_NAME = re.compile(r"^[A-Za-z0-9_.-]+$")


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs) -> tuple[float, float]:
    """(value, percentile) at the highest percentile that still has at
    least ten samples beyond it: the (n-10)-th smallest of n samples.
    With ten or fewer samples no percentile has ten beyond it; the run
    reports its 90th percentile, interpolated between the two samples
    around it (for six samples, the mean of the two largest)."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0, 0.0
    if n == 1:
        return float(s[0]), 90.0
    if n <= 10:
        return float(statistics.quantiles(s, n=10, method="inclusive")[-1]), 90.0
    return float(s[n - 11]), 100.0 * (n - 10) / n


def quartile_spread(xs) -> float:
    """(Q3 - Q1) / median with Python's default quantile method."""
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, end = 0.0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total
