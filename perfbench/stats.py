"""Order statistics shared by the run, report and compare commands."""

from __future__ import annotations

import math
import statistics


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def quartiles(xs) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(n=4)`` gives them."""
    xs = list(xs)
    if len(xs) < 2:
        v = xs[0] if xs else 0.0
        return v, v, v
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def tail(xs) -> tuple[float, int, int]:
    """(value, percentile, samples): the highest whole percentile with at
    least ten samples above it. Below 20 samples no percentile above the
    median has ten samples beyond it, and the tail is the maximum."""
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        return 0.0, 0, 0
    if n < 20:
        return xs[-1], 100, n
    pct = math.floor(100 * (n - 10) / n)
    # nearest-rank: the value at or below which pct% of the samples lie
    return xs[max(math.ceil(pct / 100 * n) - 1, 0)], pct, n
