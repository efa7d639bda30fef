"""Percentile math for the latency metrics."""

from __future__ import annotations

import math


def nearest_rank(values: list[float], p: float) -> float:
    """The p-th percentile (0 < p <= 100) by the nearest-rank rule."""
    if not values:
        raise ValueError("no samples")
    xs = sorted(values)
    k = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[k - 1]


def tail(values: list[float], beyond: int = 10) -> tuple[float, int, int]:
    """(value, percentile, samples beyond it) for the highest whole
    percentile that leaves at least ``beyond`` samples above it.

    With ``beyond`` or fewer samples no percentile qualifies; the maximum
    is returned with percentile 100 and 0 samples beyond."""
    n = len(values)
    if n <= beyond:
        return max(values), 100, 0
    p = math.floor(100.0 * (n - beyond) / n)
    while p > 0 and n - math.ceil(p / 100.0 * n) < beyond:
        p -= 1
    return nearest_rank(values, p), p, n - math.ceil(p / 100.0 * n)


def median(values: list[float]) -> float:
    xs = sorted(values)
    n = len(xs)
    if not n:
        raise ValueError("no samples")
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2.0
