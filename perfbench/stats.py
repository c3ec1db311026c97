"""Order statistics the benchmark reports."""

from __future__ import annotations

import math

# a tail percentile must leave at least this many samples beyond it
TAIL_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest value with at least p% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    rank = max(1, math.ceil(p / 100 * len(s)))
    return s[rank - 1]


def median(values: list[float]) -> float:
    s = sorted(values)
    n = len(s)
    if not n:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def tail_percentile(n: int) -> int:
    """The highest whole percentile with at least ``TAIL_BEYOND`` of
    ``n`` samples strictly beyond its nearest-rank position, never below
    the median. With fewer than ``2 * TAIL_BEYOND`` samples no such
    percentile sits above the median, so the tail is the median."""
    for p in range(99, 50, -1):
        if n - max(1, math.ceil(p / 100 * n)) >= TAIL_BEYOND:
            return p
    return 50


def tail(values: list[float]) -> tuple[float, int, int]:
    """(value, percentile, sample count) of the tail by the rule above;
    a tail that falls back to the 50th percentile is the median."""
    p = tail_percentile(len(values))
    value = median(values) if p == 50 else percentile(values, p)
    return value, p, len(values)
