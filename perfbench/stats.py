"""Summary statistics for latency samples."""

from __future__ import annotations

import math
import statistics

#: a tail percentile must leave at least this many samples beyond it
TAIL_MIN_BEYOND = 10


def percentile(values: list, p: float) -> float:
    """Linear-interpolated *p*-th percentile (0-100) of *values*."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n: int) -> int:
    """The highest whole percentile with at least TAIL_MIN_BEYOND of
    *n* samples beyond it, never below the median (a run with fewer
    than 2 * TAIL_MIN_BEYOND samples supports no tail past p50)."""
    if n <= 0:
        raise ValueError("no samples")
    p = math.floor(100.0 * (1.0 - TAIL_MIN_BEYOND / n) + 1e-9)
    return max(50, p)


def tail(values: list) -> tuple[float, int]:
    """(tail latency, the percentile it is) for *values*."""
    p = tail_percentile(len(values))
    return percentile(values, p), p


def median(values: list) -> float:
    return statistics.median(values)


def geomean(values: list) -> float:
    if not values or min(values) <= 0:
        raise ValueError("geometric mean needs positive samples")
    return math.exp(sum(math.log(v) for v in values) / len(values))
