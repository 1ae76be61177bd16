"""Percentiles, sample counts and spreads for benchmark timings.

Percentiles use the nearest-rank definition: the p-th percentile of n
sorted samples is the ceil(p/100 * n)-th smallest.  A percentile is only
reported when at least ``MIN_BEYOND`` samples lie above its rank, so a
tail figure always rests on ten or more observations.
"""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10
TAIL_CANDIDATES = (99.0, 95.0, 90.0, 75.0)


def rank(n: int, p: float) -> int:
    """1-based nearest rank of the p-th percentile among n samples."""
    if n <= 0:
        raise ValueError("no samples")
    if not 0.0 < p <= 100.0:
        raise ValueError("p must be in (0, 100]")
    return max(1, math.ceil(p / 100.0 * n))


def percentile(values, p: float) -> float:
    ordered = sorted(values)
    return ordered[rank(len(ordered), p) - 1]


def samples_beyond(n: int, p: float) -> int:
    """Samples ranked above the p-th percentile."""
    return n - rank(n, p)


def has_support(n: int, p: float, min_beyond: int = MIN_BEYOND) -> bool:
    return n > 0 and samples_beyond(n, p) >= min_beyond


def tail_percentile(n: int, min_beyond: int = MIN_BEYOND) -> float | None:
    """Highest of TAIL_CANDIDATES with ``min_beyond`` samples beyond it."""
    for p in TAIL_CANDIDATES:
        if has_support(n, p, min_beyond):
            return p
    return None


def median(values) -> float:
    return statistics.median(values)


def quartile_spread(values) -> float:
    """(Q3 - Q1) / median, with quartiles as ``statistics.quantiles`` gives
    them — the spread rule the benchmark's bounds are judged against."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else math.inf
