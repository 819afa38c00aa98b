"""Small statistics helpers shared by the runner and its tests."""

from __future__ import annotations

import math
import statistics

# candidate percentiles, highest last
PERCENTILES = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def median(values) -> float:
    values = list(values)
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def percentile(values, p: float) -> float:
    """Nearest-rank percentile (the smallest sample with at least p% of
    the samples at or below it)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def tail_percentile(values, min_beyond: int = 10):
    """The highest percentile in PERCENTILES that has at least
    `min_beyond` samples above it, as (p, value); None when not even the
    median has that many."""
    xs = sorted(values)
    best = None
    for p in PERCENTILES:
        v = percentile(xs, p)
        if sum(1 for x in xs if x > v) >= min_beyond:
            best = (p, v)
    return best


def iqr_share(values) -> float:
    """Distance between the first and third quartile as a share of the
    median, with the quartiles `statistics.quantiles(values, n=4)` gives."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
