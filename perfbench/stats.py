"""Summary statistics the benchmark reports.

A timing is reported as its median plus the highest percentile that still
has at least ten samples beyond it, together with the sample count.
"""

from __future__ import annotations

import math
import statistics

# candidate tail percentiles, highest first
TAIL_PERCENTILES = (99.9, 99.0, 98.0, 95.0, 90.0, 75.0)
MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p % of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1]


def tail_percentile(values: list[float]) -> tuple[float, float] | None:
    """(p, value) for the highest p in TAIL_PERCENTILES that leaves at
    least MIN_BEYOND samples strictly above its rank, or None when the
    sample is too small for any of them."""
    n = len(values)
    for p in TAIL_PERCENTILES:
        rank = max(1, math.ceil(p / 100.0 * n))
        if n - rank >= MIN_BEYOND:
            return p, percentile(values, p)
    return None


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median, with quartiles
    taken the way `statistics.quantiles(values, n=4)` gives them."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def describe(values: list[float]) -> str:
    """'median (n=…)' plus the tail percentile when the sample allows it."""
    text = f"median {statistics.median(values):.4g} (n={len(values)})"
    tail = tail_percentile(values)
    if tail is not None:
        text += f", p{tail[0]:g} {tail[1]:.4g}"
    return text
