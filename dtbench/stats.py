"""Order statistics for the benchmark record.

Percentiles use the nearest-rank definition: the p-th percentile of n
sorted samples is the sample at rank ``ceil(p * n / 100)``.  A tail
percentile is only reported where the sample supports it: the highest
integer percentile with at least ``TAIL_BEYOND`` samples above its rank.
"""

from __future__ import annotations

import math
import statistics

TAIL_BEYOND = 10


def rank(p: int, n: int) -> int:
    """1-based nearest rank of the p-th percentile of n samples."""
    return max(1, math.ceil(p * n / 100))


def percentile(values: list[float], p: int) -> float:
    ordered = sorted(values)
    return ordered[rank(p, len(ordered)) - 1]


def tail_percentile(n: int) -> int | None:
    """Highest integer percentile in [1, 99] whose rank leaves at least
    ``TAIL_BEYOND`` of n samples above it; None when n is too small."""
    for p in range(99, 0, -1):
        if n - rank(p, n) >= TAIL_BEYOND:
            return p
    return None


def tail(values: list[float]) -> tuple[int, float]:
    """(percentile, value) of the supported tail of ``values``."""
    p = tail_percentile(len(values))
    if p is None:
        raise ValueError(
            f"{len(values)} samples support no tail percentile;"
            f" at least {TAIL_BEYOND + 1} are needed"
        )
    return p, percentile(values, p)


def median(values: list[float]) -> float:
    return statistics.median(values)


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
