"""Order statistics shared by every workload report."""

from __future__ import annotations

import statistics

TAIL_BEYOND = 10  # samples that must lie above a reported tail percentile


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def tail(values: list[float]) -> tuple[float, float]:
    """``(percentile, value)`` of the highest percentile that still has at
    least ``TAIL_BEYOND`` samples above it.

    The value is the order statistic with exactly ten samples beyond it;
    its percentile is its rank over the sample count. With fewer than
    ``2 * TAIL_BEYOND`` samples no such point lies above the median, so
    the median is reported and labelled p50.
    """
    if not values:
        raise ValueError("tail of no samples")
    s = sorted(values)
    k = len(s) - TAIL_BEYOND - 1
    pct = 100.0 * (k + 1) / len(s)
    if k < 0 or pct <= 50.0:
        return 50.0, median(s)
    return pct, float(s[k])

