"""Summary statistics the benchmark reports (pure Python, no Spark)."""

from __future__ import annotations

import statistics

# A tail percentile is only reported when at least this many samples lie
# beyond it; fewer make the figure one sample's noise.
TAIL_BEYOND = 10


def median(values: list[float]) -> float:
    return statistics.median(values)


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median, computed the way
    the steadiness gate computes it (``statistics.quantiles(n=4)``)."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def tail(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, sample count) of the highest percentile that has
    at least ``TAIL_BEYOND`` samples beyond it.

    The order statistic ``sorted[n - TAIL_BEYOND - 1]`` has exactly
    ``TAIL_BEYOND`` samples above it. Below ``2 * TAIL_BEYOND`` samples that
    statistic sits at or under the median, which is no tail at all, so the
    maximum (p100, nothing beyond) is reported instead and the caller
    states the sample count next to it.
    """
    n = len(samples)
    if n == 0:
        raise ValueError("tail of an empty sample")
    ordered = sorted(samples)
    if n < 2 * TAIL_BEYOND:
        return ordered[-1], 100.0, n
    idx = n - TAIL_BEYOND - 1
    return ordered[idx], 100.0 * (idx + 1) / n, n
