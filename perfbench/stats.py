"""Order statistics for the benchmark's figures."""

from __future__ import annotations

import statistics


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


# A percentile is reported only with at least this many samples above it.
MIN_BEYOND = 10


def percentile(values: list[float], q: float) -> float:
    """The ``q``-th percentile (0 < q < 100, nearest rank), refused unless
    at least ``MIN_BEYOND`` samples lie above it: a tail figure resting on
    fewer samples is noise, not a measurement."""
    if not 0 < q < 100:
        raise ValueError(f"percentile {q} outside (0, 100)")
    n = len(values)
    rank = max(1, -(-n * q // 100))  # ceil(n * q / 100)
    beyond = n - int(rank)
    if beyond < MIN_BEYOND:
        raise ValueError(
            f"p{q:g} of {n} samples has {beyond} above it; need {MIN_BEYOND}"
        )
    return sorted(values)[int(rank) - 1]


def highest_percentile(values: list[float], candidates=(99, 95, 90, 80)):
    """``(q, value)`` for the highest candidate percentile with enough
    samples above it, or None."""
    for q in candidates:
        try:
            return q, percentile(values, q)
        except ValueError:
            continue
    return None


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
