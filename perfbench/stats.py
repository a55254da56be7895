"""Order statistics the benchmark reports."""

from __future__ import annotations

import statistics


def median(values) -> float:
    """Median; the mean of the two middle values for an even count."""
    xs = sorted(values)
    if not xs:
        raise ValueError("median of no values")
    mid = len(xs) // 2
    if len(xs) % 2:
        return float(xs[mid])
    return (xs[mid - 1] + xs[mid]) / 2.0


def tail(values, beyond: int = 10) -> tuple[float, float] | None:
    """(value, percentile) of the highest percentile that still has at least
    `beyond` samples above it, or None when there are too few samples.

    With n samples sorted ascending, the k = n - beyond smallest are at or
    below the reported value and `beyond` lie above it, so the percentile
    is 100 * k / n: 90 needs 100 samples, 99 needs 1000."""
    xs = sorted(values)
    k = len(xs) - beyond
    if k < 1:
        return None
    return float(xs[k - 1]), 100.0 * k / len(xs)


def spread(values) -> float:
    """Interquartile range as a share of the median, with the quartiles of
    statistics.quantiles(values, n=4)."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / median(values)
