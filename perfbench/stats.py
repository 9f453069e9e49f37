"""Summary statistics: medians and quartiles, never a best-of-N minimum."""

from __future__ import annotations

import statistics

# candidate percentiles, highest first
PERCENTILES = (99.0, 95.0, 90.0, 75.0, 50.0)


def quantile(values: list[float], q: float) -> float:
    """The ``q`` quantile (0 < q < 1) by the same rule as
    ``statistics.quantiles`` (exclusive method), defined for any sample
    size: one value is its own quantile, and positions outside the sample
    clamp to its ends."""
    if not values:
        raise ValueError("quantile of an empty sample")
    v = sorted(values)
    if len(v) == 1:
        return float(v[0])
    pos = q * (len(v) + 1) - 1  # 0-based position, exclusive method
    if pos <= 0:
        return float(v[0])
    if pos >= len(v) - 1:
        return float(v[-1])
    lo = int(pos)
    return float(v[lo] + (v[lo + 1] - v[lo]) * (pos - lo))


def reportable_percentile(n: int, min_beyond: int = 10) -> float | None:
    """The highest percentile in :data:`PERCENTILES` that has at least
    ``min_beyond`` of ``n`` samples above it, or None when even the median
    has fewer."""
    for p in PERCENTILES:
        if n * (100.0 - p) / 100.0 >= min_beyond:
            return p
    return None


def summarize(values: list[float]) -> dict[str, float]:
    """Median, quartiles and sample count."""
    return {
        "median": statistics.median(values),
        "p25": quantile(values, 0.25),
        "p75": quantile(values, 0.75),
        "n": len(values),
    }


def spread(values: list[float]) -> float:
    """Interquartile distance as a share of the median, by
    ``statistics.quantiles(values, n=4)``."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
