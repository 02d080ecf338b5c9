"""Order statistics used by the benchmark: medians, interpolated
percentiles, and the quartile spread the acceptance check uses."""

from __future__ import annotations

import statistics


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of an empty sample")
    return float(statistics.median(values))


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (numpy's default 'linear' method),
    q in [0, 100]."""
    if not values:
        raise ValueError("percentile of an empty sample")
    if not 0 <= q <= 100:
        raise ValueError(f"percentile {q} outside [0, 100]")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return float(xs[lo] + (xs[hi] - xs[lo]) * (pos - lo))


def highest_supported_percentile(n: int, beyond: int = 10) -> float | None:
    """The highest percentile of an n-sample that still has `beyond`
    samples above it (p90 needs 100 samples), or None when even the
    median lacks them."""
    if n < 2 * beyond:
        return None
    return 100.0 * (1.0 - beyond / n)


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with quartiles as statistics.quantiles(n=4)
    gives them — the run-to-run spread a metric's bound is checked
    against."""
    if len(values) < 2:
        raise ValueError("quartile spread needs at least two values")
    q1, _, q3 = statistics.quantiles(values, n=4)
    return float((q3 - q1) / median(values))
