"""Summary statistics the benchmark reports."""

from __future__ import annotations

import statistics

# op_p90_s is reported only when at least 10 samples lie beyond it
P90_MIN_SAMPLES = 100


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 1]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def p90(values: list[float]) -> float | None:
    """The 90th percentile, or None below ``P90_MIN_SAMPLES`` samples."""
    return percentile(values, 0.9) if len(values) >= P90_MIN_SAMPLES else None


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with the quartiles of ``statistics.quantiles``
    (0 for a metric whose median is 0)."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else 0.0
