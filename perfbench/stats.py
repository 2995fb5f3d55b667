"""Order statistics for the benchmark's reports."""

from __future__ import annotations

import statistics

#: Percentiles a tail may be reported at, highest last.
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated ``p``-th percentile (numpy's default rule)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int, beyond: int = 10) -> float | None:
    """The highest ladder percentile with at least ``beyond`` of ``n``
    samples above it; ``None`` when even the median has fewer."""
    best = None
    for p in TAIL_LADDER:
        if n * (100.0 - p) / 100.0 >= beyond - 1e-9:
            best = p
    return best


def spread(values: list[float]) -> dict[str, float]:
    """Median, quartiles, min/max and the inter-quartile range as a share
    of the median."""
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {
        "median": med,
        "q1": q1,
        "q3": q3,
        "min": min(values),
        "max": max(values),
        "iqr_share": (q3 - q1) / med if med else float("inf"),
    }
