"""Order statistics the benchmark reports.

A timing is reported as its median plus the highest percentile of
TAIL_LADDER that has at least MIN_BEYOND samples beyond it, so a tail
is never read off one or two outliers."""

from __future__ import annotations

import statistics

TAIL_LADDER = (99.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int) -> float | None:
    """The highest ladder percentile with >= MIN_BEYOND of n samples
    beyond it, or None when even the median has fewer."""
    for p in TAIL_LADDER:
        if n * (100.0 - p) / 100.0 >= MIN_BEYOND:
            return p
    return None


def tail(values: list[float]) -> tuple[str, float]:
    """(label, value) of the supported tail; with too few samples for
    any percentile the maximum stands in, labelled "max"."""
    p = tail_percentile(len(values))
    if p is None:
        return "max", max(values)
    return f"p{p:g}", percentile(values, p)


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, quartiles as statistics.quantiles(n=4)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med
