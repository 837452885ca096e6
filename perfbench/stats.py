"""Summary statistics shared by the workloads and the stage attributor."""

from __future__ import annotations

import statistics

# a tail percentile needs at least this many samples beyond it
TAIL_BEYOND = 10


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def tail(values) -> tuple[float | None, float | None, int]:
    """(value, percentile, sample count) of the highest percentile with at
    least TAIL_BEYOND samples beyond it.

    With n samples sorted ascending, the element at index n-1-TAIL_BEYOND
    has exactly TAIL_BEYOND samples above it; its percentile is
    100*(n-TAIL_BEYOND)/n. Below 2*TAIL_BEYOND+1 samples that percentile
    is not above the median, so there is no tail to report and value and
    percentile are None."""
    xs = sorted(values)
    n = len(xs)
    if n <= 2 * TAIL_BEYOND:
        return None, None, n
    return float(xs[n - 1 - TAIL_BEYOND]), 100.0 * (n - TAIL_BEYOND) / n, n


def quartile_spread(values) -> float:
    """(Q3 - Q1) / median, as statistics.quantiles(values, n=4) gives the
    quartiles."""
    values = list(values)
    if len(values) < 2:
        return 0.0
    q1, q2, q3 = statistics.quantiles(values, n=4)
    if q2 == 0:
        return 0.0 if q3 == q1 else float("inf")
    return (q3 - q1) / q2
