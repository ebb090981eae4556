"""Order statistics shared by the workloads and the trace report."""

from __future__ import annotations

import statistics

#: A tail percentile must leave at least this many samples beyond it.
TAIL_BEYOND = 10


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def tail(values: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float]:
    """(value, percentile) of the highest order statistic that leaves
    ``beyond`` samples above it. With n samples that is the
    (n - beyond)-th smallest, and its percentile is its rank share
    100·(n - beyond)/n (n = 100 gives p90). Fewer than beyond + 1
    samples have no such tail."""
    n = len(values)
    if n <= beyond:
        raise ValueError(f"a tail needs more than {beyond} samples, got {n}")
    ordered = sorted(values)
    return float(ordered[n - beyond - 1]), 100.0 * (n - beyond) / n
