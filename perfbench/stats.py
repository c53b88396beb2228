"""Summary statistics the benchmark reports."""

from __future__ import annotations

import statistics

TAIL_BEYOND = 10  # samples that must lie beyond a reported tail percentile


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def gmean(values: list[float]) -> float:
    return statistics.geometric_mean(values) if values else 0.0


def tail(values: list[float]) -> tuple[float, float] | None:
    """The highest percentile that still has at least ``TAIL_BEYOND``
    samples beyond it, as ``(percentile, value)``. The value is the sample
    of rank ``n - TAIL_BEYOND`` (1-based, ascending), so exactly
    ``TAIL_BEYOND`` samples sit above it; its percentile is that rank over
    ``n``. None when there are too few samples to leave any beyond."""
    n = len(values)
    rank = n - TAIL_BEYOND
    if rank < 1:
        return None
    return 100.0 * rank / n, sorted(values)[rank - 1]
