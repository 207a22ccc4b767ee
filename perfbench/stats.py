"""Summary statistics the benchmark reports."""

from __future__ import annotations

import statistics

TAIL_BEYOND = 10


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs, beyond: int = TAIL_BEYOND) -> tuple[float, float, int]:
    """The highest percentile that has at least `beyond` samples above it.

    Returns (value, percentile, n): the order statistic with exactly
    `beyond` samples ranked above it, the percentile it stands for, and
    the sample count. Raises ValueError when there are too few samples for
    any percentile to qualify."""
    xs = sorted(xs)
    n = len(xs)
    if n <= beyond:
        raise ValueError(f"{n} samples: a tail needs more than {beyond}")
    return float(xs[n - beyond - 1]), 100.0 * (n - beyond) / n, n


def spread(xs) -> float:
    """Distance between the first and third quartiles as a share of the
    median (statistics.quantiles, n=4)."""
    q1, q2, q3 = statistics.quantiles(list(xs), n=4)
    return (q3 - q1) / q2 if q2 else 0.0
