"""Percentiles and spreads for the benchmark's metrics."""

from __future__ import annotations

import re
import statistics

METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
MIN_BEYOND = 10  # samples a tail percentile needs above it


def median(samples: list[float]) -> float:
    if not samples:
        raise ValueError("median of no samples")
    return statistics.median(samples)


def tail_percentile(samples: list[float], q: float) -> float:
    """The ``q``-th percentile (nearest rank), refused with ValueError when
    fewer than MIN_BEYOND samples lie above it: a tail read from a handful
    of samples is noise, not a percentile."""
    n = len(samples)
    rank = max(1, -(-n * q // 100))  # ceil(n*q/100), 1-based
    if n - rank < MIN_BEYOND:
        raise ValueError(
            f"p{q:g} needs {MIN_BEYOND} samples above it; {n} samples leave "
            f"{max(0, n - int(rank))}"
        )
    return sorted(samples)[int(rank) - 1]


def spread(values: list[float]) -> dict[str, float]:
    """Median, quartiles and inter-quartile range as a share of the median,
    with quartiles as ``statistics.quantiles(values, n=4)`` gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return {
        "median": q2,
        "q1": q1,
        "q3": q3,
        "iqr_share": (q3 - q1) / q2 if q2 else float("inf"),
    }
