"""Percentile arithmetic for the benchmark's tail metrics.

A tail percentile is only reported when at least ``MIN_BEYOND`` samples lie
beyond it; a p75 needs 40 samples and a p95 needs 200. Ranks are
nearest-rank: the p-th percentile of n sorted samples is the sample at rank
ceil(p * n).
"""
import math
import statistics

MIN_BEYOND = 10


def rank(n: int, p: float) -> int:
    if not 0 < p < 1:
        raise ValueError(f"percentile {p} outside (0, 1)")
    return max(1, math.ceil(p * n - 1e-9))


def beyond(n: int, p: float) -> int:
    """Samples that lie strictly beyond the p-th percentile's rank."""
    return n - rank(n, p)


def percentile(values, p: float, min_beyond: int = MIN_BEYOND) -> float:
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    if beyond(len(xs), p) < min_beyond:
        raise ValueError(f"p{round(p * 100)} of {len(xs)} samples leaves "
                         f"{beyond(len(xs), p)} beyond it; need {min_beyond}")
    return xs[rank(len(xs), p) - 1]


def median(values) -> float:
    return statistics.median(values)
