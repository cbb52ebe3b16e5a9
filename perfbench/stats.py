"""Order statistics the benchmark reports."""

from __future__ import annotations

import math
import statistics


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(xs, n=4)`` gives them."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs: list[float]) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2 if q2 else math.inf


def tail(xs: list[float], beyond: int = 10) -> tuple[float, float]:
    """The highest percentile of ``xs`` that has at least ``beyond``
    samples above it, as (percentile, value).

    Sorted ascending, the sample at rank k (0-based) has n-1-k samples
    above it; the highest rank with n-1-k >= beyond is k = n-1-beyond.
    Its percentile is the share of samples at or below it.  Fewer than
    beyond+1 samples support no tail: the maximum is returned with
    percentile 100 and the caller states the sample count."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("no samples")
    k = n - 1 - beyond
    if k < 0:
        return 100.0, s[-1]
    return 100.0 * (k + 1) / n, s[k]
