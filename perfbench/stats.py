"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math
import statistics


def median(xs) -> float:
    return statistics.median(xs)


def percentile(xs, p: float) -> float:
    """Nearest-rank percentile (``p`` in 0..100) of a non-empty sample."""
    s = sorted(xs)
    k = max(1, math.ceil(p / 100 * len(s)))
    return s[k - 1]


def tail_percentile(xs, candidates=(99.9, 99.0, 95.0, 90.0), min_beyond: int = 10):
    """The highest candidate percentile with at least ``min_beyond``
    samples above it, as ``(p, value)``; None when the sample is too
    small for any of them."""
    s = sorted(xs)
    for p in candidates:
        v = percentile(s, p)
        if sum(1 for x in s if x > v) >= min_beyond:
            return p, v
    return None


def summary(xs) -> dict:
    """Median, sample count and (when the sample allows) a tail."""
    out = {"median": median(xs), "n": len(xs)}
    tail = tail_percentile(xs)
    if tail is not None:
        out[f"p{tail[0]:g}"] = tail[1]
    return out


def iqr_share(xs) -> float:
    """Distance between the first and third quartile over the median."""
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / statistics.median(xs)
