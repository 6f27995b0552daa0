"""Small, Spark-free statistics used by the benchmark and its self-tests."""

from __future__ import annotations

import math
import statistics

# A tail percentile is only reported when at least this many samples lie
# beyond it; with fewer samples the percentile is lowered until they do.
TAIL_MIN_BEYOND = 10


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def quartiles(xs: list[float]) -> tuple[float, float]:
    """(Q1, Q3) as ``statistics.quantiles(xs, n=4)`` gives them."""
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def rel_spread(xs: list[float]) -> float:
    """Interquartile distance as a share of the median."""
    q1, q3 = quartiles(xs)
    return (q3 - q1) / median(xs)


def geomean(xs: list[float]) -> float:
    if not xs or min(xs) <= 0:
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def nearest_rank(xs: list[float], pct: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``pct`` percent of the samples at or below it."""
    s = sorted(xs)
    rank = max(1, math.ceil(pct / 100.0 * len(s)))
    return s[rank - 1]


def tail_percentile(
    xs: list[float], want: float, min_beyond: int = TAIL_MIN_BEYOND
) -> tuple[float, float] | None:
    """The highest percentile up to ``want`` that has at least
    ``min_beyond`` samples strictly beyond its nearest rank.

    Returns ``(percentile, value)``, or None when there are too few
    samples for any percentile. The percentile is a whole number, so it
    reads the same across runs with similar sample counts.
    """
    n = len(xs)
    pct = math.floor(min(want, 100.0 * (n - min_beyond) / n)) if n else 0
    while pct > 0 and n - math.ceil(pct / 100.0 * n) < min_beyond:
        pct -= 1
    if pct <= 0:
        return None
    return float(pct), nearest_rank(xs, pct)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total, end = 0.0, -math.inf
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_time(span: tuple[float, float], children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover."""
    a, b = span
    clipped = [(max(a, c), min(b, d)) for c, d in children if d > a and c < b]
    return (b - a) - union_length(clipped)
