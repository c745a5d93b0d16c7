"""Summary statistics shared by the harness and its self-tests."""

from __future__ import annotations

import math
import statistics

TAIL_BEYOND = 10  # samples a reported tail must leave above it


def median(xs) -> float | None:
    xs = list(xs)
    return statistics.median(xs) if xs else None


def tail(xs) -> tuple[int, float] | None:
    """The highest whole percentile ``p`` whose nearest-rank value leaves
    at least TAIL_BEYOND samples above it, as ``(p, value)``; ``None``
    when the samples are too few for that percentile to reach p50."""
    s = sorted(xs)
    n = len(s)
    if n <= TAIL_BEYOND:
        return None
    p = 100 * (n - TAIL_BEYOND) // n
    if p < 50:
        return None
    rank = math.ceil(p * n / 100)
    return p, s[rank - 1]


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
