"""Pure statistics used by the benchmark: medians, quartiles, the tail
percentile and span self time. No Spark import, so the tests run fast."""

from __future__ import annotations

import statistics

# A tail percentile is only reported with at least this many samples
# strictly beyond it.
TAIL_MIN_BEYOND = 10


def median(values):
    return statistics.median(values) if values else 0.0


def quartiles(values):
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them."""
    if len(values) < 2:
        v = values[0] if values else 0.0
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def iqr_over_median(values) -> float:
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else float("inf")


def tail(values, min_beyond: int = TAIL_MIN_BEYOND):
    """The highest order statistic with at least ``min_beyond`` samples
    strictly above it, and its percentile.

    With ``n`` sorted samples that is the element at index
    ``n - min_beyond - 1`` (the 11th largest for the default), sitting at
    percentile ``100 * (n - min_beyond) / n``. Returns ``(None, None)``
    when there are too few samples to name any tail.
    """
    n = len(values)
    if n <= min_beyond:
        return None, None
    ordered = sorted(values)
    return ordered[n - min_beyond - 1], 100.0 * (n - min_beyond) / n


def union_length(intervals, lo: float, hi: float) -> float:
    """Total length of the union of ``intervals`` clipped to ``[lo, hi]``.
    Overlapping children (spans that ran in parallel threads) count once."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(start: float, end: float, children) -> float:
    """A span's duration minus the part of its interval that its child
    spans cover."""
    return (end - start) - union_length(children, start, end)
