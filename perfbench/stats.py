"""Arithmetic the benchmark reports: medians, the tail percentile with at
least ten samples beyond it, drop growth and the length of a union of
time intervals."""

from __future__ import annotations

import statistics


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def tail_percentile(
    values: list[float], min_beyond: int = 10
) -> tuple[float, float] | None:
    """Highest percentile that still has `min_beyond` samples above it.

    Nearest-rank: the sample of rank k (1-based, ascending) has n - k
    samples beyond it, so the highest qualifying rank is k = n -
    min_beyond, at percentile 100 * k / n. Returns (percentile, value),
    or None when there are too few samples for any such percentile."""
    n = len(values)
    k = n - min_beyond
    if k < 1:
        return None
    return 100.0 * k / n, float(sorted(values)[k - 1])


def drop_growth(walls: list[float]) -> float:
    """Median wall of the last quarter of drops over the median of the
    first quarter (at least one drop each). Above 1 means per-drop cost
    grows with accumulated state."""
    if len(walls) < 4:
        raise ValueError("drop_growth needs at least 4 drops")
    q = len(walls) // 4
    return median(walls[-q:]) / median(walls[:q])


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by (start, end) intervals, overlaps counted
    once; empty or reversed intervals add nothing."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
