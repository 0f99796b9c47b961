"""Small numeric helpers shared by the runner and its tests."""

from __future__ import annotations

import statistics


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def tail(values: list[float]) -> tuple[float, int]:
    """The highest percentile of ``values`` that has at least ten samples
    above it, as ``(value, percentile)``.

    With ``n`` samples that is the ``floor(100 * (n - 10) / n)``-th
    percentile, read as the sample at rank ``ceil(p * n / 100)`` in sorted
    order (nearest-rank). Fewer than eleven samples leave no such
    percentile, so the median stands in and the percentile reads 50.
    """
    n = len(values)
    if n < 11:
        return median(values), 50
    pct = (100 * (n - 10)) // n
    rank = -(-pct * n // 100)  # ceil; rank n - 10 or lower
    return sorted(values)[rank - 1], pct


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by ``intervals`` (overlaps counted once)."""
    total = 0.0
    end = float("-inf")
    for lo, hi in sorted(intervals):
        if hi <= end:
            continue
        total += hi - max(lo, end)
        end = hi
    return total


def clip(intervals: list[tuple[float, float]], lo: float, hi: float):
    """``intervals`` cut to the window ``[lo, hi]``; empty ones dropped."""
    out = []
    for a, b in intervals:
        a, b = max(a, lo), min(b, hi)
        if b > a:
            out.append((a, b))
    return out


def self_time(span: tuple[float, float], children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover."""
    lo, hi = span
    return (hi - lo) - union_length(clip(children, lo, hi))
