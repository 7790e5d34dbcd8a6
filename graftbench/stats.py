"""Small, Spark-free arithmetic the benchmark reports with: medians with
their sample counts, and span self time."""

from __future__ import annotations

import statistics
from typing import Iterable


def median_n(values: Iterable[float]) -> tuple[float, int]:
    """Median of ``values`` and how many samples it was taken over."""
    vals = list(values)
    if not vals:
        raise ValueError("median of no samples")
    return statistics.median(vals), len(vals)


def covered(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
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


def self_time(start: float, end: float, children: Iterable[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its child spans cover
    (overlapping children count once)."""
    return (end - start) - covered(children, start, end)


def net_of(total: float, below: float) -> float:
    """Self time of an outside-in measurement: the time of running a layer
    together with everything under it, minus the time of the layer below
    alone. Not clamped, so noise stays visible as small negatives."""
    return total - below
