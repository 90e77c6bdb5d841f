"""Pure helpers for the benchmark: percentiles, interval arithmetic, names.

Nothing here imports Spark, so the unit tests in ``perfbench/tests`` run
without a JVM.
"""

from __future__ import annotations

import math
import re
import statistics

_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
_UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")

# Tail samples a reported percentile must leave above it.
TAIL_MIN_BEYOND = 10


def valid_metric_name(name: str) -> bool:
    """Letters, digits, ``_``, ``.`` and ``-``; starts with a letter or a
    digit; at most 64 characters."""
    return bool(_NAME.fullmatch(name))


def valid_unit(unit: str) -> bool:
    return bool(_UNIT.fullmatch(unit))


def tail_percentile(n: int, want: int = 90, beyond: int = TAIL_MIN_BEYOND) -> int | None:
    """The highest whole percentile <= ``want`` that leaves at least
    ``beyond`` of ``n`` samples strictly above its rank, or None when even
    the median would not (fewer than ``2 * beyond`` samples)."""
    if n <= 0:
        return None
    best = (n - beyond) * 100 // n
    pct = min(want, best)
    return pct if pct >= 50 else None


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile (the value at rank ceil(pct/100 * n))."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(pct / 100.0 * len(ordered)))
    return ordered[rank - 1]


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
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


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover."""
    return (end - start) - union_length(children, start, end)
