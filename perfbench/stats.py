"""Pure statistics and accounting helpers of the benchmark (no Spark)."""

from __future__ import annotations

import math
import statistics


def median(values: list[float]) -> float:
    return statistics.median(values) if values else float("nan")


def tail_percentile(
    values: list[float], min_beyond: int = 10
) -> tuple[int, float, int] | None:
    """The highest whole percentile ``p`` above the median that still
    has at least ``min_beyond`` samples strictly beyond its rank.

    With ``n`` samples, percentile ``p`` leaves ``n * (100 - p) / 100``
    of them above it, so ``p = floor(100 * (1 - min_beyond / n))``.
    Returns ``(p, value, samples_beyond)`` or ``None`` when even the
    51st percentile lacks that support. The value is the nearest-rank
    percentile (an actual sample, no interpolation)."""
    n = len(values)
    if n == 0:
        return None
    p = math.floor(100 * (1 - min_beyond / n))
    if p <= 50:
        return None
    ordered = sorted(values)
    rank = math.ceil(p / 100 * n)  # nearest-rank, 1-based
    return p, ordered[rank - 1], n - rank


def error_rate(attempted: int, failed: int) -> float:
    """Failed ops over attempted ops; an op that raised or failed its
    output check counts once as failed."""
    if attempted <= 0:
        raise ValueError("no op was attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside 0..attempted={attempted}")
    return failed / attempted


def union_length(
    intervals: list[tuple[float, float]], lo: float, hi: float
) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi
    )
    total, cur_a, cur_b = 0.0, None, None
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
