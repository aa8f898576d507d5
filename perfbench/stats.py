"""Latency summaries: median and the tail-percentile rule."""

from __future__ import annotations

import math
import statistics

# candidate tail percentiles, highest first
TAIL_LADDER = (99.9, 99.5, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_MIN_BEYOND = 10


def nearest_rank(sorted_xs: list[float], pct: float) -> tuple[float, int]:
    """Nearest-rank percentile: (value, 1-based rank)."""
    rank = max(1, math.ceil(pct / 100.0 * len(sorted_xs)))
    return sorted_xs[rank - 1], rank


def tail(xs: list[float]) -> tuple[float, float, int] | None:
    """Latency at the highest ladder percentile that leaves at least
    ``TAIL_MIN_BEYOND`` samples beyond it: (value, percentile, n).
    None when the run holds too few samples for any rung."""
    s = sorted(xs)
    for pct in TAIL_LADDER:
        value, rank = nearest_rank(s, pct)
        if len(s) - rank >= TAIL_MIN_BEYOND:
            return value, pct, len(s)
    return None


def median(xs: list[float]) -> float:
    return statistics.median(xs)
