"""Pure helpers: the percentile rule and the freshness join."""

from __future__ import annotations

import bisect
import math
import statistics

MIN_BEYOND = 10  # samples a reported percentile must have above it


def percentile(values: list[float], q: float) -> float | None:
    """The ``q``-th percentile (nearest rank), or None when fewer than
    ``MIN_BEYOND`` samples lie beyond it: p50 needs 20 samples, p90 100."""
    n = len(values)
    if n == 0:
        return None
    rank = max(1, math.ceil(q / 100.0 * n))  # 1-based nearest rank
    if n - rank < MIN_BEYOND:
        return None
    return sorted(values)[rank - 1]


def median(values: list[float]) -> float | None:
    return statistics.median(values) if values else None


def freshness(
    due: list[float],
    cumulative: list[int],
    sink_calls: list[tuple[float, int]],
) -> list[float | None]:
    """Per file: the time of the first sink call whose report total is at
    least the cumulative clicks through that file, minus the time the
    file was due.  ``None`` marks a file no sink call ever reflected.

    ``sink_calls`` are (time, report total) in call order; totals only
    grow, so the first covering call is found by bisection over the
    running maximum.
    """
    times, best = [], []
    running = -1
    for t, total in sink_calls:
        if total > running:
            running = total
            times.append(t)
            best.append(total)
    out: list[float | None] = []
    for d, need in zip(due, cumulative):
        i = bisect.bisect_left(best, need)
        out.append(times[i] - d if i < len(best) else None)
    return out
