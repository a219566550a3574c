"""Order statistics used by the benchmark's reports."""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10  # a percentile is reported only with this many samples above it


def tail_percentile(values: list[float], q: float, min_beyond: int = MIN_BEYOND) -> float | None:
    """The ``q``-th percentile, or None when fewer than ``min_beyond``
    samples lie beyond it (a tail estimate from fewer is noise)."""
    n = len(values)
    if n == 0:
        return None
    rank = max(1, math.ceil(q / 100.0 * n))
    if n - rank < min_beyond:
        return None
    return sorted(values)[rank - 1]


def warmed_up(round_times: list[float], min_rounds: int, max_rounds: int, tol: float, window: int) -> bool:
    """Warm-up stop rule, the same on every commit: stop after
    ``max_rounds``, or once ``min_rounds`` have run and the median of the
    last ``window`` rounds is not faster than the median of the
    ``window`` rounds before them by more than ``tol``. Comparing medians
    of windows, not single rounds, keeps one lucky or unlucky round from
    ending warm-up while rounds are still getting faster."""
    n = len(round_times)
    if n >= max_rounds:
        return True
    if n < max(min_rounds, 2 * window):
        return False
    last = statistics.median(round_times[-window:])
    before = statistics.median(round_times[-2 * window : -window])
    return last > (1.0 - tol) * before
