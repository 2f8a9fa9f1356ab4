"""Summary statistics used by every workload."""

from __future__ import annotations

import math
import statistics

# candidate tail percentiles, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)
MIN_BEYOND = 10


def _rank(p: float, n: int) -> int:
    # rounded first: 0.999 * 10000 is 9990.000000000002 in floats
    return max(1, math.ceil(round(p / 100.0 * n, 9)))


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (p in (0, 100]) of a non-empty sample."""
    if not values:
        raise ValueError("percentile of an empty sample")
    return sorted(values)[_rank(p, len(values)) - 1]


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of an empty sample")
    return statistics.median(values)


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n) of the highest ladder percentile that
    leaves at least MIN_BEYOND samples above its rank. A sample too
    small for any ladder step reports its median (percentile 50) — the
    sample then supports no claim about the tail."""
    n = len(values)
    for p in TAIL_LADDER:
        if n - _rank(p, n) >= MIN_BEYOND:
            return percentile(values, p), p, n
    return median(values), 50.0, n


def busy_frac(task_run_ms: float, wall_ms: float, cores: int) -> float:
    """Share of the executor slots kept busy over a wall interval:
    sum of task run time / (wall x cores)."""
    if wall_ms <= 0 or cores <= 0:
        raise ValueError("busy_frac needs a positive wall and core count")
    return task_run_ms / (wall_ms * cores)
