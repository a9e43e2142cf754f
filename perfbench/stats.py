"""Summary statistics the benchmark reports (pure functions, no Spark)."""

from __future__ import annotations

import math

#: a tail percentile is reported only when at least this many samples lie
#: beyond it, so one slow op cannot be the whole tail
MIN_TAIL_SAMPLES = 10


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (``q`` in (0, 100]) of a non-empty list."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(ordered)))
    return ordered[rank - 1]


def tail_percentile(values: list[float], q: float) -> float | None:
    """The ``q`` percentile, or None when fewer than
    :data:`MIN_TAIL_SAMPLES` samples lie beyond it (p90 needs 100 or more
    samples)."""
    beyond = len(values) - math.ceil(q / 100.0 * len(values))
    if beyond < MIN_TAIL_SAMPLES:
        return None
    return percentile(values, q)


def rate(count: float, seconds: float) -> float:
    return count / seconds if seconds > 0 else 0.0

