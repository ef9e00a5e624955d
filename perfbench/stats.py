"""Percentiles under the sample-count rule."""

from __future__ import annotations

import math

#: a percentile is reported only when at least this many samples lie
#: beyond it
MIN_BEYOND = 10


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile, ``q`` in (0, 1]."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0.0 < q <= 1.0:
        raise ValueError(f"q={q} outside (0, 1]")
    ordered = sorted(values)
    return ordered[max(1, math.ceil(q * len(ordered))) - 1]


def supported(n: int, q: float, beyond: int = MIN_BEYOND) -> bool:
    """True when ``n`` samples leave at least ``beyond`` above the
    ``q`` percentile's nearest rank."""
    return n - max(1, math.ceil(q * n)) >= beyond
