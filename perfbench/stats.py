"""Small statistics helpers shared by the runner and its tests."""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10


def percentile(samples: list[float], pct: float) -> float:
    """Nearest-rank percentile."""
    ordered = sorted(samples)
    rank = max(1, math.ceil(pct / 100.0 * len(ordered)))
    return ordered[rank - 1]


def beyond(n: int, pct: float) -> int:
    """How many of ``n`` samples lie above the nearest-rank ``pct``."""
    return n - max(1, math.ceil(pct / 100.0 * n))


def reportable(samples: list[float], pct: float) -> float | None:
    """The ``pct`` percentile, or None when fewer than ``MIN_BEYOND``
    samples lie beyond it (a tail read off fewer samples is noise)."""
    if not samples or beyond(len(samples), pct) < MIN_BEYOND:
        return None
    return percentile(samples, pct)


def median(samples: list[float]) -> float:
    return statistics.median(samples) if samples else 0.0
