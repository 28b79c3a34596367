"""Summary statistics used by the benchmark's metrics."""

from __future__ import annotations

import math
import statistics


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def tail(values) -> tuple[int, float]:
    """The highest whole percentile (nearest rank) with at least ten samples
    above it, as ``(percentile, value)``.  With fewer than eleven samples no
    percentile has ten beyond it, and the maximum is returned as ``(100,
    max)``."""
    xs = sorted(values)
    n = len(xs)
    if n < 11:
        return 100, (xs[-1] if xs else 0.0)
    rank = lambda p: math.ceil(p / 100 * n) - 1  # noqa: E731  (0-based)
    best = max(p for p in range(1, 100) if n - 1 - rank(p) >= 10)
    return best, xs[rank(best)]
