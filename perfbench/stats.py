"""Small statistics helpers shared by the runner and its tests."""

from __future__ import annotations

import math

# A percentile is reported only when at least this many samples lie beyond it.
MIN_TAIL_SAMPLES = 10
TAIL_PERCENTILES = (0.999, 0.99, 0.9)


def tail_percentile(n: int) -> float | None:
    """Highest of p99.9/p99/p90 with at least MIN_TAIL_SAMPLES of ``n``
    samples beyond it, or None when even p90 has too few (n < 100)."""
    for q in TAIL_PERCENTILES:
        if n * (1.0 - q) >= MIN_TAIL_SAMPLES - 1e-9:
            return q
    return None


def percentile(samples: list[float], q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least a share
    ``q`` of all samples at or below it."""
    xs = sorted(samples)
    rank = math.ceil(round(q * len(xs), 9))
    return xs[min(max(rank, 1), len(xs)) - 1]
