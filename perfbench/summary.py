"""Pure statistics for the benchmark: percentiles and the tail-sample rule."""

from __future__ import annotations

import math

# a tail percentile is trustworthy only with this many samples beyond it
MIN_BEYOND = 10
LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def percentile(values: list[float], q: float) -> float:
    """Linearly interpolated q-th percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0.0 <= q <= 100.0:
        raise ValueError(f"percentile {q} outside [0, 100]")
    xs = sorted(values)
    rank = (len(xs) - 1) * q / 100.0
    lo = math.floor(rank)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (rank - lo)


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie above the q-th percentile's rank."""
    return n - math.ceil(n * q / 100.0 - 1e-9)


def tail_percentile(n: int, min_beyond: int = MIN_BEYOND) -> float | None:
    """The highest ladder percentile with at least ``min_beyond`` samples
    beyond it, or None when even the median lacks them."""
    best = None
    for q in LADDER:
        if samples_beyond(n, q) >= min_beyond:
            best = q
    return best


def latency_summary(latencies: list[float]) -> dict:
    """p50/p90 with the sample counts a reader needs to judge them."""
    n = len(latencies)
    return {
        "samples": n,
        "p50_s": percentile(latencies, 50.0),
        "p90_s": percentile(latencies, 90.0),
        "beyond_p90": samples_beyond(n, 90.0),
        "p90_meets_tail_rule": samples_beyond(n, 90.0) >= MIN_BEYOND,
        "tail_percentile": tail_percentile(n),
    }
