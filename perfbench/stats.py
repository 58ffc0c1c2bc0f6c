"""Summary statistics for op latencies."""

from __future__ import annotations

# percentiles considered for the tail, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def tail_percentile(n: int) -> float:
    """The highest percentile in ``TAIL_LADDER`` that leaves at least
    ``MIN_BEYOND`` of ``n`` samples above it; the median when even that
    leaves fewer."""
    for p in TAIL_LADDER:
        if round(n * (100.0 - p) / 100.0, 6) >= MIN_BEYOND:
            return p
    return 50.0


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (``p`` in 0..100) of ``values``."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of no values")
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)
