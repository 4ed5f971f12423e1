"""The tail-latency statistic the benchmark reports."""

from __future__ import annotations

# A tail percentile needs this many samples beyond it ...
TAIL_BEYOND = 10
# ... and is never reported below this percentile.
TAIL_FLOOR_PCT = 90.0


def tail(xs) -> tuple[float, float, int]:
    """(value, percentile, samples beyond it) of the highest nearest-rank
    percentile with at least ``TAIL_BEYOND`` samples beyond it.

    With fewer than 100 samples no percentile from p90 up has ten samples
    beyond it; the tail is then the maximum, reported as p100 with 0
    beyond, rather than a percentile at or below the median."""
    s = sorted(xs)
    n = len(s)
    rank = n - TAIL_BEYOND  # 1-based rank with exactly TAIL_BEYOND above it
    pct = 100.0 * rank / n if rank > 0 else 0.0
    if pct < TAIL_FLOOR_PCT:
        return s[-1], 100.0, 0
    return s[rank - 1], pct, n - rank
