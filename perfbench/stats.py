"""Summary statistics for the benchmark's timings."""

from __future__ import annotations

# A tail percentile is only reported when at least this many samples lie
# beyond it, so that one outlier cannot set it.
TAIL_BEYOND = 10


def tail(xs: list[float], beyond: int = TAIL_BEYOND) -> dict | None:
    """The highest percentile of `xs` that has at least `beyond` samples
    above it: the sample at sorted position n - beyond - 1. Returns the
    value with its percentile and the sample count, or None when there
    are not more than `beyond` samples."""
    n = len(xs)
    if n <= beyond:
        return None
    return {
        "value": sorted(xs)[n - beyond - 1],
        "pct": 100.0 * (n - beyond) / n,
        "n": n,
    }
