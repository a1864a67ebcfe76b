"""Percentiles by the benchmark's reporting rule.

A latency sample is summarised by its median and by the highest percentile
that still has at least ``MIN_BEYOND`` samples above it; a percentile with
fewer samples beyond it would be set by one or two outliers. The summary
always carries the sample count.
"""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10
# candidate tail percentiles, highest first
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (the 'inclusive' method: p=0 is the
    minimum, p=100 the maximum)."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def supported_percentile(n: int, min_beyond: int = MIN_BEYOND) -> float | None:
    """Highest candidate percentile with at least ``min_beyond`` of ``n``
    samples strictly beyond it, or None when even the median is not
    supported (fewer than ``2 * min_beyond`` samples)."""
    for p in TAIL_PERCENTILES:
        # rounded: 100 - 99.9 is not exactly 0.1 in binary floating point
        if round(n * (100.0 - p) / 100.0, 9) >= min_beyond:
            return p
    return None


def summarize(values: list[float]) -> dict:
    """``{"n", "p50", "tail_p", "tail"}``; ``tail_p`` is None when the sample
    is too small to support any percentile under the rule (``p50`` is still
    given, as the plain median)."""
    out = {"n": len(values), "p50": statistics.median(values) if values else None}
    p = supported_percentile(len(values))
    out["tail_p"] = p
    out["tail"] = percentile(values, p) if p is not None else None
    return out
