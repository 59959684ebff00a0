"""Summary statistics for timings."""

from __future__ import annotations

import math
import statistics

PERCENTILES = (50.0, 75.0, 90.0, 95.0, 99.0)
MIN_BEYOND = 10


def highest_percentile(n: int, min_beyond: int = MIN_BEYOND) -> float | None:
    """The highest of PERCENTILES that has at least ``min_beyond`` of ``n``
    samples beyond it, or None when even the median has fewer. p90 thus
    needs 100 samples."""
    ok = [p for p in PERCENTILES if n - math.ceil(n * p / 100.0) >= min_beyond]
    return max(ok) if ok else None


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    xs = sorted(values)
    return xs[max(0, math.ceil(len(xs) * p / 100.0) - 1)]


def summary(values: list[float]) -> dict:
    """Median and the highest percentile the sample count supports."""
    out = {"n": len(values), "p50": statistics.median(values) if values else None}
    p = highest_percentile(len(values))
    if p is not None and p > 50.0:
        out[f"p{p:g}"] = percentile(values, p)
    return out
