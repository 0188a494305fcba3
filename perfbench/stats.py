"""Order statistics for the benchmark's timing samples."""

from __future__ import annotations

import statistics

# The report percentiles a tail estimate may use, highest first.
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0)
# Samples a tail percentile must leave beyond it.
MIN_BEYOND = 10


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile, q in [0, 1]."""
    if not values:
        raise ValueError("quantile of an empty sample")
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(values: list[float]) -> tuple[float, float] | None:
    """(p, value) for the highest percentile p in TAIL_PERCENTILES that
    leaves at least MIN_BEYOND samples strictly above its rank, or None
    when the sample is too small for any of them.

    With n samples, the p-th percentile has n * (1 - p/100) samples
    beyond it; p is supported when that count is >= MIN_BEYOND."""
    n = len(values)
    for p in TAIL_PERCENTILES:
        if n * (1.0 - p / 100.0) >= MIN_BEYOND - 1e-9:
            return p, quantile(values, p / 100.0)
    return None


def summarize(values: list[float]) -> dict:
    """Median, sample count and the supported tail percentile."""
    out: dict = {"n": len(values)}
    if values:
        out["median"] = statistics.median(values)
        tail = tail_percentile(values)
        if tail is not None:
            out[f"p{tail[0]:g}"] = tail[1]
    return out

