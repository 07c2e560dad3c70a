"""Percentiles and the sample counts reported with them."""

from __future__ import annotations

import math
import statistics

# Reported tail percentiles, highest first.
TAILS = (99, 95, 90, 75)
MIN_BEYOND = 10  # samples that must lie above a reported percentile


def percentile(values: list[float], p: float) -> float:
    """Linear interpolation between closest ranks (numpy's default)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    k = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n: int) -> int | None:
    """The highest of :data:`TAILS` with at least ten of ``n`` samples
    beyond it, or None when even p75 has fewer."""
    for p in TAILS:
        if n * (100 - p) / 100.0 >= MIN_BEYOND:
            return p
    return None


def describe(name: str, values: list[float]) -> str:
    """``name: p50=… [pNN=…] (n=…)`` for a human-readable report line."""
    n = len(values)
    parts = [f"p50={statistics.median(values):.4f}s"]
    tail = tail_percentile(n)
    if tail is not None:
        parts.append(f"p{tail}={percentile(values, tail):.4f}s")
    return f"{name}: {' '.join(parts)} (n={n})"
