"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math


def percentile(values, q: float) -> tuple[float, int]:
    """The ``q``-th percentile (0..100) of ``values`` by linear
    interpolation between closest ranks, with the sample count it rests
    on. Raises ValueError on no samples."""
    xs = sorted(float(v) for v in values)
    if not xs:
        raise ValueError("percentile of no samples")
    if not 0 <= q <= 100:
        raise ValueError(f"percentile {q} outside 0..100")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo), len(xs)


def median(values) -> float:
    return percentile(values, 50)[0]
