"""Small statistics helpers shared by the coordinator and the worker."""

from __future__ import annotations

import math
import statistics


def percentile(values: list[float], p: float, min_beyond: int = 10) -> float | None:
    """The p-th percentile (linear interpolation between closest
    ranks), or None unless at least ``min_beyond`` samples lie beyond
    it: a p50 needs 20 samples, a p90 needs 100."""
    n = len(values)
    if n == 0 or n * (100 - p) < min_beyond * 100:
        return None
    xs = sorted(values)
    pos = (n - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, quartiles as statistics.quantiles(n=4) gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def vmhwm_mb(status_text: str) -> float | None:
    """Peak resident set size in MiB from a /proc/<pid>/status text."""
    for line in status_text.splitlines():
        if line.startswith("VmHWM:"):
            parts = line.split()
            value = float(parts[1])
            unit = parts[2].lower() if len(parts) > 2 else "kb"
            scale = {"kb": 1 / 1024, "mb": 1.0, "gb": 1024.0}[unit]
            return value * scale
    return None
