"""Summary statistics of one run's samples."""

from __future__ import annotations

import math
import statistics


def percentile(samples: list[float], q: float) -> float:
    """Linear-interpolated ``q``-th percentile (0-100), as numpy's default."""
    if not samples:
        raise ValueError("percentile of no samples")
    xs = sorted(samples)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def highest_supported_percentile(n: int, beyond: int = 10) -> int:
    """The highest whole percentile that leaves at least ``beyond``
    samples above it, or 50 when there are too few samples for that."""
    if n <= 0:
        return 50
    return max(50, math.floor(100 * (n - beyond) / n))


def summarize(samples: list[float]) -> dict[str, float]:
    """Median, quartiles, the highest percentile with ten samples beyond
    it, and the sample count."""
    n = len(samples)
    tail = highest_supported_percentile(n)
    return {
        "n": n,
        "p50": statistics.median(samples),
        "p25": percentile(samples, 25),
        "p75": percentile(samples, 75),
        "tail_pct": tail,
        "tail": percentile(samples, tail),
    }


def iqr_share(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median, with ``statistics.quantiles(values, n=4)``."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
