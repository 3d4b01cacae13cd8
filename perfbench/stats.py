"""Summary statistics shared by the benchmark: the median and the rule
for which tail percentile a sample count supports.

Pure Python (no Spark import) so the benchmark's own tests run in
milliseconds.
"""

from __future__ import annotations

import math
import statistics

# a tail percentile is only reported when at least this many samples lie
# beyond it; below that the "p99" of a run is just its slowest sample
MIN_TAIL_SAMPLES = 10
TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0)


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default rule): rank
    ``(n - 1) * p / 100`` between the two neighbouring order statistics."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0.0 <= p <= 100.0:
        raise ValueError(f"percentile must be in [0, 100], got {p}")
    xs = sorted(values)
    rank = (len(xs) - 1) * p / 100.0
    lo = math.floor(rank)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (rank - lo)


def tail_percentile(n: int) -> float | None:
    """Highest percentile in ``TAIL_CANDIDATES`` with at least
    ``MIN_TAIL_SAMPLES`` of ``n`` samples beyond it, or None."""
    for p in TAIL_CANDIDATES:
        if n * (100.0 - p) / 100.0 >= MIN_TAIL_SAMPLES - 1e-9:
            return p
    return None


def summarize(values: list[float]) -> dict[str, float]:
    """``{"p50": median, "n": count}`` plus ``pNN`` for the supported tail."""
    out = {"p50": median(values), "n": len(values)}
    p = tail_percentile(len(values))
    if p is not None:
        out[percentile_key(p)] = percentile(values, p)
    return out


def percentile_key(p: float) -> str:
    return "p" + (f"{p:g}".replace(".", "_"))

