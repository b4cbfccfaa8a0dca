"""Order statistics used by every workload's report."""

from __future__ import annotations

import math

#: tail percentiles tried from the highest down; the first one with at
#: least ``min_beyond`` samples strictly above it is the reported tail
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0)


def percentile(samples: list[float], pct: float) -> float:
    """Linear-interpolation percentile (numpy's default method)."""
    if not samples:
        raise ValueError("percentile of no samples")
    xs = sorted(samples)
    pos = (len(xs) - 1) * pct / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def beyond(samples: list[float], value: float) -> int:
    return sum(1 for x in samples if x > value)


def tail(samples: list[float], min_beyond: int = 10) -> dict:
    """The highest percentile of :data:`TAIL_LADDER` with at least
    ``min_beyond`` samples beyond it.  When no rung has that many (fewer
    than ``10 * min_beyond`` samples), the lowest rung is reported and
    ``beyond`` says how thin it is."""
    pct = TAIL_LADDER[-1]
    for p in TAIL_LADDER:
        if beyond(samples, percentile(samples, p)) >= min_beyond:
            pct = p
            break
    value = percentile(samples, pct)
    return {"pct": pct, "value": value, "n": len(samples), "beyond": beyond(samples, value)}


def median(samples: list[float]) -> float:
    return percentile(samples, 50.0)
