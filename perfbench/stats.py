"""Summary statistics shared by the workloads.

Tail percentiles follow one rule: a percentile is reported only when at
least ``MIN_BEYOND`` samples lie beyond it, so a tail figure is never the
single slowest sample of a short run.
"""

from __future__ import annotations

import math

MIN_BEYOND = 10
#: percentiles a tail may be reported at, highest first
TAILS = (99, 95, 90, 75, 50)


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile ``p`` (0-100) of ``values``."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return percentile(values, 50)


def supports(n: int, p: float) -> bool:
    """True when ``n`` samples leave at least ``MIN_BEYOND`` beyond ``p``."""
    return n * (100.0 - p) / 100.0 >= MIN_BEYOND


def highest_tail(n: int) -> float | None:
    """The highest percentile of ``TAILS`` that ``n`` samples support."""
    for p in TAILS:
        if supports(n, p):
            return p
    return None


def summarize(values, ps=(50, 90)) -> dict:
    """``{"n": n, "p50": ..., "p90": ..., "p90_supported": bool, ...,
    "tail_p": p, "tail": value}``: a requested percentile without support
    is still computed but flagged; ``tail`` is the highest supported one."""
    out: dict = {"n": len(values)}
    for p in ps:
        key = f"p{p:g}"
        out[key] = percentile(values, p) if values else None
        out[f"{key}_supported"] = supports(len(values), p)
    tail = highest_tail(len(values))
    out["tail_p"] = tail
    out["tail"] = percentile(values, tail) if tail is not None else None
    return out
