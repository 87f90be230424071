"""Pure summary arithmetic shared by the runner and the trace reducer."""

from __future__ import annotations

import math
import statistics


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail_percentile(n: int, min_beyond: int = 10) -> int | None:
    """The highest whole percentile p with at least ``min_beyond`` of
    ``n`` samples above it, i.e. n * (1 - p/100) >= min_beyond.
    None when even the median leaves fewer than that above it."""
    if n <= 0:
        return None
    p = math.floor(100.0 * (1.0 - min_beyond / n) + 1e-9)
    return p if p >= 50 else None


def percentile(xs: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    s = sorted(xs)
    if not s:
        return 0.0
    k = (len(s) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail(xs: list[float], min_beyond: int = 10) -> tuple[float, str]:
    """(value, label) of the tail statistic: the highest percentile with
    ``min_beyond`` samples beyond it, or the maximum when there are too
    few samples for any percentile to qualify."""
    p = tail_percentile(len(xs), min_beyond)
    if p is None:
        return (max(xs) if xs else 0.0), f"max of {len(xs)}"
    return percentile(xs, p), f"p{p} of {len(xs)}"


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part of it its direct children
    cover. Spans are dicts with ``id``, ``parent``, ``start``, ``end``."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - covered(kids.get(s["id"], []), s["start"], s["end"]) for s in spans
    }
