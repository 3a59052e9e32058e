"""Arithmetic the benchmark reports with: percentiles, geomeans, family
sums and span self time. Pure functions, unit-tested in
``perfbench/tests/test_arith.py``."""

from __future__ import annotations

import math
import statistics

# A percentile is reported only when at least this many samples lie
# beyond it, so a single slow sample cannot move it on its own.
MIN_BEYOND = 10


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def percentile(values: list[float], p: float) -> float | None:
    """Nearest-rank ``p``-th percentile, or None when fewer than
    ``MIN_BEYOND`` samples lie strictly above its rank."""
    if not 0 < p < 100:
        raise ValueError(f"percentile {p} outside (0, 100)")
    n = len(values)
    if n == 0:
        return None
    rank = max(1, math.ceil(p / 100 * n))
    if n - rank < MIN_BEYOND:
        return None
    return sorted(values)[rank - 1]


def geomean(values: list[float]) -> float:
    if not values or any(v <= 0 for v in values):
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def family_sums(
    per_query: dict[str, float], families: dict[str, list[str]]
) -> dict[str, float]:
    """Sum of per-query values per family; every family member must have
    a value, so a missing query cannot shrink its family's sum."""
    out = {}
    for fam, members in families.items():
        missing = [q for q in members if q not in per_query]
        if missing:
            raise KeyError(f"family {fam} lacks {missing}")
        out[fam] = sum(per_query[q] for q in members)
    return out


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi
    )
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


def self_times(spans: list[dict]) -> list[float]:
    """Per span: its duration minus the part of it that its direct child
    spans cover. Children may overlap (one ran on a helper thread), so the
    covered part is the union of their intervals, not their sum."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return [
        (s["end"] - s["start"])
        - covered(children.get(i, []), s["start"], s["end"])
        for i, s in enumerate(spans)
    ]
