"""Arithmetic the benchmark reports: per-query medians and their sum and
geometric mean, the tail percentile with its sample-count rule, quartile
spread and span self time.

Pure functions over plain lists so they can be unit-tested without Spark.
"""

from __future__ import annotations

import math
import statistics

# A tail percentile is reported only when at least this many samples lie
# strictly beyond it; fewer samples make the percentile a single outlier.
MIN_TAIL_SAMPLES = 10


def geomean(values: list[float]) -> float:
    """Geometric mean of positive values."""
    if not values:
        raise ValueError("geomean of no values")
    if any(v <= 0 for v in values):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def suite_figures(samples: dict[str, list[float]]) -> dict[str, float]:
    """`suite_s` (sum of per-query median latencies) and `query_geomean_s`
    (their geometric mean) from each query's timed samples."""
    medians = [statistics.median(xs) for xs in samples.values()]
    return {"suite_s": sum(medians), "query_geomean_s": geomean(medians)}


def tail_percentile(values: list[float], pct: float) -> float | None:
    """The `pct` percentile (nearest rank), or None when fewer than
    MIN_TAIL_SAMPLES samples lie strictly above it."""
    if not values:
        return None
    ordered = sorted(values)
    rank = max(1, math.ceil(pct / 100.0 * len(ordered)))
    value = ordered[rank - 1]
    beyond = sum(1 for v in ordered if v > value)
    return value if beyond >= MIN_TAIL_SAMPLES else None


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, the quartiles as statistics.quantiles(n=4)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of each span: its duration minus the part of its
    interval covered by its direct children (overlapping children are
    counted once).  Spans are dicts with `id`, `parent`, `t0`, `t1`."""
    children: dict[int | None, list[dict]] = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out: dict[int, float] = {}
    for s in spans:
        covered = 0.0
        end = s["t0"]
        for c in sorted(children.get(s["id"], []), key=lambda c: c["t0"]):
            lo, hi = max(c["t0"], end, s["t0"]), min(c["t1"], s["t1"])
            if hi > lo:
                covered += hi - lo
            end = max(end, c["t1"])
        out[s["id"]] = (s["t1"] - s["t0"]) - covered
    return out
