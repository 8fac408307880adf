"""Metric math of the benchmark, free of Spark so it can be unit-tested.

Times are seconds.  Intervals are ``(start, end)`` pairs on one clock.
Spans are ``(span_id, name, start, end, parent_id)`` tuples, the form
:class:`tracing.Tracer` records.
"""

from __future__ import annotations

import math
import statistics
from collections import defaultdict

#: Percentiles a tail latency may be reported at, highest first.
TAIL_LADDER = (99.0, 95.0, 90.0, 75.0)

#: A percentile is reported only with at least this many samples above it.
MIN_BEYOND = 10


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``q`` percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(math.ceil(q / 100.0 * len(ordered)), 1)
    return ordered[rank - 1]


def samples_beyond(n: int, q: float) -> int:
    """Samples strictly above the nearest-rank ``q`` percentile of ``n``."""
    return n - max(math.ceil(q / 100.0 * n), 1)


def tail_percentile(n: int, ladder=TAIL_LADDER, min_beyond: int = MIN_BEYOND):
    """Highest percentile of ``ladder`` with ``min_beyond`` samples above
    it, or None when ``n`` samples support none of them."""
    for q in ladder:
        if samples_beyond(n, q) >= min_beyond:
            return q
    return None


def merge_intervals(intervals) -> list[tuple[float, float]]:
    """Sorted, non-overlapping union of ``intervals``."""
    merged: list[list[float]] = []
    for lo, hi in sorted(intervals):
        if hi <= lo:
            continue
        if merged and lo <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], hi)
        else:
            merged.append([lo, hi])
    return [(lo, hi) for lo, hi in merged]


def union_length(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Length of the union of ``intervals``, clipped to ``[lo, hi]``."""
    total = 0.0
    for a, b in merge_intervals(intervals):
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        total += max(b - a, 0.0)
    return total


def outside_time(start: float, end: float, busy) -> float:
    """Part of ``[start, end]`` that no interval of ``busy`` covers (the
    driver time outside any Spark job)."""
    return max(end - start - union_length(busy, start, end), 0.0)


def busy_cores(executor_run_s: float, job_intervals) -> float:
    """Mean executor cores busy while any job ran."""
    wall = union_length(job_intervals)
    return executor_run_s / wall if wall > 0 else 0.0


def self_times(spans) -> dict[str, float]:
    """Total self time per span name: each span's duration minus the
    part of it that its child spans cover."""
    children: dict[object, list[tuple[float, float]]] = defaultdict(list)
    for _sid, _name, start, end, parent in spans:
        if parent is not None:
            children[parent].append((start, end))
    out: dict[str, float] = defaultdict(float)
    for sid, name, start, end, _parent in spans:
        out[name] += end - start - union_length(children.get(sid, ()), start, end)
    return dict(out)


def geomean_of_medians(groups: dict[str, list[float]]) -> float:
    """Median of each group's samples, geometric mean over the groups
    that have samples.  A pooled median over a few operations of close
    latency jumps between them from run to run; this does not."""
    meds = [statistics.median(v) for v in groups.values() if v]
    if not meds:
        raise ValueError("no latency samples")
    return math.exp(statistics.fmean(math.log(m) for m in meds))


def error_rate(failed: int, attempted: int) -> float:
    """Failed operations over attempted ones; every attempted operation
    that raised or failed its correctness check counts as failed."""
    if attempted < 1:
        raise ValueError("error rate over zero attempts")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted


def quartile_spread(values: list[float]) -> float:
    """Distance between first and third quartile as a share of the median
    (``statistics.quantiles(values, n=4)``)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else math.inf
