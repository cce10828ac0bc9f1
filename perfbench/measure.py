"""Pure measurement rules of the benchmark (no Spark, no I/O).

Every rule the benchmark reports with lives here so the unit tests in
``perfbench/tests`` pin it:

- ``hd_median``: the Harrell-Davis median, the estimator of
  ``latency_p50_ms``;
- ``tail_percentile``: the highest percentile with at least ten samples
  beyond it;
- ``geomean_of_medians``: each operation type's median, then the
  geometric mean over types, so every type weighs once;
- ``self_time``: a span's duration minus the part of it its children
  cover;
- ``attribute_jobs``: Spark jobs to operations, by job group and else by
  the operation's time window;
- ``quartile_spread``: the run-to-run spread the bounds are set from.
"""

from __future__ import annotations

import math
import statistics
from collections.abc import Iterable, Sequence

import numpy as np

#: Samples that must lie beyond the reported tail percentile.
TAIL_BEYOND = 10


def median(values: Sequence[float]) -> float:
    return float(statistics.median(values))


def hd_median(values: Sequence[float]) -> float:
    """Harrell-Davis estimate of the median: a weighted mean of all order
    statistics, the i-th of n weighted by the Beta((n+1)/2, (n+1)/2)
    probability of ((i-1)/n, i/n]. Where the sample has a gap at its
    middle (a mix of fast and slow operation types), the plain median
    jumps across the gap from run to run; this estimate moves smoothly."""
    s = np.sort(np.asarray(values, dtype=float))
    n = len(s)
    if n == 0:
        raise ValueError("no samples")
    if n == 1:
        return float(s[0])
    a = (n + 1) / 2.0
    x = np.linspace(0.0, 1.0, 20001)
    with np.errstate(divide="ignore"):
        pdf = np.exp((a - 1) * (np.log(x) + np.log1p(-x)))
    cdf = np.concatenate(([0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2)))
    cdf /= cdf[-1]
    edges = np.interp(np.arange(n + 1) / n, x, cdf)
    return float(np.dot(np.diff(edges), s))


def tail_percentile(n: int, beyond: int = TAIL_BEYOND) -> int | None:
    """The highest whole percentile p such that at least ``beyond`` of
    ``n`` samples lie strictly above the p-th percentile's rank, or None
    when ``n`` is too small for any percentile above the median.

    With nearest-rank percentiles the p-th percentile is sample
    ``ceil(p/100 * n)`` (1-based, ascending); ``n - rank`` samples lie
    beyond it."""
    best = None
    for p in range(50, 100):
        rank = max(1, math.ceil(p / 100 * n))
        if n - rank >= beyond:
            best = p
    return best


def percentile(values: Sequence[float], p: int) -> float:
    """Nearest-rank percentile (the rank ``tail_percentile`` reasons in)."""
    s = sorted(values)
    return float(s[max(1, math.ceil(p / 100 * len(s))) - 1])


def geomean_of_medians(samples: Iterable[tuple[str, float]]) -> float:
    """Geometric mean over operation types of each type's median."""
    by_type: dict[str, list[float]] = {}
    for name, value in samples:
        by_type.setdefault(name, []).append(value)
    if not by_type:
        raise ValueError("no samples")
    logs = [math.log(median(v)) for v in by_type.values()]
    return math.exp(sum(logs) / len(logs))


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by a set of [start, end] intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start: float, end: float, children: Iterable[tuple[float, float]]) -> float:
    """Duration of [start, end] not covered by any child interval (children
    are clipped to the parent, and overlapping children count once)."""
    clipped = [
        (max(s, start), min(e, end)) for s, e in children if e > start and s < end
    ]
    return (end - start) - union_length(clipped)


def attribute_jobs(
    jobs: Sequence[dict], ops: Sequence[dict]
) -> tuple[dict[str, list[dict]], int, int]:
    """Assign Spark jobs to operations.

    ``jobs``: dicts with ``start`` (submission time) and ``group`` (the job
    group, or None). ``ops``: dicts with ``id``, ``start`` and ``end``, in
    the clock of the jobs. A job whose group names an operation belongs to
    it; because the client is single and closed-loop, a job without a group
    that starts inside an operation's window belongs to that operation too.

    Returns (jobs per operation id, jobs without a group, jobs belonging to
    no operation)."""
    by_op: dict[str, list[dict]] = {o["id"]: [] for o in ops}
    windows = sorted((o["start"], o["end"], o["id"]) for o in ops)
    ungrouped = orphans = 0
    for job in jobs:
        group = job.get("group")
        if group in by_op:
            by_op[group].append(job)
            continue
        if group is None:
            ungrouped += 1
        owner = next(
            (oid for s, e, oid in windows if s <= job["start"] <= e), None
        )
        if owner is None:
            orphans += 1
        else:
            by_op[owner].append(job)
    return by_op, ungrouped, orphans


def quartile_spread(values: Sequence[float]) -> tuple[float, float, float, float]:
    """(median, first quartile, third quartile, (Q3 - Q1) / median), with
    the quartiles as ``statistics.quantiles(values, n=4)`` gives them."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = median(values)
    return med, q1, q3, (q3 - q1) / med
