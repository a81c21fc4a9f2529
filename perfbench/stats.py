"""Pure bookkeeping for the benchmark: spans, percentiles, self time and job
attribution. No Spark import, so the logic is testable on its own
(``python3 -m pytest perfbench/tests``)."""

from __future__ import annotations

import math
import statistics
from dataclasses import dataclass


@dataclass
class Span:
    """One timed interval at a layer boundary. Spans of one operation share
    ``op_id``; ``parent`` is the index of the enclosing span (None for the
    operation's root span)."""

    name: str
    start: float
    end: float
    op_id: int
    parent: int | None = None

    @property
    def dur(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]; overlapping
    intervals count once."""
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


def self_time(spans: list[Span], idx: int) -> float:
    """A span's duration minus the part of it that its child spans cover."""
    s = spans[idx]
    kids = [(c.start, c.end) for c in spans if c.parent == idx]
    return s.dur - covered(kids, s.start, s.end)


def tail_percentile(n: int, beyond: int = 10) -> int | None:
    """Highest whole percentile p such that at least ``beyond`` of ``n``
    samples lie above the p-th percentile's nearest-rank sample, or None
    when ``n`` is too small for any percentile to qualify."""
    for p in range(99, 0, -1):
        rank = math.ceil(p / 100 * n)  # nearest-rank, 1-based
        if rank >= 1 and n - rank >= beyond:
            return p
    return None


def percentile(values: list[float], p: int) -> float:
    """Nearest-rank percentile (the sample at rank ceil(p/100 * n))."""
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100 * len(xs)))
    return xs[rank - 1]


def tail(values: list[float], beyond: int = 10) -> tuple[int | None, float | None]:
    """(percentile, value) of the highest percentile with at least
    ``beyond`` samples beyond it; (None, None) when there are too few."""
    p = tail_percentile(len(values), beyond)
    return (p, percentile(values, p)) if p is not None else (None, None)


def pass_time(latencies: dict[str, list[float]]) -> float:
    """Estimated wall time of one pass over the workload: the sum over
    operations of each one's median latency. Robust to a time window that
    ends part-way through a pass."""
    return sum(statistics.median(v) for v in latencies.values() if v)


def attribute_jobs(
    job_ids: list[int], groups: dict[str, set[int]]
) -> tuple[dict[str, int], int]:
    """Split the jobs launched during an operation (``job_ids``, the job-ID
    delta) into per-group counts and the unattributed rest. Each job counts
    once, under the first group that claims it, so the parts always add up to
    ``len(job_ids)``."""
    left = set(job_ids)
    counts = {}
    for name, ids in groups.items():
        mine = left & set(ids)
        counts[name] = len(mine)
        left -= mine
    return counts, len(left)


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with quartiles as ``statistics.quantiles(n=4)``
    gives them: the steadiness figure the benchmark is tuned against."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")
