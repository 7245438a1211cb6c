"""Statistics the benchmark reports: medians and quartiles, and span
arithmetic (self time, queue wait)."""

from __future__ import annotations

import statistics
from typing import Iterable, Sequence


def median(xs: Sequence[float]) -> float:
    if not xs:
        raise ValueError("median of no samples")
    return float(statistics.median(xs))


def quartiles(xs: Sequence[float]) -> tuple[float, float, float]:
    """(q1, median, q3) exactly as ``statistics.quantiles(xs, n=4)``."""
    if len(xs) < 2:
        raise ValueError("quartiles need at least two samples")
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return float(q1), float(q2), float(q3)


def iqr_frac(xs: Sequence[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median: the run-to-run spread a bound is compared against."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2


def covered(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> float:
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


def self_time(start: float, end: float, children: Iterable[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its child spans cover."""
    return (end - start) - covered(children, start, end)


def queue_waits_ms(
    done: Sequence[float], latencies_ms: Sequence[float], jobs: Sequence[tuple[float, float]]
) -> list[float]:
    """Time each request spent outside the job that answered it: its
    latency minus that job's duration. The answering job is the one whose
    end is the latest at or before the request's completion."""
    ends = sorted(jobs, key=lambda j: j[1])
    out = []
    for t, lat in zip(done, latencies_ms):
        job = None
        for a, b in ends:
            if b <= t:
                job = (a, b)
            else:
                break
        if job is not None:
            out.append(max(0.0, lat - (job[1] - job[0]) * 1000.0))
    return out
