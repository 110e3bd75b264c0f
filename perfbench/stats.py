"""Summary helpers: percentiles, rates and span self time.

Kept free of Spark so the self-test can check them on hand-made data.
"""

from __future__ import annotations

import math
import statistics
from collections import defaultdict


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..100): the smallest sample with
    at least q% of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(q / 100 * len(ordered)))
    return ordered[rank - 1]


def tail_supported(n: int, q: float, beyond: int = 10) -> bool:
    """Whether ``n`` samples leave at least ``beyond`` of them above the
    q-th percentile, the condition for reporting that percentile."""
    return n - math.ceil(q / 100 * n) >= beyond


def rate(count: float, seconds: float) -> float:
    if seconds <= 0:
        raise ValueError("rate over a non-positive interval")
    return count / seconds


def spread(values: list[float]) -> float:
    """Interquartile distance as a share of the median, the steadiness
    figure (``statistics.quantiles`` default method, as the acceptance
    check computes it)."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of (start, end) intervals."""
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


def self_times(spans: list[dict]) -> list[float]:
    """Per span: its duration minus the part of it covered by its child
    spans. Children are recorded on their parent's thread, so a span
    that fans work out to other threads keeps that time as its own,
    while the worker-thread spans are roots of their own threads."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    return [
        (s["end"] - s["start"]) - union_length(children.get(i, []))
        for i, s in enumerate(spans)
    ]
