"""Aggregation used by the benchmark: medians, percentiles with their
sample counts, self time from spans and failure shares. No Spark here.
"""

from __future__ import annotations

import math
import statistics
from collections.abc import Iterable, Mapping, Sequence

# a percentile is reported only if at least this many samples lie beyond it
SAMPLES_BEYOND = 10


median = statistics.median  # raises StatisticsError, a ValueError, on no samples


def spread(values: Sequence[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median (``statistics.quantiles(values, n=4)``)."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / median(values)


def supported_percentile(n: int) -> int | None:
    """Highest whole percentile with at least ``SAMPLES_BEYOND`` of ``n``
    samples above it, or None when ``n`` cannot support even the median."""
    if n < 2 * SAMPLES_BEYOND:
        return None
    return math.floor(100 * (n - SAMPLES_BEYOND) / n)


def percentile(values: Sequence[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``
    percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100 * len(ordered)))
    return ordered[rank - 1]


def sum_of_medians(latencies: Mapping[str, Sequence[float]]) -> float:
    """Sum over queries of each query's median latency."""
    return sum(median(v) for v in latencies.values())


def failed_frac(failed: int, attempted: int) -> float:
    if attempted < 1:
        raise ValueError("no operations attempted")
    return failed / attempted


def uncovered(start: float, end: float, intervals: Iterable[tuple[float, float]]) -> float:
    """Length of ``[start, end]`` that no interval covers."""
    covered = 0.0
    cursor = start
    for a, b in sorted((max(a, start), min(b, end)) for a, b in intervals):
        if b <= cursor or b <= a:
            continue
        covered += b - max(a, cursor)
        cursor = b
    return (end - start) - covered


def self_times(spans: Iterable[Mapping]) -> dict[str, float]:
    """Total self time per span name: each span's duration minus the part
    of it that its child spans cover. Spans are mappings with ``id``,
    ``parent``, ``name``, ``start`` and ``end``."""
    spans = list(spans)
    children: dict[object, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        own = uncovered(s["start"], s["end"], children.get(s["id"], ()))
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out
