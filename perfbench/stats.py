"""Spark-free arithmetic of the benchmark: latency summaries, the
tail-percentile rule and span self time."""

from __future__ import annotations

import statistics
from collections.abc import Sequence
from dataclasses import dataclass

#: a reported tail percentile must have at least this many samples
#: above it, so one slow outlier cannot be the whole tail
TAIL_MIN_BEYOND = 10


def tail(samples: Sequence[float]) -> tuple[float, float, int]:
    """The highest percentile that still has ``TAIL_MIN_BEYOND``
    samples beyond it, but never below the median:
    ``(value, percentile, n)``.

    Sorted ascending, the sample at index ``n - 1 - TAIL_MIN_BEYOND``
    has exactly ``TAIL_MIN_BEYOND`` samples above it; it sits at
    percentile ``100 * (n - TAIL_MIN_BEYOND) / n``. When that is 50 or
    lower (``2 * TAIL_MIN_BEYOND`` samples or fewer), a tail at or
    under the median says nothing about slow ops, so the median is
    returned at percentile 50."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    pct = 100.0 * (n - TAIL_MIN_BEYOND) / n
    if pct <= 50.0:
        return statistics.median(xs), 50.0, n
    return xs[n - 1 - TAIL_MIN_BEYOND], pct, n


@dataclass
class Summary:
    """End-to-end figures of one measured run of one workload."""

    n: int
    busy_s: float
    p50_s: float
    tail_s: float
    tail_pct: float
    ops_per_s: float
    rows_per_s: float


def summarize(latencies: Sequence[float], rows: int,
              kinds: Sequence[str] | None = None) -> Summary:
    """``latencies`` of completed ops (closed loop, one client) and
    the ``rows`` they committed or scanned. Rates are per second of
    timed op wall time, so untimed output checks between ops never
    dilute them.

    With ``kinds`` (each op's kind, in step with ``latencies``) the
    latency figures are those of a cycle of one op of each kind: the
    sums of every kind's median and of every kind's tail, so each kind
    weighs the same however cheap it is; the tail percentile is the
    lowest of the kinds'."""
    if not latencies:
        raise ValueError("no completed ops")
    busy = float(sum(latencies))
    if kinds is None:
        p50 = statistics.median(latencies)
        value, pct, n = tail(latencies)
    else:
        by_kind: dict[str, list[float]] = {}
        for k, x in zip(kinds, latencies, strict=True):
            by_kind.setdefault(k, []).append(x)
        tails = [tail(v) for v in by_kind.values()]
        p50 = sum(statistics.median(v) for v in by_kind.values())
        value = sum(t[0] for t in tails)
        pct = min(t[1] for t in tails)
        n = len(latencies)
    return Summary(
        n=n,
        busy_s=busy,
        p50_s=p50,
        tail_s=value,
        tail_pct=pct,
        ops_per_s=n / busy,
        rows_per_s=rows / busy,
    )


def covered(intervals: Sequence[tuple[float, float]]) -> float:
    """Total length of the union of ``(start, end)`` intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        elif e > cur_e:
            cur_e = e
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start: float, end: float,
              children: Sequence[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its child spans cover
    (children clipped to the parent, overlaps counted once)."""
    clipped = [
        (max(s, start), min(e, end)) for s, e in children if e > start and s < end
    ]
    return (end - start) - covered(clipped)


def spread(values: Sequence[float]) -> float:
    """Inter-quartile distance as a share of the median — the
    steadiness figure for repeated runs of one metric."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
