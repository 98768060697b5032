"""The benchmark's own arithmetic, kept free of Spark so it can be
tested on canned inputs (``test_arith.py``)."""

from __future__ import annotations

import bisect
import math

# Percentiles tried for a tail figure, highest first.
TAIL_PERCENTILES = (99, 90, 75)
MIN_BEYOND = 10


def percentile(values, p: float) -> float:
    """Nearest-rank percentile: the smallest value with at least p % of the
    sample at or below it."""
    if not values:
        raise ValueError("percentile of an empty sample")
    s = sorted(values)
    rank = max(1, math.ceil(p / 100 * len(s)))
    return s[rank - 1]


def median(values) -> float:
    s = sorted(values)
    if not s:
        raise ValueError("median of an empty sample")
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def beyond(n: int, p: float) -> int:
    """How many of ``n`` samples lie above the nearest-rank p-th percentile."""
    return n - max(1, math.ceil(p / 100 * n))


def tail(values) -> tuple[int, float]:
    """The highest percentile among ``TAIL_PERCENTILES`` with at least
    ``MIN_BEYOND`` samples beyond it, as (percentile, value). A sample too
    small for any of them reports its median as percentile 50."""
    for p in TAIL_PERCENTILES:
        if beyond(len(values), p) >= MIN_BEYOND:
            return p, percentile(values, p)
    return 50, median(values)


def batch_of_offsets(batches: list[dict], pid: str, n_events: int) -> list[int]:
    """For each offset ``0..n_events-1`` of partition ``pid``, the index in
    ``batches`` (ordered by batch id) of the micro-batch that read it, or -1
    if none did. A batch reads ``[start, end)`` of each partition, so an
    offset belongs to the first batch whose end offset exceeds it."""
    ends = [b["end"].get(pid, 0) for b in batches]
    out = []
    for off in range(n_events):
        i = bisect.bisect_right(ends, off)
        out.append(i if i < len(batches) else -1)
    return out


def emit_latencies_ms(batches: list[dict], sched_ms: dict[str, list[int]],
                      window: tuple[int, int]) -> tuple[list[float], int]:
    """Per-event emit latency: end of the micro-batch that read the event
    (and so emitted its candle update) minus the event's scheduled creation
    time. Only events scheduled in ``[window[0], window[1])`` count. Returns
    (latencies, number of counted events no batch read)."""
    lat: list[float] = []
    missing = 0
    for pid, sched in sched_ms.items():
        owner = batch_of_offsets(batches, pid, len(sched))
        for off, s in enumerate(sched):
            if not window[0] <= s < window[1]:
                continue
            i = owner[off]
            if i < 0:
                missing += 1
            else:
                lat.append(batches[i]["end_ms"] - s)
    return lat, missing


def backlog_events(written: list[tuple[float, int]], batches: list[dict]) -> list[int]:
    """Per batch: events the generator had written by the batch's end, minus
    the batch's end offsets summed over partitions. ``written`` is the
    generator's (time_ms, cumulative events) timeline in time order."""
    times = [t for t, _ in written]
    out = []
    for b in batches:
        i = bisect.bisect_right(times, b["end_ms"]) - 1
        produced = written[i][1] if i >= 0 else 0
        out.append(max(0, produced - sum(b["end"].values())))
    return out
