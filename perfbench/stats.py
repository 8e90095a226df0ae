"""Summary statistics and Spark event-log accounting for the benchmark.

Pure functions only (no Spark import), so the tests exercise them
without a session.
"""

from __future__ import annotations

import json
import math
import statistics

# Tail percentiles tried from the highest down; the reported tail is
# the highest one that still has at least MIN_BEYOND samples above it.
TAIL_LADDER = (99.0, 95.0, 90.0, 80.0, 75.0, 50.0)
MIN_BEYOND = 10


def median(values) -> float:
    return float(statistics.median(values))


def percentile(values, pct: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``pct`` percent of the samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(pct / 100.0 * len(xs)))
    return float(xs[rank - 1])


def tail_percentile(n: int) -> float | None:
    """The highest percentile in TAIL_LADDER with at least MIN_BEYOND of
    ``n`` samples beyond it (``None`` when not even the median has)."""
    for pct in TAIL_LADDER:
        if n - math.ceil(pct / 100.0 * n) >= MIN_BEYOND:
            return pct
    return None


def summarize(values) -> dict[str, float]:
    """Median, the tail percentile the sample count supports, and the
    sample count itself."""
    n = len(values)
    pct = tail_percentile(n)
    return {
        "p50": percentile(values, 50.0),
        "tail": percentile(values, pct) if pct is not None else max(values),
        "tail_pct": pct if pct is not None else 100.0,
        "samples": n,
    }


def union_length(intervals) -> float:
    """Total length covered by a set of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
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


def read_event_log(path: str) -> dict[str, list]:
    """Jobs ``(submit_ms, end_ms)`` and per-task shuffle-write bytes
    ``(finish_ms, bytes)`` from an uncompressed Spark event log."""
    starts: dict[int, int] = {}
    jobs, shuffle = [], []
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                starts[ev["Job ID"]] = ev["Submission Time"]
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in starts:
                    jobs.append((starts[ev["Job ID"]], ev["Completion Time"]))
            elif kind == "SparkListenerTaskEnd":
                metrics = ev.get("Task Metrics") or {}
                wrote = (metrics.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                if wrote:
                    shuffle.append((ev["Task Info"]["Finish Time"], wrote))
    return {"jobs": jobs, "shuffle": shuffle}


def window_accounting(log: dict[str, list], start_ms: float, end_ms: float):
    """Job count, job-busy seconds (union of job intervals clipped to
    the window), driver-gap seconds (window wall minus that union) and
    shuffle bytes written, for one timed window of wall-clock ms."""
    inside = [
        (max(s, start_ms), min(e, end_ms))
        for s, e in log["jobs"]
        if s < end_ms and e > start_ms
    ]
    busy = union_length(inside) / 1000.0
    wall = (end_ms - start_ms) / 1000.0
    return {
        "jobs": sum(1 for s, _ in log["jobs"] if start_ms <= s < end_ms),
        "job_s": busy,
        "driver_gap_s": max(0.0, wall - busy),
        "shuffle_bytes": sum(
            b for t, b in log["shuffle"] if start_ms <= t < end_ms
        ),
    }
