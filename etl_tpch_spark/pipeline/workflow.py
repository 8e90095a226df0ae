"""One-call pipeline cycle — the engine-side equivalent of the
reference's Prefect deployment set (workflow.py:12-39).

The reference schedules five flows at fixed intervals (generate 15 min,
ingest 15 min, compact 6 h, reduce 24 h, dashboard 5 min).  Scheduling
belongs to the caller's orchestrator (cron/Airflow/Prefect — all can
call a Python function); what the engine owes is the *stage graph* with
correct ordering and idempotence.  ``run_cycle`` executes one tick of
every stage; per-stage booleans reproduce the differing cadences
(e.g. ``compact=`` every 24th call ≙ 6 h vs 15 min).

The streaming variant of ingest (exactly-once, no consume-and-delete)
is used when a checkpoint dir is supplied; otherwise the batch path
mirrors the reference's delete-after-write.  The streaming drains of
one tick run concurrently, the quality gate and the reduce read the
tables with their declared schemas, and the reduce publishes the gold
zone atomically: ``results`` is a symlink to the current
``.results-<uuid>`` generation (POSIX filesystems), which
:func:`results_ready` and the dashboards resolve once per read.

The quality gate is one pass over ``orders`` (``quality.check_key``).
On a tick with a reduce it runs in a thread beside the reduce: a
failed expectation is reported, never blocks the publish, so nothing
waits on the gate until the tick ends.  On a tick without one (most
:func:`serve_loop` ticks) it runs alone, inline.  Compaction runs
first, so the gate never reads a table whose directory is being
swapped.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone
from typing import Any

from pyspark.sql import SparkSession
from pyspark.util import InheritableThread

from ..schemas import LIVE
from .compact import compact_all
from .generate import incrementalize
from .ingest import ingest_all
from .reduce import SEGMENTS, query_reduce


def run_cycle(
    spark: SparkSession,
    source_dir: str,
    root_dir: str,
    *,
    now: datetime,
    generate: bool = True,
    ingest: bool = True,
    compact: bool = False,
    reduce: bool = False,
    checkpoint: bool = True,
    quality_gate: bool = False,
    key_fn: str = "hash",
    k: int = 50,
) -> dict[str, Any]:
    """Run one micro-batch tick over the medallion zones rooted at
    ``root_dir`` (staging/ processed/ results/ checkpoints/; results is
    a symlink to the current gold generation).  Returns a stage →
    outcome summary."""
    staging = os.path.join(root_dir, "staging")
    processed = os.path.join(root_dir, "processed")
    results = os.path.join(root_dir, "results")
    out: dict[str, Any] = {}

    if generate:
        out["generate"] = incrementalize(
            spark, source_dir, staging, now=now, key_fn=key_fn
        )
    if ingest:
        if checkpoint:
            from ..streaming.ingest import stream_ingest_all

            qmap = stream_ingest_all(
                spark,
                staging,
                processed,
                os.path.join(root_dir, "checkpoints"),
            )
            out["ingest"] = sorted(qmap)
        else:
            out["ingest"] = ingest_all(
                spark, staging, processed, delete_after=True
            )
    if compact:
        out["compact"] = compact_all(spark, processed)
    gate = rows = None
    orders_path = os.path.join(processed, "orders")
    if quality_gate and os.path.exists(orders_path):
        # post-ingest expectations on the dynamic tables (DLT-style:
        # a failed expectation is reported, the caller decides policy)
        from .quality import check_key

        def report() -> list:
            return check_key(
                spark.read.schema(LIVE["orders"]).parquet(orders_path),
                "o_orderkey", "o_custkey",
            ).collect()

        # beside the reduce when the tick has one, else alone, inline
        if reduce:
            gate = _Background(spark, report)
        else:
            rows = report()
    try:
        if reduce:
            out["reduce"] = query_reduce(
                spark, processed, results, cutoff=now, k=k
            )
    finally:
        # no thread outlives the tick, and a failed reduce's error wins
        # over the gate's, which result() raises once the reduce is done
        if gate is not None:
            gate.join()
    if gate is not None:
        rows = gate.result()
    if rows is not None:
        out["quality"] = {
            r.check_name: (r.n_violations, r.passed) for r in rows
        }
    return out


class _Background(InheritableThread):
    """Run ``fn()`` in a thread that inherits the caller's Spark job
    group, job tags and local properties; :meth:`result` joins it and
    returns ``fn``'s value or raises its error."""

    def __init__(self, spark: SparkSession, fn) -> None:
        self._value = self._error = None

        def run() -> None:
            try:
                self._value = fn()
            except BaseException as exc:  # re-raised by result()
                self._error = exc

        super().__init__(run, session=spark, daemon=True)
        self.start()

    def result(self) -> Any:
        self.join()
        if self._error is not None:
            raise self._error
        return self._value


def serve_loop(
    spark: SparkSession,
    source_dir: str,
    root_dir: str,
    *,
    ticks: int,
    interval_s: float = 0.0,
    compact_every: int = 24,
    reduce_every: int = 96,
    now_fn=None,
    **cycle_kwargs: Any,
) -> list[dict[str, Any]]:
    """Interval scheduling daemon — the engine-side twin of the
    reference's five Prefect deployments on timers (workflow.py:12-39).

    Runs ``ticks`` cycles, sleeping ``interval_s`` between them (one
    tick ≙ the reference's 15-min generate/ingest cadence).  The slower
    cadences fire on tick multiples exactly like the reference's
    schedule ratios: compact every 24 ticks (6 h / 15 min) and reduce
    every 96 ticks (24 h / 15 min), both also on the first tick so a
    fresh lake reaches a served state immediately.  Returns the
    per-tick stage summaries.  ``ticks`` bounds the loop (pass a large
    value for an effectively-unattended daemon; cron re-invocation is
    the crash-resilient production form — every stage is idempotent)."""
    import time

    now_fn = now_fn or (
        lambda: datetime.now(timezone.utc).replace(tzinfo=None)
    )
    outs: list[dict[str, Any]] = []
    for tick in range(ticks):
        out = run_cycle(
            spark,
            source_dir,
            root_dir,
            now=now_fn(),
            compact=tick % compact_every == 0,
            reduce=tick % reduce_every == 0,
            **cycle_kwargs,
        )
        out["tick"] = tick
        out["ready"] = results_ready(os.path.join(root_dir, "results"))
        outs.append(out)
        if interval_s and tick + 1 < ticks:
            time.sleep(interval_s)
    return outs


def results_ready(
    results_dir: str, segments: tuple[str, ...] = SEGMENTS
) -> bool:
    """Health check ≙ the reference's dashboard flow (dashboard.py:24-32
    waits until all 5 segment result files exist): True once every
    segment's gold parquet is present and non-empty.  The gold zone is
    resolved once (``results`` is a symlink that each reduce flips to a
    new generation), so every segment is checked in the same one."""
    gen = os.path.realpath(results_dir)
    for seg in segments:
        path = os.path.join(gen, f"{seg.lower()}.snappy.parquet")
        if not os.path.isdir(path):
            return False
        if not any(f.endswith(".parquet") for f in os.listdir(path)):
            return False
    return True
