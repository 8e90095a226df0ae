"""Workload ``lake_ticks``: the medallion micro-batch tick.

Each tick stages one batch from the generated source tables with
``incrementalize`` (the load generator, untimed, reported as
``lake.generate_s``) and then times the freshness path from a staged
batch to gold results:
``run_cycle(generate=False, quality_gate=True, reduce=True)`` -
streaming ingest, the quality expectations and the per-segment reduce.
The tick clock is synthetic, ``now = 2024-01-01 + 15 min x tick``, and
sets the reduce cutoff, so no wall time reaches the engine.  One
client, closed loop, a fixed tick count; the lake grows every tick.

Correctness per tick: every quality expectation passes and
``results_ready()`` is true; anything else, or an exception, is a
failed operation.

In a traced run the ticks alternate (A B B A) between ``run_cycle`` and
an instrumented tick that calls ``stream_ingest_all``,
``run_expectations`` and ``query_reduce`` directly, timing each and
reading the streaming progress of the ingest queries; event-log
figures come from the plain ticks only.  After the ticks, the traced
run also runs the daily crawl-tick sequence of ``crawl_days.py`` for
its txlog, compaction and vacuum layers.
"""

from __future__ import annotations

import math
import os
import sys
import time
from datetime import datetime, timedelta

import crawl_days
import stats
from worker import abba, du

BASE = datetime(2024, 1, 1)
# StreamingQueryProgress.durationMs keys -> metric name stems
PROGRESS = {"queryPlanning": "query_planning", "addBatch": "add_batch",
            "walCommit": "wal_commit"}


def _instrumented_tick(spark, root, now):
    """The body of ``run_cycle`` for this configuration, stage by stage."""
    from etl_tpch_spark.pipeline.quality import (
        check_not_null,
        check_unique,
        run_expectations,
    )
    from etl_tpch_spark.pipeline.reduce import query_reduce
    from etl_tpch_spark.streaming.ingest import stream_ingest_all

    processed = os.path.join(root, "processed")
    t0 = time.time()
    queries = stream_ingest_all(
        spark,
        os.path.join(root, "staging"),
        processed,
        os.path.join(root, "checkpoints"),
    )
    t1 = time.time()
    odf = spark.read.parquet(os.path.join(processed, "orders"))
    report = run_expectations([
        check_not_null(odf, "o_orderkey"),
        check_not_null(odf, "o_custkey"),
        check_unique(odf, "o_orderkey"),
    ]).collect()
    t2 = time.time()
    query_reduce(spark, processed, os.path.join(root, "results"),
                 cutoff=now, k=50)
    t3 = time.time()
    split = {"lake.ingest_s": t1 - t0, "lake.quality_s": t2 - t1,
             "lake.reduce_s": t3 - t2, "streaming.rows": 0}
    for stem in PROGRESS.values():
        split[f"streaming.{stem}_ms"] = 0
    for q in queries.values():
        for p in q.recentProgress:
            split["streaming.rows"] += p.numInputRows
            for key, stem in PROGRESS.items():
                split[f"streaming.{stem}_ms"] += p.durationMs.get(key, 0)
    return {r.check_name: r.passed for r in report}, split


def run(run) -> dict:
    spec = run.spec
    n_ticks = max(spec["min_ticks"], math.ceil(
        run.seconds / spec["nominal_tick_s"]))
    if run.trace:
        n_ticks = max(5, n_ticks)
    spark = run.start_session()
    from etl_tpch_spark.pipeline.generate import incrementalize
    from etl_tpch_spark.pipeline.workflow import results_ready, run_cycle

    root = os.path.join(run.work, "lake")
    staging = os.path.join(root, "staging")
    # tick 0 is the cold tick; the rest alternate in a traced run
    kinds = [False] + (abba(n_ticks - 1) if run.trace else
                       [False] * (n_ticks - 1))
    layers: dict[str, float] = {}
    steps, walls, gens, splits = [], [], [], []
    failed, attempted = 0, 0
    for tick, instrument in enumerate(kinds):
        now = BASE + timedelta(minutes=15 * tick)
        if run.trace and tick == 1:  # bracket the warm ticks only
            layers["box.probe_s"] = run.probe()
        g = time.time()
        incrementalize(spark, run.fixture, staging, now=now,
                       seed=run.seed * 1000 + tick)
        gens.append(time.time() - g)
        run.first_op()
        attempted += 1
        g0, t0 = run.gc_seconds(), time.time()
        try:
            if instrument:
                checks, split = _instrumented_tick(spark, root, now)
                splits.append(split)
            else:
                out = run_cycle(spark, run.fixture, root, now=now,
                                generate=False, quality_gate=True,
                                reduce=True)
                checks = {k: v[1] for k, v in out["quality"].items()}
        except Exception as exc:  # a failed tick must not stop the run
            print(f"# lake_ticks failure: tick {tick}: {exc!r}",
                  file=sys.stderr)
            failed += 1
            continue
        t1 = time.time()
        walls.append((instrument, t1 - t0))
        if tick and not instrument:  # event-log figures: plain ticks only
            steps.append({"t0": t0, "t1": t1,
                          "gc_s": run.gc_seconds() - g0})
        ready = results_ready(os.path.join(root, "results"))
        if not (ready and checks and all(checks.values())):
            print(f"# lake_ticks failure: tick {tick}: checks={checks} "
                  f"ready={ready}", file=sys.stderr)
            failed += 1
    if run.trace:
        layers["box.probe_after_s"] = run.probe()

    plain = [w for inst, w in walls[1:] if not inst]
    print(f"# lake ticks: {[round(w, 3) for _, w in walls]} "
          f"generate: {[round(g, 3) for g in gens]}", file=sys.stderr)
    result = {
        "attempted": attempted,
        "failed": failed,
        "end_to_end": {"cold_s": walls[0][1], "step_s": stats.median(plain)},
        "layers": layers,
        "steps": steps,
    }
    if run.trace:
        for key in splits[0]:
            layers[key] = stats.median([s[key] for s in splits])
        lake_files, lake_bytes = du(os.path.join(root, "processed"))
        _, input_bytes = du(staging)
        layers.update({
            "lake.generate_s": stats.median(gens),
            "lake.files": lake_files,
            "lake.bytes_per_input_byte": lake_bytes / input_bytes,
            "trace.step_s": stats.median(plain),
            "trace.split_overhead_s": stats.median(
                [w for inst, w in walls[1:] if inst]
            ) - stats.median(plain),
        })
        # the daily crawl tick's layers, after the lake's timed ticks
        crawl = crawl_days.run_days(run)
        result["attempted"] += crawl["attempted"]
        result["failed"] += crawl["failed"]
        layers.update(crawl["layers"])
    return result
