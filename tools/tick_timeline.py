"""Warm-tick job timeline and the reduce's final plan, from an event log.

    python3 tools/tick_timeline.py --out DIR [--sf-dir /root/testdata/sf0.01]

Grows a lake of ``TICKS`` ticks in a temporary directory (deleted
afterwards) the way perfbench's ``lake_ticks`` workload does: each
tick stages one batch with ``incrementalize`` (untimed), then runs
``run_cycle(generate=False, quality_gate=True, reduce=True)`` on a
15-minute synthetic clock.  The session writes an uncompressed Spark
event log, from which the script writes to DIR:

- ``timeline.json``: every Spark job submitted during the last tick's
  ``run_cycle``, with its id, job group, submission and completion in
  seconds from the tick's start, and its result stage's call site
  (``timeline``); and the tick's wall, job count, job-busy time,
  driver gap and shuffle bytes, counted as perfbench's traced run
  counts them (``perfbench/stats.py`` ``window_accounting``);
- ``reduce_plan.txt``: the final adaptive plan of the last tick's gold
  write (the SQL execution whose plan holds the ``row_number`` window).

It calls only ``incrementalize`` and ``run_cycle``, so the same script
runs on older checkouts of the engine.  Run from the root of a
checkout.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import shutil
import sys
import tempfile
import time
from datetime import datetime, timedelta

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import stats  # noqa: E402
from etl_tpch_spark.pipeline.generate import incrementalize  # noqa: E402
from etl_tpch_spark.pipeline.workflow import run_cycle  # noqa: E402
from etl_tpch_spark.session import get_spark  # noqa: E402

BASE = datetime(2024, 1, 1)
TICKS = 4


def _call_site(name: str) -> str:
    """``collect at /a/b/workflow.py:98`` -> ``collect at workflow.py:98``."""
    return re.sub(r"\S*/", "", name)


def read_tick(log: str, t0_ms: float, t1_ms: float) -> tuple[dict, str]:
    """The timeline of the jobs submitted in ``[t0_ms, t1_ms)`` and the
    last plan of the window's ``row_number`` SQL execution."""
    jobs, plans, started = {}, {}, {}
    with open(log, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                result = max(ev["Stage Infos"], key=lambda s: s["Stage ID"])
                jobs[ev["Job ID"]] = {
                    "job": ev["Job ID"],
                    "group": props.get("spark.jobGroup.id"),
                    "start_s": (ev["Submission Time"] - t0_ms) / 1000,
                    "call_site": _call_site(result["Stage Name"]),
                }
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end_s"] = (
                    ev["Completion Time"] - t0_ms) / 1000
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                started[ev["executionId"]] = ev["time"]
                plans[ev["executionId"]] = ev["physicalPlanDescription"]
            elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                plans[ev["executionId"]] = ev["physicalPlanDescription"]
    wall = (t1_ms - t0_ms) / 1000
    tick = sorted(
        (j for j in jobs.values() if 0 <= j["start_s"] < wall),
        key=lambda j: j["start_s"],
    )
    ranking = [
        plans[x] for x, t in sorted(started.items(), key=lambda kv: kv[1])
        if t0_ms <= t < t1_ms and "row_number()" in plans[x]
    ]
    timeline = {
        **stats.window_accounting(stats.read_event_log(log), t0_ms, t1_ms),
        "wall_s": wall,
        "timeline": tick,
    }
    return timeline, ranking[-1] if ranking else ""


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    args = ap.parse_args()

    work = tempfile.mkdtemp(prefix="tick_timeline-")
    events = os.path.join(work, "eventlog")
    os.makedirs(events)
    try:
        spark = get_spark("tick_timeline", extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
        root = os.path.join(work, "lake")
        for tick in range(TICKS):
            now = BASE + timedelta(minutes=15 * tick)
            incrementalize(spark, args.sf_dir, os.path.join(root, "staging"),
                           now=now, seed=tick)
            t0 = time.time() * 1000
            run_cycle(spark, args.sf_dir, root, now=now, generate=False,
                      quality_gate=True, reduce=True)
            t1 = time.time() * 1000
        spark.stop()  # flushes the event log
        (log,) = glob.glob(os.path.join(events, "*"))
        timeline, plan = read_tick(log, t0, t1)
        timeline["ticks"] = TICKS
        os.makedirs(args.out, exist_ok=True)
        with open(os.path.join(args.out, "timeline.json"), "w") as fh:
            json.dump(timeline, fh, indent=1)
        with open(os.path.join(args.out, "reduce_plan.txt"), "w") as fh:
            fh.write(plan)
        print(json.dumps({k: v for k, v in timeline.items()
                          if k != "timeline"}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
