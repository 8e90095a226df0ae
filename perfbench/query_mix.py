"""Workload ``query_mix``: read-heavy analytics over the registry.

A cold pass runs every query in the mix once, in the fixed order of
``spec.json``, from an empty private tempdir (it pays JIT, codegen,
artifact and index builds and the session-memo fills); warm passes
then repeat the mix, each in its own seed-permuted order.  One client,
closed loop: a query starts when the previous one has returned its row
count.

Every execution is checked against the row count recorded in
``spec.json``; a mismatch or an exception counts as a failed operation.

In a traced run the warm passes alternate (A B B A) between plain
``fn(spark, dir).count()`` and an instrumented form that splits each
query into registry construction, Catalyst analysis / optimization /
physical planning and execution of the same QueryExecution.  Walls,
percentiles and event-log figures come from the plain passes only.
"""

from __future__ import annotations

import math
import os
import random
import re
import sys
import time

import stats
from worker import abba, du

# Exchange operators in a rendered physical plan (AQE's final plan
# shows them under their query stages).
_EXCHANGE = re.compile(r"^[\s:+\-*|]*(\w*Exchange)\b", re.M)


def _plain(fn, spark, fixture) -> tuple[int, dict]:
    return fn(spark, fixture).count(), {}


def _instrumented(fn, spark, fixture) -> tuple[int, dict]:
    """The count of ``fn``'s frame, computed exactly as ``count()``
    does (``groupBy().count()``), with each layer timed on its own."""
    t0 = time.time()
    df = fn(spark, fixture)
    t1 = time.time()
    qe = df.groupBy().count()._jdf.queryExecution()
    qe.analyzed()
    t2 = time.time()
    qe.optimizedPlan()
    t3 = time.time()
    plan = qe.executedPlan()
    t4 = time.time()
    n = plan.executeCollect()[0].getLong(0)
    t5 = time.time()
    return n, {
        "registry.construct_s": t1 - t0,
        "catalyst.analyze_s": t2 - t1,
        "catalyst.optimize_s": t3 - t2,
        "catalyst.plan_s": t4 - t3,
        "exec.execute_s": t5 - t4,
        "plan.exchanges": len(_EXCHANGE.findall(plan.toString())),
        "construct_window": (t0, t1),
    }


def _pass(run, registry, order, expected, seen, fail_log, instrument):
    """Run the mix once in ``order``; return per-query walls and the
    summed layer split (instrumented passes only)."""
    walls, split, windows, failed = {}, {}, [], 0
    call = _instrumented if instrument else _plain
    for name in order:
        t0 = time.perf_counter()
        try:
            n, parts = call(registry[name].fn, run.spark, run.fixture)
        except Exception as exc:  # one failed query must not stop the run
            fail_log.append(f"{name}: {exc!r}"[:300])
            failed += 1
            continue
        walls[name] = time.perf_counter() - t0
        seen.setdefault(name, set()).add(n)
        want = expected.get(name)
        if (want is not None and n != want) or len(seen[name]) > 1:
            fail_log.append(f"{name}: {n} rows, expected {want}, "
                            f"seen {sorted(seen[name])}")
            failed += 1
        if parts:
            windows.append(parts.pop("construct_window"))
            for k, v in parts.items():
                split[k] = split.get(k, 0.0) + v
    return walls, split, windows, failed


def run(run) -> dict:
    spec = run.spec
    names = list(spec["queries"])
    expected = spec["queries"]
    rng = random.Random(run.seed)
    spark = run.start_session()
    from etl_tpch_spark import registry as reg

    registry = reg.load_all()
    missing = sorted(set(names) - set(registry))
    if missing:
        raise SystemExit(f"queries missing from the registry: {missing}")

    n_warm = max(spec["min_warm_passes"], math.ceil(
        run.seconds / spec["nominal_pass_s"]))
    if run.trace:  # four plain passes among eight for the tail percentile
        n_warm = max(8, n_warm)
    kinds = abba(n_warm) if run.trace else [False] * n_warm
    layers: dict[str, float] = {}
    seen: dict[str, set] = {}
    fail_log: list[str] = []
    # the cold pass keeps the fixed order of spec.json: its first
    # queries pay the shared JIT and similarity warm-up, so a permuted
    # cold order would move cold_s with the seed
    order = names[:]
    run.first_op()
    t0 = time.time()
    cold, _, _, failed = _pass(
        run, registry, order, expected, seen, fail_log, False
    )
    cold_s = time.time() - t0
    attempted = len(order)
    tmp = os.environ["TMPDIR"]
    _, art_bytes = du(tmp)
    art_names = sorted(e.name for e in os.scandir(tmp) if e.is_dir())
    art_dirs = len(art_names)
    print(f"# query_mix artifact dirs after the cold pass: {art_names}",
          file=sys.stderr)
    if run.trace:  # bracket the warm passes, leaving the cold pass cold
        layers["box.probe_s"] = run.probe()

    steps, passes, warm, pooled = [], [], {n: [] for n in names}, []
    splits, construct_windows = [], []
    for instrument in kinds:
        order = names[:]
        rng.shuffle(order)
        g0, t0 = run.gc_seconds(), time.time()
        walls, split, windows, f = _pass(
            run, registry, order, expected, seen, fail_log, instrument
        )
        t1 = time.time()
        attempted += len(order)
        failed += f
        passes.append((instrument, t1 - t0))
        if instrument:
            splits.append(split)
            construct_windows.append(windows)
        else:
            # end-to-end and event-log figures come from plain passes
            # only; instrumented ones feed the layer split alone
            steps.append({"t0": t0, "t1": t1, "gc_s": run.gc_seconds() - g0})
            pooled.extend(walls.values())
            for n, w in walls.items():
                warm[n].append(w)

    plain = [w for inst, w in passes if not inst]
    # the warm pass as the sum of each query's median warm wall: a
    # burst of box noise inside one pass moves only the queries it hit
    step_s = sum(stats.median(ws) for ws in warm.values() if ws)
    print(f"# query_mix passes: {[round(w, 3) for _, w in passes]} "
          f"cold: { {n: round(w, 2) for n, w in cold.items()} }",
          file=sys.stderr)
    if run.trace:
        layers["box.probe_after_s"] = run.probe()
    for line in fail_log:
        print(f"# query_mix failure: {line}", file=sys.stderr)
    print(f"# query_mix rows: { {n: sorted(v) for n, v in seen.items()} }",
          file=sys.stderr)

    result = {
        "attempted": attempted,
        "failed": failed,
        "end_to_end": {"cold_s": cold_s, "step_s": step_s},
        "layers": layers,
        "steps": steps,
    }
    if run.trace:
        # per-query walls of every plain warm pass
        summ = stats.summarize(pooled)
        layers.update({
            "query.p50_s": summ["p50"],
            "query.tail_s": summ["tail"],
            "query.tail_pct": summ["tail_pct"],
            "query.samples": summ["samples"],
            "artifacts.bytes": art_bytes,
            "artifacts.dirs": art_dirs,
            "trace.step_s": step_s,
            "trace.split_overhead_s": stats.median(
                [w for inst, w in passes if inst]
            ) - stats.median(plain),
        })
        for key in splits[0]:
            layers[key] = stats.median([s[key] for s in splits])
        for n in names:
            if n in cold:
                layers[f"q.{n}.cold_s"] = cold[n]
            if warm[n]:
                layers[f"q.{n}.warm_s"] = stats.median(warm[n])
        result["construct_windows"] = construct_windows
    return result


def after_stop(run, result) -> None:
    """Jobs launched while the registry built the frames (eager work
    inside ``fn``), per instrumented pass, from the event log."""
    log = run.event_log()
    per_pass = [
        sum(
            stats.window_accounting(log, a * 1000.0, b * 1000.0)["jobs"]
            for a, b in windows
        )
        for windows in result.pop("construct_windows")
    ]
    result["layers"]["registry.construct_jobs"] = stats.median(per_pass)
