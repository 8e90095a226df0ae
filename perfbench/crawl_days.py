"""The daily LLM-corpus crawl tick, measured layer by layer.

``lake_ticks`` runs this sequence in its traced run, after its own
timed ticks, in the same session.  Set-up ingests the reference LM
(``ensure_reference_lm``) and trains the quality classifier
(``ensure_quality_classifier``).  Then ``crawl_day_tick`` runs over a
fixed sequence of staged days: day 0 is the bulk build from a
seed-sampled half of the ``documents`` and ``events`` tables, then a
fixed number of fixed-size days, each from unseen documents and
events; the last day also exports the training shards.
``compact_over_files`` and ``retain_versions`` are set low, so
index compaction and vacuum fire inside the sequence.  Staging writes
each day's JSON-lines files with plain Python before the day's clock
starts.  One client, closed loop.

Correctness: every day drains exactly the documents staged for it;
and after the last day its batch is replayed once, untimed, by
rewinding the doc stream's last commit.  The replay must advance no
store's version (exactly-once across every store of the tick).

``crawl_day_tick`` returns its per-stage wall seconds in its summary;
the txlog and maintenance counts come from the stores' commit logs.
"""

from __future__ import annotations

import json
import os
import random
import sys
import time

import pyarrow.parquet as pq

import stats
from worker import du

DOC_COLS = ("doc_id", "text", "lang", "source")
EVENT_COLS = ("event_id", "ts", "user_id")
# every store crawl_day_tick maintains (as listed for its vacuum pass)
STORES = ("corpus", "spans", "scores", "dedup_index", "span_index", "lm",
          "search_index/postings", "search_index/doclens",
          "ivf_index/cells", "ivf_index/centroids", "quality_clf",
          "clf_scores", "hll_index")
STAGES = ("corpus", "spans", "lm", "search", "clf")


def _rows(fixture: str, table: str, cols) -> list[dict]:
    tab = pq.read_table(os.path.join(fixture, f"{table}.parquet"),
                        columns=list(cols))
    rows = tab.to_pylist()
    for r in rows:
        if "ts" in r:
            r["ts"] = r["ts"].isoformat(timespec="milliseconds")
    return rows


def _stage(rows: list[dict], path: str) -> None:
    os.makedirs(path)
    with open(os.path.join(path, "part-0.json"), "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")


def plan_days(docs: list[dict], events: list[dict], seed: int,
              spec: dict, n_days: int) -> list[tuple[list, list]]:
    """(docs, events) per day: day 0 takes a seed-sampled half of each
    table, every later day a fixed-size slice of the rest."""
    rng = random.Random(seed)
    docs, events = docs[:], events[:]
    rng.shuffle(docs)
    rng.shuffle(events)
    d0, e0 = len(docs) // 2, len(events) // 2
    nd, ne = spec["day_docs"], spec["day_events"]
    if d0 + n_days * nd > len(docs) or e0 + n_days * ne > len(events):
        raise SystemExit("crawl_days: not enough rows for the day plan")
    days = [(docs[:d0], events[:e0])]
    for k in range(n_days):
        days.append((docs[d0 + k * nd:d0 + (k + 1) * nd],
                     events[e0 + k * ne:e0 + (k + 1) * ne]))
    return days


def _tables(root: str) -> dict:
    from etl_tpch_spark.pipeline.txlog import TxTable

    return {s: TxTable(os.path.join(root, s)) for s in STORES}


def _versions(tables: dict) -> dict[str, int]:
    """Latest committed version per store (-1 before its first)."""
    out = {}
    for s, t in tables.items():
        v = t.latest_version()
        out[s] = -1 if v is None else v
    return out


def _new_ops(tables: dict, before: dict[str, int]) -> list[tuple[str, str]]:
    """(store, op) of every commit after ``before`` still in the log."""
    ops = []
    for s, t in tables.items():
        for v in t.versions():
            if v > before[s]:
                ops.append((s, t.commit_entry(v).get("op")))
    return ops


def _rewind_last_commit(checkpoint: str) -> None:
    """Forget that the stream's last micro-batch committed, as after a
    crash between its sink and its commit: the restarted stream
    re-runs that batch with the same epoch and files."""
    commits = os.path.join(checkpoint, "commits")
    last = max(int(f) for f in os.listdir(commits) if f.isdigit())
    for name in (str(last), f".{last}.crc"):
        path = os.path.join(commits, name)
        if os.path.exists(path):
            os.remove(path)


def run_days(run) -> dict:
    """Run the crawl-day sequence in ``run``'s session; return its
    operation counts and its ``daily.*``, ``txlog.*`` and
    ``maintenance.*`` layers."""
    spec = run.spec["crawl"]
    plan = plan_days(_rows(run.fixture, "documents", DOC_COLS),
                     _rows(run.fixture, "events", EVENT_COLS),
                     run.seed, spec, spec["days"])
    spark = run.spark
    from pyspark.sql import functions as F

    from etl_tpch_spark.catalog import load_table
    from etl_tpch_spark.pipeline.daily import (
        crawl_day_tick,
        ensure_quality_classifier,
        ensure_reference_lm,
    )

    root = os.path.join(run.work, "crawl-lake")
    stage_root = os.path.join(run.work, "crawl-staging")
    docs = load_table(spark, run.fixture, "documents")
    ensure_reference_lm(spark, docs.filter(F.col("doc_id") % 3 == 0), root)
    ensure_quality_classifier(spark, docs, root)
    tables = _tables(root)
    kwargs = {"compact_over_files": spec["compact_over_files"],
              "retain_versions": spec["retain_versions"]}

    walls, outs, commits, ops = [], [], [], []
    failed = attempted = vacuumed = 0
    for day, (drows, erows) in enumerate(plan):
        cd = os.path.join(stage_root, f"docs-{day}")
        ed = os.path.join(stage_root, f"events-{day}")
        _stage(drows, cd)
        _stage(erows, ed)
        before = _versions(tables)
        attempted += 1
        t0 = time.time()
        try:
            out = crawl_day_tick(spark, cd, root, events_dir=ed,
                                 export=day == len(plan) - 1, **kwargs)
        except Exception as exc:  # a failed day must not stop the run
            print(f"# crawl failure: day {day}: {exc!r}", file=sys.stderr)
            failed += 1
            continue
        walls.append(time.time() - t0)
        drained = sum(c["n_new"] for c in out["cycles"])
        if drained != len(drows):
            print(f"# crawl failure: day {day}: drained {drained} of "
                  f"{len(drows)} staged docs", file=sys.stderr)
            failed += 1
        after = _versions(tables)
        commits.append(sum(after[s] - before[s] for s in STORES))
        ops.extend(_new_ops(tables, before))
        vacuumed += out.get("vacuumed_files", 0)
        outs.append(out)

    # exactly-once: replay the last day's batch (same epoch, files and
    # batch id); no store may advance
    before = _versions(tables)
    attempted += 1
    try:
        _rewind_last_commit(os.path.join(root, "checkpoints", "docs"))
        replayed = len(crawl_day_tick(spark, cd, root, **kwargs)["cycles"])
    except Exception as exc:
        print(f"# crawl failure: replay: {exc!r}", file=sys.stderr)
        replayed = -1
    moved = {s: (before[s], v) for s, v in _versions(tables).items()
             if v != before[s]}
    if replayed != 1 or moved:
        print(f"# crawl failure: replay ran {replayed} batches, "
              f"advanced {moved}", file=sys.stderr)
        failed += 1
    print(f"# crawl days: {[round(w, 3) for w in walls]} commits: "
          f"{commits} vacuumed: {vacuumed} ops: {sorted(set(ops))}",
          file=sys.stderr)

    layers = {}
    warm = outs[1:]  # day 0 is the bulk build
    if walls and warm:
        for stage in STAGES:
            layers[f"daily.{stage}_s"] = stats.median([
                sum(c["stage_s"][stage] for c in o["cycles"]) for o in warm
            ])
        for key in ("events", "maintenance"):
            layers[f"daily.{key}_s"] = stats.median(
                [o.get(f"{key}_s", 0.0) for o in warm])
        layers["daily.export_s"] = warm[-1].get("export_s", 0.0)
        _, store_bytes = du(root)
        _, ck_bytes = du(os.path.join(root, "checkpoints"))
        _, input_bytes = du(stage_root)
        layers.update({
            "daily.day0_s": walls[0],
            "daily.day_s": stats.median(walls[1:]),
            "txlog.commits": stats.median(commits[1:]),
            "txlog.files": sum(len(t.snapshot_files())
                               for t in tables.values()),
            "txlog.bytes_per_input_byte":
                (store_bytes - ck_bytes) / input_bytes,
            "maintenance.compactions": sum(
                1 for s, op in ops
                if op == "compact" or (s == "lm" and op == "overwrite")),
            "maintenance.vacuumed_files": vacuumed,
        })
    return {"attempted": attempted, "failed": failed, "layers": layers}
