"""Paired A/B runs of the benchmark: a base commit against this checkout.

    python3 tools/perfbench_ab.py --base <commit> [--workload NAME ...]
        [--pairs 10] [--seed 1] [--out FILE]

The base commit is exported with ``git archive`` into a temporary
directory (deleted afterwards); the change is this checkout's working
tree.  For each workload the script runs ``--pairs`` pairs of
``perfbench/run.py``, one run on each side with the same seed (``--seed``,
``--seed`` + 1, ...), alternating which side runs first, so drift of
the machine during the session falls on both sides alike.  Every run
is untraced and lasts ``BENCHMARK.json``'s ``run_seconds``, as the
benchmark runs both commits.  Runs are sequential: each one is a
fresh worker with its own private directories (see
``perfbench/run.py``).

It prints one line per run, then per workload and metric: each side's
median and quartiles, the pairs the change won (ties count for
neither), the change/base ratio of the medians, and whether the
paired-claim rule holds — the change wins at least nine tenths of the
pairs and its median beats the base's by more than the base's
interquartile range.  The metric names and their better direction come
from ``BENCHMARK.json``.  ``--out`` also writes every run's result as
one JSON line.  Exit status 1 when any run was incorrect, failed an
operation or produced no result.

Run from the root of a checkout; it imports no engine module.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export_commit(commit: str, dest: str) -> None:
    """Write the tree of ``commit`` into the existing directory ``dest``."""
    archive = subprocess.run(
        ["git", "archive", "--format=tar", commit],
        cwd=ROOT, check=True, capture_output=True,
    ).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def run_once(checkout: str, workload: str, seed: int, seconds: int) -> dict:
    """One untraced ``perfbench/run.py`` run in ``checkout``; its JSON
    result, or ``{"correct": False, "error": ...}`` when it printed
    none."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True,
    )
    lines = proc.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        tail = proc.stderr.strip().splitlines()[-3:]
        return {"correct": False, "error": f"exit {proc.returncode}: {tail}"}


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(metric: str, better: str, base: list[float],
              change: list[float]) -> str:
    """One line: both sides' median [q1, q3], wins, ratio, claim rule."""
    b1, bm, b3 = quartiles(base)
    c1, cm, c3 = quartiles(change)
    sign = -1 if better == "lower" else 1
    wins = sum(sign * (c - b) > 0 for b, c in zip(base, change))
    holds = (wins >= 0.9 * len(base)
             and sign * (cm - bm) > b3 - b1)
    ratio = f"{cm / bm:.3f}" if bm else "n/a"
    return (f"  {metric:<34} base {bm:10.4g} [{b1:.4g}, {b3:.4g}]  "
            f"change {cm:10.4g} [{c1:.4g}, {c3:.4g}]  "
            f"wins {wins}/{len(base)}  change/base {ratio}  "
            f"claim rule {'holds' if holds else 'not met'}")


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    better = {m["name"]: m["better"]
              for m in bench["end_to_end"] + bench["per_layer"]}
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", required=True, help="base commit")
    ap.add_argument("--workload", action="append",
                    choices=[w["name"] for w in bench["workloads"]],
                    help="repeatable; default every workload")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1, help="first seed")
    ap.add_argument("--out", help="also write every run as a JSON line")
    args = ap.parse_args(argv)
    workloads = args.workload or [w["name"] for w in bench["workloads"]]

    base_dir = tempfile.mkdtemp(prefix="perfbench-ab-")
    out = open(args.out, "w") if args.out else None
    bad = 0
    try:
        export_commit(args.base, base_dir)
        sides = {"base": base_dir, "change": ROOT}
        for workload in workloads:
            results = {"base": [], "change": []}
            for i in range(args.pairs):
                seed = args.seed + i
                order = ("base", "change") if i % 2 == 0 else (
                    "change", "base")
                for side in order:
                    res = run_once(sides[side], workload, seed,
                                   bench["run_seconds"])
                    values = {m: v["value"]
                              for m, v in res.get("metrics", {}).items()}
                    results[side].append(values)
                    bad += not (res.get("correct") and not res.get("failed"))
                    shown = {m: round(v, 4) for m, v in values.items()}
                    print(f"{workload} pair {i} seed {seed} {side}: "
                          f"{shown or res}", flush=True)
                    if out:
                        out.write(json.dumps({
                            "workload": workload, "pair": i, "seed": seed,
                            "side": side, "first": order[0], **res,
                        }) + "\n")
                        out.flush()
            print(f"{workload}: {args.pairs} pairs")
            for m in sorted(set().union(*results["base"])):
                pairs = [(b[m], c[m])
                         for b, c in zip(results["base"], results["change"])
                         if m in b and m in c]
                if pairs:
                    print(summarize(m, better.get(m, "lower"),
                                    *map(list, zip(*pairs))))
    finally:
        if out:
            out.close()
        shutil.rmtree(base_dir, ignore_errors=True)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
