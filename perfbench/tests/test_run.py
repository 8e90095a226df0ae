"""End-to-end tests of the benchmark command (each starts Spark).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import fnmatch
import json
import os
import shutil
import subprocess
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
LEAK_PATTERNS = ("*-idx-*", "kmeans-fit-*", "sim-edges-*")


def _bench(args, cwd=ROOT, timeout=300):
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


def _copy_bench(dest) -> None:
    """BENCHMARK.json and perfbench/ alone, as in an empty checkout."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), dest)
    shutil.copytree(BENCH, dest / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))


def _engine_artifacts() -> set[str]:
    tmp = tempfile.gettempdir()
    return {
        e for e in os.listdir(tmp)
        if any(fnmatch.fnmatch(e, p) for p in LEAK_PATTERNS)
    }


def test_refuses_to_run_without_the_engine(tmp_path):
    _copy_bench(tmp_path)
    res = _bench(["--workload", "query_mix", "--seed", "1",
                  "--seconds", "1", "--trace", "0"], cwd=str(tmp_path))
    assert res.returncode != 0
    assert res.stdout.strip() == ""


@pytest.fixture(scope="module")
def traced_smoke(tmp_path_factory):
    """A traced two-query run at sf 0.001 (about half a minute), from a
    checkout whose spec.json holds only that small query mix."""
    root = tmp_path_factory.mktemp("checkout")
    _copy_bench(root)
    for name in ("etl_tpch_spark", "bench.py"):
        os.symlink(os.path.join(ROOT, name), root / name)
    spec_path = root / "perfbench" / "spec.json"
    spec = json.loads(spec_path.read_text())
    spec["workloads"]["query_mix"].update({
        "sf": 0.001,
        "min_warm_passes": 1,
        "nominal_pass_s": 1000,
        # one relational query and one per kind of tempdir store the
        # leak check watches: kmeans-fit-*, *-idx-* and sim-edges-*
        "queries": {"q1_pricing_summary": 6, "sim_ann_topk_ivf": 50,
                    "text_bm25_topk_indexed": 20, "graph_pagerank": 337},
    })
    spec_path.write_text(json.dumps(spec))
    before = _engine_artifacts()
    res = _bench(["--workload", "query_mix", "--seed", "3", "--seconds",
                  "1", "--trace", "1"], cwd=str(root))
    return res, before, _engine_artifacts()


def test_run_leaves_no_engine_artifacts_in_the_system_tempdir(traced_smoke):
    res, before, after = traced_smoke
    assert res.returncode == 0, res.stderr[-3000:]
    assert after - before == set()


def test_traced_layer_split_sums_to_the_pass_wall(traced_smoke):
    res, _, _ = traced_smoke
    assert res.returncode == 0, res.stderr[-3000:]
    out = json.loads(res.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0
    assert out["attempted"] == 4 * (1 + 8)  # cold pass + eight warm passes
    m = {k: v["value"] for k, v in out["metrics"].items()}
    split = sum(m[k] for k in (
        "registry.construct_s", "catalyst.analyze_s", "catalyst.optimize_s",
        "catalyst.plan_s", "exec.execute_s"))
    assert split > 0 and m["trace.step_s"] > 0
    # instrumented pass = plain pass + split overhead; the split covers
    # the instrumented pass up to the timer calls between the layers
    assert abs(split - m["trace.step_s"]) <= (
        abs(m["trace.split_overhead_s"]) + 0.1 * m["trace.step_s"])
    assert m["exec.job_s"] + m["exec.driver_gap_s"] == pytest.approx(
        m["trace.step_s"], rel=0.5)
    # kmeans-fit, search-idx and sim-edges stores were really written
    assert m["artifacts.dirs"] >= 3 and m["artifacts.bytes"] > 0
    assert m["query.samples"] == 4 * 4  # the four plain warm passes
    assert m["box.probe_s"] > 0 and m["box.probe_after_s"] > 0
    assert m["plan.exchanges"] >= 1 and m["exec.jobs"] >= 1
