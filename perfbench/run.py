"""Benchmark entry point: one isolated run of one workload.

    python3 perfbench/run.py --workload <query_mix|lake_ticks>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository.  Every run gets a
fresh private directory under ``.perfbench_runs/`` holding its
generated inputs, ``TMPDIR``, ``java.io.tmpdir``, ``SPARK_LOCAL_DIRS``
and working directory (lake root, checkpoints, event log); the
workload runs in a new worker process there, and the directory is
deleted afterwards, so no engine artifact or index carries over from
one run to the next.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.  With
``--trace 0`` the metrics are the ``end_to_end`` metrics of
``BENCHMARK.json``; with ``--trace 1`` (event log on, layer split) they
are its ``per_layer`` metrics, where a layer the workload does not
exercise reads 0.  Workload parameters, expected outputs and the
layer-to-end-to-end map live in ``perfbench/spec.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("query_mix", "lake_ticks")
WORKER_TIMEOUT_S = 160  # with set-up and clean-up, a run ends within 180 s


def _group_alive(pgid: int) -> bool:
    """Whether any process of group ``pgid`` is still running (zombies
    waiting for their parent do not count)."""
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                state, _, pgrp = fh.read().rsplit(")", 1)[1].split()[:3]
        except OSError:
            continue
        if int(pgrp) == pgid and state != "Z":
            return True
    return False


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests so far, summed over
    this machine's CPUs (``/proc/stat``; 0 where it is not reported)."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def _stop(proc: subprocess.Popen) -> None:
    """Stop the worker and every process it started (its own process
    group), then wait until all of them have exited."""
    def running() -> bool:
        return proc.poll() is None or _group_alive(proc.pid)

    for sig in (signal.SIGTERM, signal.SIGKILL):
        if not running():
            break
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            break
        deadline = time.time() + 5
        while running() and time.time() < deadline:
            time.sleep(0.1)
    proc.wait()


def run_worker(workload: str, seed: int, seconds: int, trace: bool,
               spec: dict, base: str) -> dict | None:
    """Generate the inputs, run the worker process, return its result
    (``None`` if the worker failed)."""
    import datagen

    dirs = {k: os.path.join(base, k)
            for k in ("fixture", "tmp", "jtmp", "local", "work")}
    for d in dirs.values():
        os.makedirs(d)
    if "sf" in spec:
        datagen.write_tables(dirs["fixture"], spec["sf"], spec["data_seed"])
    cfg = {
        "workload": workload, "seed": seed, "seconds": seconds,
        "trace": trace, "spec": spec, "fixture": dirs["fixture"],
        "work": dirs["work"],
    }
    cfg_path = os.path.join(base, "config.json")
    out_path = os.path.join(base, "result.json")
    env = dict(os.environ)
    env.update({
        "TMPDIR": dirs["tmp"],
        "SPARK_LOCAL_DIRS": dirs["local"],
        # every JVM of the run (launcher and driver) keeps its temp
        # files in the run directory
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={dirs['jtmp']} "
                             "-XX:-UsePerfData",
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in [env.get("PYTHONPATH")] if p]),
    })
    cfg["spawned_at"] = time.time()
    with open(cfg_path, "w") as fh:
        json.dump(cfg, fh)
    steal0 = _steal_s()
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), cfg_path, out_path],
        cwd=dirs["work"], env=env, stdout=sys.stderr, start_new_session=True,
    )
    try:
        rc = proc.wait(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"# worker exceeded {WORKER_TIMEOUT_S}s", file=sys.stderr)
        rc = None
    finally:
        _stop(proc)
    # stolen CPU time is what made the slow runs slow on a shared host;
    # it marks such a run and is never used to correct a metric
    print(f"# CPU steal during the worker: {_steal_s() - steal0:.1f} s "
          f"over {time.time() - cfg['spawned_at']:.1f} s wall",
          file=sys.stderr)
    if rc != 0 or not os.path.exists(out_path):
        return None
    with open(out_path) as fh:
        return json.load(fh)


def report(result: dict, trace: bool, bench: dict) -> dict:
    """The JSON result line for a worker result."""
    metrics = {}
    if trace:
        for m in bench["per_layer"]:
            metrics[m["name"]] = {
                "value": result["layers"].get(m["name"], 0),
                "unit": m["unit"],
            }
    else:
        for m in bench["end_to_end"]:
            metrics[m["name"]] = {
                "value": result["end_to_end"][m["name"]],
                "unit": m["unit"],
            }
    return {
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }


def _exit_on_term(signum, frame):
    raise SystemExit(128 + signum)  # runs the cleanup in run_worker


def main(argv=None) -> int:
    signal.signal(signal.SIGTERM, _exit_on_term)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "etl_tpch_spark", "__init__.py")):
        print("perfbench: no etl_tpch_spark package beside perfbench/; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    with open(os.path.join(HERE, "spec.json")) as fh:
        spec = json.load(fh)["workloads"][args.workload]

    base = os.path.join(
        ROOT, ".perfbench_runs",
        f"{args.workload}-{args.seed}-{os.getpid()}-{time.time_ns()}")
    try:
        result = run_worker(args.workload, args.seed, args.seconds,
                            bool(args.trace), spec, base)
    finally:
        shutil.rmtree(base, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(base))
        except OSError:  # another run still uses it
            pass
    if result is None:
        print("perfbench: the worker failed; no result", file=sys.stderr)
        return 1
    print(json.dumps(report(result, bool(args.trace), bench)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
