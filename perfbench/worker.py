"""One benchmark run inside a fresh process.

``run.py`` starts this file as a child process with a private
``TMPDIR``, ``SPARK_LOCAL_DIRS`` and working directory, so the engine's
tempdir artifact stores and index dirs start empty and die with the
run.  The worker builds the engine's own session
(``etl_tpch_spark.session.get_spark`` on ``local[<cores>]``), runs one
workload and writes its result as JSON to the path it was given.

Usage (normally only via run.py):
    python3 perfbench/worker.py <config.json> <result.json>
"""

from __future__ import annotations

import importlib
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import stats  # noqa: E402


class Run:
    """What a workload needs: the session, its inputs, its private
    directories, the run parameters, and the clock for ``setup_s``."""

    def __init__(self, cfg: dict):
        self.workload = cfg["workload"]
        self.spec = cfg["spec"]
        self.seed = cfg["seed"]
        self.seconds = cfg["seconds"]
        self.trace = cfg["trace"]
        self.fixture = cfg["fixture"]
        self.work = cfg["work"]
        self.spawned_at = cfg["spawned_at"]
        self.setup_s: float | None = None
        self.spark = None
        self._log = None

    def start_session(self):
        from etl_tpch_spark.session import get_spark

        extra = {}
        if self.trace:
            self.event_dir = os.path.join(self.work, "eventlog")
            os.makedirs(self.event_dir)
            extra.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark(f"perfbench-{self.workload}", extra_conf=extra)
        return self.spark

    def first_op(self) -> None:
        """Mark the start of the first timed operation (ends setup)."""
        if self.setup_s is None:
            self.setup_s = time.time() - self.spawned_at

    def gc_seconds(self) -> float:
        """Cumulative JVM garbage-collection time of the driver JVM
        (in local mode also every executor thread's)."""
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        return sum(
            max(0, b.getCollectionTime())
            for b in mf.getGarbageCollectorMXBeans()
        ) / 1000.0

    def probe(self, reps: int = 2) -> float:
        """The repo's fixed box-calibration probe (best of ``reps``)."""
        from bench import _spark_probe

        return _spark_probe(self.spark, reps=reps)

    def event_log(self) -> dict[str, list]:
        """The run's parsed event log; call after the session stopped."""
        if self._log is None:
            (name,) = os.listdir(self.event_dir)
            self._log = stats.read_event_log(
                os.path.join(self.event_dir, name))
        return self._log


def du(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            try:
                size += os.path.getsize(os.path.join(dirpath, n))
                files += 1
            except OSError:
                pass
    return files, size


def step_layers(run: Run, steps: list[dict]) -> dict[str, float]:
    """Event-log and GC accounting for timed steps, as medians over the
    steps.  Each step dict holds its wall-clock window (``t0``/``t1``,
    seconds) and the GC seconds spent inside it (``gc_s``)."""
    log = run.event_log()
    per = [
        stats.window_accounting(log, s["t0"] * 1000.0, s["t1"] * 1000.0)
        for s in steps
    ]
    med = lambda k: stats.median([p[k] for p in per])  # noqa: E731
    return {
        "exec.jobs": med("jobs"),
        "exec.job_s": med("job_s"),
        "exec.driver_gap_s": med("driver_gap_s"),
        "shuffle.bytes": med("shuffle_bytes"),
        "jvm.gc_s": stats.median([s["gc_s"] for s in steps]),
    }


def abba(n: int) -> list[bool]:
    """Which of ``n`` steps are instrumented in a traced run: the
    pattern A B B A ... cancels a linear trend between the two kinds."""
    return [i % 4 in (0, 3) for i in range(n)]


def main() -> int:
    cfg_path, out_path = sys.argv[1], sys.argv[2]
    with open(cfg_path) as fh:
        cfg = json.load(fh)
    run = Run(cfg)
    module = importlib.import_module(run.workload)
    try:
        result = module.run(run)
        if not run.trace:
            # after the timed section, so the cold operation stays cold;
            # marks a run taken while the box was slow, never rescales it
            print(f"# box.probe_s after the timed section: "
                  f"{run.probe(reps=1)}", file=sys.stderr)
    finally:
        if run.spark is not None:
            run.spark.stop()
    steps = result.pop("steps")
    if run.trace:
        result["layers"].update(step_layers(run, steps))
        if hasattr(module, "after_stop"):
            module.after_stop(run, result)
    result["end_to_end"]["setup_s"] = run.setup_s
    with open(out_path, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
