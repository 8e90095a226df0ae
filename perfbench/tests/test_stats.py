"""Unit tests of the benchmark's statistics and event-log accounting.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))
    assert stats.percentile(xs, 50) == 50
    assert stats.percentile(xs, 90) == 90
    assert stats.percentile(xs, 100) == 100
    assert stats.percentile([3.0], 90) == 3.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


@pytest.mark.parametrize(
    "n, pct",
    [(9, None), (20, 50.0), (39, 50.0), (40, 75.0), (50, 80.0),
     (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, pct):
    assert stats.tail_percentile(n) == pct
    if pct is not None:
        beyond = n - int(pct / 100 * n + 0.999999)
        assert beyond >= stats.MIN_BEYOND


def test_summarize_reports_sample_count_and_tail():
    xs = [float(i) for i in range(1, 43)]  # 42 samples -> p75
    s = stats.summarize(xs)
    assert s == {"p50": 21.0, "tail": 32.0, "tail_pct": 75.0, "samples": 42}
    few = stats.summarize([1.0, 2.0, 3.0])
    assert few["tail_pct"] == 100.0 and few["tail"] == 3.0
    assert few["samples"] == 3


def test_union_length_merges_overlaps():
    assert stats.union_length([]) == 0.0
    assert stats.union_length([(0, 1), (2, 3)]) == 2
    assert stats.union_length([(0, 2), (1, 3), (3, 4)]) == 4
    assert stats.union_length([(5, 9), (0, 10), (1, 2)]) == 10


def _event_log(path, jobs, tasks):
    with open(path, "w") as fh:
        for jid, (s, e) in enumerate(jobs):
            fh.write(json.dumps({"Event": "SparkListenerJobStart",
                                 "Job ID": jid, "Submission Time": s}) + "\n")
            fh.write(json.dumps({"Event": "SparkListenerJobEnd",
                                 "Job ID": jid, "Completion Time": e}) + "\n")
        for t, b in tasks:
            fh.write(json.dumps({
                "Event": "SparkListenerTaskEnd",
                "Task Info": {"Finish Time": t},
                "Task Metrics": {
                    "Shuffle Write Metrics": {"Shuffle Bytes Written": b}},
            }) + "\n")
        fh.write(json.dumps({"Event": "SparkListenerApplicationEnd"}) + "\n")


def test_job_union_and_driver_gap_from_event_log(tmp_path):
    path = tmp_path / "log"
    # window [1000, 5000) ms: jobs overlap in [1500, 2500] and
    # [3000, 3500]; one job straddles the window end; one lies outside
    _event_log(path,
               jobs=[(1500, 2000), (1800, 2500), (3000, 3500),
                     (4800, 5600), (6000, 7000)],
               tasks=[(1900, 100), (3400, 50), (6500, 999)])
    log = stats.read_event_log(str(path))
    acc = stats.window_accounting(log, 1000.0, 5000.0)
    assert acc["jobs"] == 4
    assert acc["job_s"] == pytest.approx(1.0 + 0.5 + 0.2)
    assert acc["driver_gap_s"] == pytest.approx(4.0 - 1.7)
    assert acc["shuffle_bytes"] == 150
