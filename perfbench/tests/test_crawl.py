"""Unit tests of the crawl-day sequence's helpers (no Spark).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import crawl_days  # noqa: E402

SPEC = {"day_docs": 4, "day_events": 10}


def _plan(seed: int, n_days: int = 3):
    docs = [{"doc_id": i} for i in range(40)]
    events = [{"event_id": i} for i in range(100)]
    return crawl_days.plan_days(docs, events, seed, SPEC, n_days)


def test_day_plan_sizes_are_fixed_and_days_disjoint():
    plan = _plan(seed=7)
    assert [(len(d), len(e)) for d, e in plan] == [(20, 50)] + [(4, 10)] * 3
    ids = [r["doc_id"] for d, _ in plan for r in d]
    assert len(ids) == len(set(ids))
    eids = [r["event_id"] for _, e in plan for r in e]
    assert len(eids) == len(set(eids))


def test_day_plan_is_a_function_of_the_seed():
    assert _plan(seed=7) == _plan(seed=7)
    assert _plan(seed=7) != _plan(seed=8)


def test_day_plan_refuses_more_days_than_rows():
    try:
        _plan(seed=1, n_days=6)
    except SystemExit:
        return
    raise AssertionError("a plan past the end of the table must fail")


def test_rewind_forgets_only_the_last_commit(tmp_path):
    commits = tmp_path / "commits"
    commits.mkdir()
    for n in ("0", ".0.crc", "1", ".1.crc", "2", ".2.crc"):
        (commits / n).write_text("v1")
    crawl_days._rewind_last_commit(str(tmp_path))
    assert sorted(os.listdir(commits)) == [".0.crc", ".1.crc", "0", "1"]
