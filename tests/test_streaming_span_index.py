"""Streaming daily-crawl span dedup: the crawl drain (pipeline/daily.py
crawl_day_tick) ticks the SpanIndex once per micro-batch and appends
its spans exactly-once.  Prefix semantics are in test_crawl_drain.py."""

from __future__ import annotations


def test_rerun_with_same_checkpoint_is_noop(crawl_replay):
    before = crawl_replay["before"]
    assert before["spans"] and before["windows"] > 0
    assert crawl_replay["rerun"]["cycles"] == []  # nothing new staged
    for key in ("after_rerun", "after_wiped"):
        after = crawl_replay[key]
        assert after["spans"] == before["spans"], key
        assert after["windows"] == before["windows"], key
        for store in ("spans", "span_index"):
            assert (
                after["versions"][store] == before["versions"][store]
            ), (key, store)
