"""Streaming inverted-index ticks: the crawl drain (pipeline/daily.py
crawl_day_tick) ingests each micro-batch into the SearchIndex;
re-draining mutates nothing, and a wiped checkpoint over the same
files still no-ops (content-derived batch ids).  BM25 equality with a
one-shot build is in test_crawl_drain.py."""

from __future__ import annotations


def test_redrain_and_wiped_checkpoint_are_noops(crawl_replay):
    before = crawl_replay["before"]
    assert before["doclens"]
    # same checkpoint: the source knows the files are consumed
    assert crawl_replay["rerun"]["cycles"] == []
    # wiped checkpoint: the file replays, content ids no-op the tick
    assert len(crawl_replay["wiped"]["cycles"]) == 1
    for key in ("after_rerun", "after_wiped"):
        after = crawl_replay[key]
        assert after["doclens"] == before["doclens"], key
        for store in ("search_index/postings", "search_index/doclens"):
            assert (
                after["versions"][store] == before["versions"][store]
            ), (key, store)
