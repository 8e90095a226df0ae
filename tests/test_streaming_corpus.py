"""Streamed corpus curation through the crawl drain (pipeline/daily.py
crawl_day_tick): crawl files → checkpointed stream → one corpus_cycle
tick per micro-batch; replays mutate nothing.  The drained corpus
equals manual ticks in test_crawl_drain.py."""

from __future__ import annotations


def test_streamed_corpus_replay_is_noop(crawl_lake, crawl_replay):
    before = crawl_replay["before"]
    assert before["corpus"]
    # checkpoint no-op
    assert crawl_replay["rerun"]["cycles"] == []
    after = crawl_replay["after_rerun"]
    assert after["versions"]["corpus"] == before["versions"]["corpus"]
    assert after["corpus"] == before["corpus"]

    # wiped-checkpoint logical replay: epoch batch ids make every
    # mutation (index append AND corpus append) a no-op
    (cycle,) = crawl_replay["wiped"]["cycles"]
    assert cycle["batch_id"] == crawl_lake["outs"][0]["cycles"][0]["batch_id"]
    assert cycle["n_appended"] == 0
    after = crawl_replay["after_wiped"]
    assert after["versions"]["corpus"] == before["versions"]["corpus"]
    assert after["corpus"] == before["corpus"]
