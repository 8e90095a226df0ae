"""Streaming LM quality-scoring: the crawl drain (pipeline/daily.py
crawl_day_tick) scores each micro-batch with LmIndex.score and
appends the rows exactly-once.  Equality with batch scoring is in
test_crawl_drain.py."""

from __future__ import annotations


def test_rerun_with_same_checkpoint_is_noop(crawl_replay):
    before = crawl_replay["before"]
    assert before["scores"]
    assert crawl_replay["rerun"]["cycles"] == []  # nothing new staged
    after = crawl_replay["after_rerun"]
    assert after["scores"] == before["scores"]
    assert after["versions"]["scores"] == before["versions"]["scores"]
    # ticks never write the LM itself
    assert after["versions"]["lm"] == before["versions"]["lm"]


def test_wiped_checkpoint_replay_appends_nothing(crawl_replay):
    """Content-derived batch ids: wiping the checkpoint and
    re-draining the SAME staged files re-scores nothing — the tick's
    batch id is (checkpoint name, epoch, content fingerprint), all
    three of which the replay reproduces, so the TxTable append
    no-ops even though the file-source checkpoint is gone."""
    before = crawl_replay["before"]
    assert len(crawl_replay["wiped"]["cycles"]) == 1
    after = crawl_replay["after_wiped"]
    assert after["scores"] == before["scores"]
    assert after["versions"]["scores"] == before["versions"]["scores"]
    assert after["versions"]["lm"] == before["versions"]["lm"]
