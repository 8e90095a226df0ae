"""Streaming daily-crawl dedup: the crawl drain (pipeline/daily.py
crawl_day_tick) ticks the MinHash index once per micro-batch (inside
corpus_cycle), exactly-once across replays and restarts."""

from __future__ import annotations

from etl_tpch_spark.catalog import load_table


def test_replayed_epoch_appends_nothing(spark, sf_dir, tmp_path):
    """The foreachBatch replay window (crash between sink commit and
    checkpoint advance): re-running a tick with the SAME epoch batch_id
    must no-op on both the index and the pairs table."""
    from etl_tpch_spark.dedup.index import MinHashIndex
    from etl_tpch_spark.pipeline.txlog import TxTable

    docs = load_table(spark, sf_dir, "documents").limit(100)
    idx = MinHashIndex(str(tmp_path / "idx"))
    pairs_t = TxTable(str(tmp_path / "pairs"))

    bid = "ckpt-0"
    pairs = idx.tick(spark, docs, 0.5, batch_id=bid)
    pairs_t.append(pairs, batch_id=bid)
    n_pairs = pairs_t.read(spark).count()
    n_sigs = idx.signatures(spark).count()

    # replay the whole tick body
    pairs2 = idx.tick(spark, docs, 0.5, batch_id=bid)
    pairs_t.append(pairs2, batch_id=bid)
    assert pairs_t.read(spark).count() == n_pairs
    assert idx.signatures(spark).count() == n_sigs


def test_rerun_with_same_checkpoint_is_noop(crawl_replay):
    """Exactly-once across restarts: draining again with nothing new
    staged re-ingests nothing; a wiped checkpoint's re-drain of the
    same files replays the recorded batch id and ingests nothing
    either."""
    before = crawl_replay["before"]
    assert before["signatures"] > 0
    assert crawl_replay["rerun"]["cycles"] == []
    for key in ("after_rerun", "after_wiped"):
        after = crawl_replay[key]
        assert after["signatures"] == before["signatures"], key
        assert (
            after["versions"]["dedup_index"]
            == before["versions"]["dedup_index"]
        ), key
