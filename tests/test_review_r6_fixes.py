"""Round-6 code-review regressions — the failure modes fresh-fixture
tests structurally miss:

1. session caches must not serve stale derivations after a fixture is
   regenerated at the same path (stamp keying + eviction);
2. a persisted SpanIndex written in the v1 md5 window-hash format must
   refuse v2 appends with an actionable error, not a deep schema crash;
3. IVFPQIndex.tick must complete a half-landed batch on replay (crash
   between the codes commit and the side-table commits).
"""

from __future__ import annotations

import os
import time

import numpy as np
import pytest

from pyspark.sql import functions as F


def _write_docs(spark, sf_dir, rows):
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    df.toPandas().to_parquet(
        os.path.join(sf_dir, "documents.parquet"), index=False
    )


def test_lm_cache_evicts_on_fixture_regeneration(spark, tmp_path):
    """_reference_lm keys on the documents table stamp: rewriting the
    parquet at the same path must retrain, not serve the old LM."""
    from etl_tpch_spark.catalog import Tables
    from etl_tpch_spark.queries.text import (
        _reference_lm,
        text_lm_quality_filter,
    )

    sf = str(tmp_path)
    _write_docs(
        spark,
        sf,
        [
            (1, "alpha beta alpha beta alpha beta", "en", "src0"),
            (2, "alpha beta alpha beta", "en", "web"),
        ],
    )
    before = {
        r.doc_id: r.avg_p_micro
        for r in text_lm_quality_filter(spark, sf).collect()
    }
    assert before[2] > 0  # covered by the src0-trained LM
    old_lm = _reference_lm(Tables(spark, sf))
    assert old_lm.is_cached
    time.sleep(0.01)  # ensure a distinct mtime_ns
    _write_docs(
        spark,
        sf,
        [
            (1, "gamma delta gamma delta gamma delta", "en", "src0"),
            (2, "alpha beta alpha beta", "en", "web"),
        ],
    )
    after = {
        r.doc_id: r.avg_p_micro
        for r in text_lm_quality_filter(spark, sf).collect()
    }
    # the reference corpus changed: doc 2's bigrams are now unseen
    assert after[2] == 0, after
    # the superseded entry was evicted (and released), not accreted
    assert not old_lm.is_cached
    assert _reference_lm(Tables(spark, sf)) is not old_lm


def test_kmeans_fit_cache_evicts_superseded_stamp(spark):
    """A new stamp for the same fixture path replaces (and unpersists)
    the old fit instead of pinning both."""
    from etl_tpch_spark.similarity.kmeans import kmeans_fit

    rows = [
        (int(i), [float(x) for x in np.eye(8)[i % 4] * (1 + i)])
        for i in range(40)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    old, _ = kmeans_fit(emb, 4, 1, cache_key="/fix/path|stamp-old")
    assert old.is_cached
    assert kmeans_fit(emb, 4, 1, cache_key="/fix/path|stamp-old")[0] is old
    new, _ = kmeans_fit(emb, 4, 1, cache_key="/fix/path|stamp-new")
    assert not old.is_cached
    assert new.is_cached
    assert kmeans_fit(emb, 4, 1, cache_key="/fix/path|stamp-new")[0] is new


def test_span_index_refuses_v1_format(spark, tmp_path):
    """A persisted index without the v2 marker (i.e. written by the
    md5-format build) must fail loudly at open, before any append can
    mix incomparable keys."""
    from etl_tpch_spark.dedup.spans import SpanIndex

    from etl_tpch_spark.pipeline.txlog import TxTable

    # a real v1 index: marker-less rows with the 16-byte binary h
    path = str(tmp_path / "span-v1")
    TxTable(path).append(
        spark.createDataFrame(
            [(1, 0, bytearray(b"0123456789abcdef"))],
            "doc_id long, pos int, h binary",
        )
    )
    with pytest.raises(ValueError, match="window-hash format"):
        SpanIndex(path)

    # a marker-less V2 index (built before the marker existed) is
    # recognized from its stored schema and backfills the marker
    path2 = str(tmp_path / "span-v2")
    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j")], "doc_id long, text string"
    )
    idx = SpanIndex(path2)
    idx.ingest(docs, batch_id="b0")
    os.remove(os.path.join(path2, "_WINDOW_HASH_FORMAT"))
    SpanIndex(path2)  # reopens, no raise
    assert os.path.exists(os.path.join(path2, "_WINDOW_HASH_FORMAT"))

    # a fresh (empty) directory opens fine and stamps itself
    SpanIndex(str(tmp_path / "span-new"))


@pytest.mark.slow  # r9 tier rebalance (VERDICT r8 #5): IVFPQ lifecycle remainder
def test_ivfpq_tick_replay_completes_half_landed_batch(spark, tmp_path):
    """Crash contract: if the codes append landed but the side-table
    appends did not, replaying the same batch_id must land the raws
    and reservoir rows (keying the short-circuit on the FIRST commit
    would skip them forever)."""
    from etl_tpch_spark.similarity.pq import IVFPQIndex

    rows = [
        (int(i), [float(x) for x in np.eye(8)[i % 4] * (1 + i % 7)])
        for i in range(60)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    idx = IVFPQIndex.build(
        str(tmp_path / "pq"), emb, n_cells=4, m_sub=4, sub_dim=2, k_codes=8
    )
    batch = spark.createDataFrame(
        [
            (int(i), [float(x) for x in -np.eye(8)[i % 4] * 2.0])
            for i in range(100, 120)
        ],
        "vec_id long, embedding array<double>",
    )
    # simulate the crash window: ONLY the codes append landed
    idx.codes_t.append(idx.encode_batch(spark, batch), batch_id="d1")
    assert idx.raw_t.read(spark).filter(F.col("vec_id") >= 100).count() == 0
    # replay through tick(): the half-landed batch completes
    idx.tick(spark, batch, batch_id="d1")
    assert (
        idx.raw_t.read(spark).filter(F.col("vec_id") >= 100).count() == 20
    )
    # codes were NOT double-appended
    assert (
        idx.codes_t.read(spark).filter(F.col("vec_id") >= 100).count()
        == 20
    )
    # and a second replay is a no-op everywhere
    n_raw = idx.raw_t.read(spark).count()
    n_train = idx.train_t.read(spark).count()
    idx.tick(spark, batch, batch_id="d1")
    assert idx.raw_t.read(spark).count() == n_raw
    assert idx.train_t.read(spark).count() == n_train
