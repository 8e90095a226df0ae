"""The crawl drain in the default gate (pipeline/daily.py
crawl_day_tick): two staged crawl days run through the one
checkpointed doc drain, and every store it feeds equals its batch
definition.

- span rows follow the prefix semantics of ``_duplicate_spans`` (a
  doc's spans are against the corpus seen up to its own day);
- LM scores equal ``LmIndex.score``;
- the drained inverted index answers BM25 exactly like a one-shot
  build;
- classifier scores equal ``score_with_weights`` over the stored
  weights;
- the corpus equals manual ``corpus_cycle`` ticks.

The lake is the session's ``crawl_lake`` (tests/crawl_lake.py).  Both
days run with ``compact_over_files=1``, so every equality above holds
after the maintenance pass has rewritten the stores, and the second
day ticked against the compacted indexes.  The last two tests pin
exactly-once: a re-run on the same checkpoint and a wiped checkpoint
advance no store version (``crawl_replay``, whose per-store checks are
in the test_streaming_* modules), and a file staged before a wiped
checkpoint's re-drain lands exactly its new docs.  That last test
mutates the shared lake, so it requests ``crawl_replay`` first and
runs last (file order).

The multi-day composition (HLL events, export, retention, drift
retrain, day-over-day wall) is the slow tier in test_daily_tick.py."""

from __future__ import annotations

import os
import shutil
from collections import Counter

from pyspark.sql import functions as F

from etl_tpch_spark.pipeline.corpus import corpus_cycle
from etl_tpch_spark.pipeline.daily import crawl_day_tick
from etl_tpch_spark.pipeline.txlog import TxTable

from .crawl_lake import COLS, corpus_rows, stage


class _T:  # Tables-shaped shim for _duplicate_spans over a subset
    def __init__(self, docs):
        self.documents = docs


def test_each_day_ticked_and_maintenance_compacted(crawl_lake):
    """One micro-batch per staged day, and the maintenance pass really
    rewrote the stores (so the equalities below hold after it).  The
    span index stays under compaction's target file count at this
    scale, so its compaction keeps the files as they are."""
    root = crawl_lake["root"]
    assert [len(o["cycles"]) for o in crawl_lake["outs"]] == [1, 1]
    for n in ("corpus", "dedup_index", "search_index/postings"):
        t = TxTable(os.path.join(root, n))
        ops = [t.commit_entry(v)["op"] for v in t.versions()]
        assert "compact" in ops, (n, ops)


def test_spans_follow_prefix_batch_semantics(spark, crawl_lake):
    """Day d's span rows equal the batch operator over days 0..d,
    restricted to day d's docs."""
    from etl_tpch_spark.queries.text import _duplicate_spans

    def span_set(df):
        return {
            (r.doc_id, r.span_start, r.span_end, r.n_tokens, r.n_windows)
            for r in df.collect()
        }

    spans = TxTable(os.path.join(crawl_lake["root"], "spans"))
    got = span_set(spans.read(spark))
    day0 = span_set(_duplicate_spans(_T(crawl_lake["days"][0])))
    both = span_set(_duplicate_spans(_T(crawl_lake["staged"])))
    want = {s for s in day0 if s[0] % 3 == 0}
    want |= {s for s in both if s[0] % 3 == 1}
    assert got == want
    assert {s[0] % 3 for s in got} == {0, 1}  # spans on both days


def test_lm_scores_equal_batch_scoring(spark, crawl_lake):
    from etl_tpch_spark.pipeline.lm_index import LmIndex

    def rows(df):
        return {
            (r.doc_id, r.n_bigrams, r.covered_bigrams, r.avg_p_micro)
            for r in df.collect()
        }

    root = crawl_lake["root"]
    staged = crawl_lake["staged"]
    got = TxTable(os.path.join(root, "scores")).read(spark)
    want = LmIndex(os.path.join(root, "lm")).score(spark, staged)
    assert got.count() == want.count()
    assert rows(got) == rows(want) and rows(got)


def test_search_index_answers_like_one_shot_build(spark, crawl_lake):
    from etl_tpch_spark.pipeline.search_index import SearchIndex
    from etl_tpch_spark.queries.text import _BM25_TERMS, _BM25_TOPK

    def top(idx):
        hits = idx.search(spark, _BM25_TERMS, _BM25_TOPK)
        return [tuple(r) for r in hits.collect()]

    staged = crawl_lake["staged"]
    clean = SearchIndex(str(crawl_lake["base"] / "one_shot"))
    clean.ingest(staged, batch_id="one-shot")
    drained = SearchIndex(os.path.join(crawl_lake["root"], "search_index"))
    assert top(drained) == top(clean) and top(clean)


def test_clf_scores_equal_stored_weight_scoring(spark, crawl_lake):
    from etl_tpch_spark.pipeline.quality_clf import (
        QualityClfIndex,
        doc_features,
        score_with_weights,
    )

    root = crawl_lake["root"]
    staged = crawl_lake["staged"]
    got = TxTable(os.path.join(root, "clf_scores")).read(spark)
    assert got.count() == staged.count()
    idx = QualityClfIndex(os.path.join(root, "quality_clf"))
    want = {
        r["doc_id"]: r["score_q"]
        for r in score_with_weights(
            doc_features(staged), idx.weights_list(spark)
        ).collect()
    }
    assert {r["doc_id"]: r["score_q"] for r in got.collect()} == want


def test_corpus_equals_manual_cycle_ticks(spark, crawl_lake):
    got = corpus_rows(crawl_lake["root"], spark)
    assert got == corpus_rows(crawl_lake["manual"], spark) and got
    assert all(
        c["n_appended"] > 0 for o in crawl_lake["outs"] for c in o["cycles"]
    )


def test_rerun_and_wiped_checkpoint_advance_no_version(crawl_replay):
    """Exactly-once across restarts, over all ten stores: the re-run
    on the same checkpoint drains nothing, the wiped checkpoint's
    re-drain of day 0 is one micro-batch under the batch id every
    store already recorded."""
    before = crawl_replay["before"]["versions"]
    assert crawl_replay["rerun"]["cycles"] == []
    assert crawl_replay["after_rerun"]["versions"] == before
    assert len(crawl_replay["wiped"]["cycles"]) == 1
    assert crawl_replay["after_wiped"]["versions"] == before


def test_wiped_checkpoint_lands_exactly_new_docs(
    spark, crawl_lake, crawl_replay
):
    """A checkpoint lost after a new file was staged: the restarted
    drain's epoch 0 re-bundles old and new docs under a new content
    id.  The drain drops every old doc up front, so the corpus gains
    exactly what a manual tick of the new day gains, the score tables
    and doclens keep one row per doc, and no store's rows for the old
    docs change."""
    root, base = crawl_lake["root"], crawl_lake["base"]
    manual = crawl_lake["manual"]
    d2 = crawl_lake["days"][2]

    def rows(name, old):
        df = TxTable(os.path.join(root, name)).read(spark)
        df = df.filter((F.col("doc_id") % 3 < 2) == old)
        return Counter(repr(r) for r in df.collect())  # rows may hold arrays

    keyed = (
        "corpus", "dedup_index", "spans", "span_index", "scores",
        "search_index/postings", "search_index/doclens", "clf_scores",
    )
    old_rows = {n: rows(n, True) for n in keyed}
    crawl = str(base / "crawl" / "d0")
    stage(d2, crawl, 2)
    shutil.rmtree(os.path.join(root, "checkpoints", "docs"))
    out = crawl_day_tick(spark, crawl, root)

    want = corpus_cycle(spark, d2.select(*COLS), manual, batch_id="day-2")
    (cycle,) = out["cycles"]
    assert cycle["n_seen_dropped"] == crawl_lake["days"][0].count() > 0
    assert cycle["n_appended"] == want["n_appended"] > 0
    got = corpus_rows(root, spark)
    assert got == corpus_rows(manual, spark)
    assert len(got) == len({doc_id for doc_id, _ in got})

    n_docs = crawl_lake["staged"].count() + d2.count()
    for n in ("scores", "clf_scores", "search_index/doclens"):
        ids = TxTable(os.path.join(root, n)).read(spark).select("doc_id")
        assert ids.count() == ids.distinct().count() == n_docs, n
    assert {n: rows(n, True) for n in keyed} == old_rows
    assert rows("scores", False)  # the new day did land
