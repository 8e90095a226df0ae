"""Persisted inverted index (pipeline/search_index.py): batched
ingests equal one-shot, indexed search equals the full-scan BM25 query
bit-for-bit, replays (including a crash between the two table commits)
are no-ops, optimize() clusters postings so a term probe opens a
fraction of the files, and the search plan never touches corpus text."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_tpch_spark.catalog import load_table
from etl_tpch_spark.pipeline.search_index import SearchIndex
from etl_tpch_spark.queries.text import (
    _BM25_TERMS,
    _BM25_TOPK,
    text_bm25_topk,
)


def _build_batched(spark, sf_dir, path) -> SearchIndex:
    docs = load_table(spark, sf_dir, "documents")
    idx = SearchIndex(str(path))
    idx.ingest(docs.filter(F.col("doc_id") % 2 == 0), batch_id="crawl-0")
    idx.ingest(docs.filter(F.col("doc_id") % 2 == 1), batch_id="crawl-1")
    return idx


def test_indexed_search_equals_query(spark, sf_dir, tmp_path):
    """search() over two ingest batches reproduces the registered
    full-scan query exactly (shared functions/bm25.py kernel + postings
    summation associativity ⇒ equality, not tolerance)."""
    idx = _build_batched(spark, sf_dir, tmp_path / "inv")
    got = [tuple(r) for r in idx.search(spark, _BM25_TERMS, _BM25_TOPK).collect()]
    want = [tuple(r) for r in text_bm25_topk(spark, sf_dir).collect()]
    assert got == want
    assert len(got) == _BM25_TOPK


def test_search_survives_optimize(spark, sf_dir, tmp_path):
    """The layout pass changes files, not results."""
    idx = _build_batched(spark, sf_dir, tmp_path / "inv")
    before = [tuple(r) for r in idx.search(spark, _BM25_TERMS, _BM25_TOPK).collect()]
    idx.optimize(spark)
    after = [tuple(r) for r in idx.search(spark, _BM25_TERMS, _BM25_TOPK).collect()]
    assert after == before


def test_optimize_makes_probes_skip_files(spark, sf_dir, tmp_path):
    """After the term-clustered rewrite, a single-term probe opens a
    strict subset of the postings files — the inverted-file contract
    realized through min/max term ranges + bloom sidecars, decided
    driver-side from the log."""
    idx = _build_batched(spark, sf_dir, tmp_path / "inv")
    idx.optimize(spark, target_files=8)
    all_files = set(idx.postings.snapshot_files())
    assert len(all_files) == 8
    probed = idx.probed_files(["vector"])
    assert probed and len(probed) < len(all_files)
    # the probe still finds every posting the full scan holds
    full = (
        idx.postings.read(spark)
        .filter(F.col("term") == "vector")
        .count()
    )
    got = idx.probe(spark, ["vector"]).count()
    assert got == full > 0


def test_ingest_replay_and_crash_window(spark, sf_dir, tmp_path):
    """Exactly-once across TWO tables: a full replay no-ops both
    appends, and a crash that landed doclens but not postings
    completes on replay (the landed half no-ops, the missing half
    lands)."""
    docs = load_table(spark, sf_dir, "documents")
    half = docs.filter(F.col("doc_id") % 2 == 0)
    idx = SearchIndex(str(tmp_path / "inv"))
    idx.ingest(half, batch_id="crawl-0")
    p_v, d_v = idx.postings.latest_version(), idx.doclens.latest_version()
    idx.ingest(half, batch_id="crawl-0")  # replayed crawl batch
    assert idx.postings.latest_version() == p_v
    assert idx.doclens.latest_version() == d_v

    # crash window: doclens committed, postings append never ran
    other = docs.filter(F.col("doc_id") % 2 == 1)
    toks = other.select(
        "doc_id",
        F.filter(F.split("text", " "), lambda x: x != "").alias("toks"),
    )
    idx.doclens.append(
        toks.select("doc_id", F.size("toks").cast("long").alias("dl")),
        batch_id="crawl-1-dl",
    )
    d_v2 = idx.doclens.latest_version()
    idx.ingest(other, batch_id="crawl-1")  # the replay
    assert idx.doclens.latest_version() == d_v2  # landed half no-oped
    assert idx.postings.latest_version() == p_v + 1  # missing half landed
    # index state now equals a clean two-batch build
    clean = SearchIndex(str(tmp_path / "clean"))
    clean.ingest(docs.filter(F.col("doc_id") % 2 == 0), batch_id="c0")
    clean.ingest(other, batch_id="c1")
    got = [tuple(r) for r in idx.search(spark, _BM25_TERMS, _BM25_TOPK).collect()]
    want = [tuple(r) for r in clean.search(spark, _BM25_TERMS, _BM25_TOPK).collect()]
    assert got == want


def test_search_plan_never_reads_corpus_text(spark, sf_dir, tmp_path):
    """The O(new)/index-served contract: a search's executed plan scans
    postings + doclens TxTable files only — zero documents.parquet
    scans, zero retokenization."""
    idx = _build_batched(spark, sf_dir, tmp_path / "inv")
    res = idx.search(spark, _BM25_TERMS, _BM25_TOPK)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "documents.parquet" not in plan
    assert str(tmp_path / "inv") in plan
    assert res.count() > 0


def test_null_and_empty_text_docs_are_harmless(spark, sf_dir, tmp_path):
    """External crawl input routinely contains empty or null text: such
    docs must contribute dl=0 and zero postings — never a negative
    doclen corrupting avgdl (the size(null)=-1 hazard)."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, ""), (3, None), (4, "   ")], schema
    )
    idx = SearchIndex(str(tmp_path / "inv"))
    idx.ingest(docs, batch_id="b0")
    dl = {r.doc_id: r.dl for r in idx.doclens.read(spark).collect()}
    assert dl == {1: 2, 2: 0, 3: 0, 4: 0}
    assert idx.postings.read(spark).count() == 2  # alpha, beta
    top = idx.search(spark, ["alpha"], 5).collect()
    assert [r.doc_id for r in top] == [1]


def test_probe_unknown_term_and_empty_query(spark, sf_dir, tmp_path):
    idx = _build_batched(spark, sf_dir, tmp_path / "inv")
    assert idx.probe(spark, ["zzz_not_a_term"]).count() == 0
    assert idx.probe(spark, []).count() == 0


def test_empty_index_searches_to_empty_ranking(spark, tmp_path):
    idx = SearchIndex(str(tmp_path / "fresh"))
    assert idx.probe(spark, ["x"]).count() == 0
    assert idx.search(spark, ["x", "y"], 5).count() == 0


def test_duplicate_arrival_is_idempotent(spark, sf_dir, tmp_path):
    """The one duplicate mode exactly-once ids cannot close: a wiped
    checkpoint over RE-BUNDLED crawl files re-ingests docs under fresh
    content ids.  MAX-dedup in probe/search keeps rankings identical
    to a clean build instead of silently doubling tf and avgdl."""
    docs = load_table(spark, sf_dir, "documents")
    clean = SearchIndex(str(tmp_path / "clean"))
    clean.ingest(docs, batch_id="once")
    want = [
        tuple(r)
        for r in clean.search(spark, _BM25_TERMS, _BM25_TOPK).collect()
    ]
    dup = SearchIndex(str(tmp_path / "dup"))
    dup.ingest(docs, batch_id="bundling-a")
    dup.ingest(docs, batch_id="bundling-b")  # same docs, new id
    got = [
        tuple(r)
        for r in dup.search(spark, _BM25_TERMS, _BM25_TOPK).collect()
    ]
    assert got == want


# ------------------------------------------------ MaxScore early exit


def _stopword_corpus(spark, n=400, extra_offset=0):
    """One discriminative term + one ubiquitous stopword + one medium
    term — the query shape whose heavy postings lists MaxScore exists
    to prune."""
    rows = []
    for i in range(extra_offset, extra_offset + n):
        txt = "the the filler body text"
        if i % 80 == 0:
            txt += " zanzibar"
        if i % 9 == 0:
            txt += " medium"
        rows.append((i, txt))
    return spark.createDataFrame(rows, "doc_id LONG, text STRING")


def test_maxscore_pruned_equals_search_and_engages(spark, tmp_path):
    """search_pruned returns the EXACT same top-k as search(), and on
    the stopword-shaped corpus the plan genuinely classifies the heavy
    terms non-essential (not the fallback path)."""
    idx = SearchIndex(str(tmp_path / "inv"))
    idx.ingest(_stopword_corpus(spark), batch_id="b0")
    idx.optimize(spark)
    terms = ["zanzibar", "the", "medium"]
    plan = idx.maxscore_plan(spark, terms, 3)
    assert "the" in plan["nonessential"]
    assert "zanzibar" in plan["essential"]
    got = [tuple(r) for r in idx.search_pruned(spark, terms, 3).collect()]
    want = [tuple(r) for r in idx.search(spark, terms, 3).collect()]
    assert got == want
    assert len(got) == 3


def test_maxscore_admissible_after_post_optimize_ticks(spark, tmp_path):
    """Ticks after optimize() leave termstats stale-LOW — the safe
    direction (idf ceilings only overshoot).  New docs shift N, avgdl,
    true df, and even add new top-k contenders; the pruned search must
    stay exactly equal to the unpruned one."""
    idx = SearchIndex(str(tmp_path / "inv"))
    idx.ingest(_stopword_corpus(spark), batch_id="b0")
    idx.optimize(spark)
    # a post-optimize crawl day: more rare-term docs, shorter texts
    idx.ingest(
        spark.createDataFrame(
            [(10_000 + i, "zanzibar medium the") for i in range(25)],
            "doc_id LONG, text STRING",
        ),
        batch_id="b1",
    )
    terms = ["zanzibar", "the", "medium"]
    got = [tuple(r) for r in idx.search_pruned(spark, terms, 5).collect()]
    want = [tuple(r) for r in idx.search(spark, terms, 5).collect()]
    assert got == want


def test_maxscore_fallbacks(spark, tmp_path):
    """No provably non-essential term ⇒ the plan degrades to the
    unpruned shape, never to an error: single-term queries, < k corpus
    matches, and a never-optimized index (no termstats)."""
    idx = SearchIndex(str(tmp_path / "inv"))
    idx.ingest(_stopword_corpus(spark, n=100), batch_id="b0")
    # never optimized: no termstats table
    plan = idx.maxscore_plan(spark, ["zanzibar", "the"], 3)
    assert plan["nonessential"] == []
    idx.optimize(spark)
    # single term: nothing to partition
    assert idx.maxscore_plan(spark, ["the"], 3)["nonessential"] == []
    # fewer matches than k: theta stays 0, everything essential
    plan = idx.maxscore_plan(spark, ["zanzibar", "the"], 50)
    assert plan["nonessential"] == []
    got = [
        tuple(r)
        for r in idx.search_pruned(spark, ["zanzibar", "the"], 50).collect()
    ]
    want = [
        tuple(r) for r in idx.search(spark, ["zanzibar", "the"], 50).collect()
    ]
    assert got == want


def test_maxscore_pruned_on_fixture_corpus(spark, sf_dir, tmp_path):
    """End-to-end on the real documents table with the registered
    query's terms: pruned == unpruned == the full-scan query."""
    idx = _build_batched(spark, sf_dir, tmp_path / "inv")
    idx.optimize(spark)
    got = [
        tuple(r)
        for r in idx.search_pruned(spark, _BM25_TERMS, _BM25_TOPK).collect()
    ]
    want = [tuple(r) for r in text_bm25_topk(spark, sf_dir).collect()]
    assert got == want
