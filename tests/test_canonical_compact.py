"""Canonical compaction (txlog ``compact(dedup_keys=...)``) and the
search-index fast path that trusts its mark.

The mark lets SearchIndex.probe()/_dl() skip their per-query dedup
exchange, so these tests pin: the mark lands only on a clean rewrite
and any later append/overwrite voids it; a table the per-column max
cannot dedup faithfully is refused; the skip returns exactly the rows
the dedup path returns; and each read takes its file list and its
canonical flag from ONE pinned snapshot version, so a compaction or an
append landing between the two cannot pair one snapshot's files with
another's flag.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from etl_tpch_spark.pipeline import search_index as si
from etl_tpch_spark.pipeline.search_index import SearchIndex
from etl_tpch_spark.pipeline.txlog import TxTable

DOCS = [
    (1, "alpha beta alpha gamma"),
    (2, "beta delta"),
    (3, "alpha alpha delta epsilon"),
]


def _docs(spark, rows=DOCS):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _dup_index(spark, path) -> SearchIndex:
    """An index whose head holds DUPLICATE (doc, term) postings and
    doclens rows: the same docs re-ingested under a fresh batch id
    (the wiped-checkpoint replay mode the dedup exists for)."""
    idx = SearchIndex(str(path))
    idx.ingest(_docs(spark), batch_id="crawl-0")
    idx.ingest(_docs(spark), batch_id="crawl-0-rebundled")
    return idx


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _kv(spark, rows):
    return spark.createDataFrame(rows, "k long, v long")


# ------------------------------------------------------------ the mark


def test_mark_set_on_clean_rewrite_and_voided_by_append(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.append(_kv(spark, [(1, 1), (2, 2)]))
    t.append(_kv(spark, [(1, 5)]))
    v = t.compact(spark, 1, dedup_keys=("k",))
    assert t.commit_entry(v)["canonical"] == ["k"]
    assert si._canonical(t, ("k",), v)
    assert _rows(t.read(spark)) == [(1, 5), (2, 2)]
    t.append(_kv(spark, [(3, 3)]))
    assert "canonical" not in t.commit_entry(t.latest_version())
    assert not si._canonical(t, ("k",), t.latest_version())
    # the old compact keeps its mark: readers pinned to it may skip
    assert si._canonical(t, ("k",), v)


def test_mark_voided_by_overwrite(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.append(_kv(spark, [(1, 1), (1, 2)]))
    t.compact(spark, 1, dedup_keys=("k",))
    t.overwrite(_kv(spark, [(1, 1), (1, 2)]))
    assert not si._canonical(t, ("k",), t.latest_version())


def test_mark_withheld_when_rival_append_is_carried(
    spark, tmp_path, monkeypatch
):
    """A rival append landing between the compaction's read and its
    commit is carried into the manifest undeduped — so the commit must
    not claim the snapshot is canonical."""
    path = str(tmp_path / "t")
    t = TxTable(path)
    t.append(_kv(spark, [(1, 1), (1, 2)]))
    orig = TxTable._write_data

    def write_then_rival(self, df, *a, **kw):
        out = orig(self, df, *a, **kw)
        monkeypatch.setattr(TxTable, "_write_data", orig)
        TxTable(path).append(_kv(spark, [(1, 9)]))
        return out

    monkeypatch.setattr(TxTable, "_write_data", write_then_rival)
    v = t.compact(spark, 1, dedup_keys=("k",))
    entry = t.commit_entry(v)
    assert entry["op"] == "compact"
    assert "canonical" not in entry
    assert _rows(t.read(spark)) == [(1, 2), (1, 9)]


def test_dedup_keys_need_exactly_one_value_column(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.append(
        spark.createDataFrame([(1, 1, 2), (1, 3, 0)], "k long, a long, b long")
    )
    with pytest.raises(ValueError, match="exactly one non-key column"):
        t.compact(spark, 1, dedup_keys=("k",))
    with pytest.raises(ValueError, match="exactly one non-key column"):
        t.compact(spark, 1, dedup_keys=("k", "a", "b"))


# ------------------------------------------------ the skip it enables


def test_canonical_skip_returns_the_dedup_rows(spark, tmp_path, monkeypatch):
    idx = _dup_index(spark, tmp_path / "inv")
    terms = ["alpha", "delta", "zeta"]
    idx.optimize(spark, target_files=2)
    assert si._canonical(
        idx.postings, ("term", "doc_id"), idx.postings.latest_version()
    )
    assert si._canonical(
        idx.doclens, ("doc_id",), idx.doclens.latest_version()
    )
    skipped = (_rows(idx.probe(spark, terms)), _rows(idx._dl(spark)))
    monkeypatch.setattr(si, "_canonical", lambda *a: False)
    deduped = (_rows(idx.probe(spark, terms)), _rows(idx._dl(spark)))
    assert skipped == deduped
    assert len(skipped[0]) == len({(d, t) for d, t, _ in skipped[0]})


# ------------------------------------------------ one pinned snapshot


def test_probe_pins_one_version_across_a_compact(
    spark, tmp_path, monkeypatch
):
    """A canonical compact landing after probe() listed its files (from
    the duplicated head) but before it read the canonical flag must not
    make it skip the dedup over those duplicated files."""
    idx = _dup_index(spark, tmp_path / "inv")
    terms = ["alpha", "delta"]
    want = _rows(idx.probe(spark, terms))
    assert len(want) == len({(d, t) for d, t, _ in want})
    orig = si._canonical

    def compact_first(t, *a):
        if t.path == idx.postings.path:
            monkeypatch.setattr(si, "_canonical", orig)
            t.compact(
                spark,
                1,
                cluster_by=("term", "doc_id"),
                dedup_keys=("term", "doc_id"),
            )
        return orig(t, *a)

    monkeypatch.setattr(si, "_canonical", compact_first)
    assert _rows(idx.probe(spark, terms)) == want


def test_dl_pins_one_version_across_an_append(spark, tmp_path, monkeypatch):
    """An append landing after _dl() read a canonical flag but before
    it read the data must not put undeduped rows under that flag."""
    idx = _dup_index(spark, tmp_path / "inv")
    idx.doclens.compact(spark, 1, dedup_keys=("doc_id",))
    want = _rows(idx._dl(spark))
    orig = si._canonical

    def append_after(t, *a):
        out = orig(t, *a)
        monkeypatch.setattr(si, "_canonical", orig)
        t.append(
            spark.createDataFrame([(1, 4)], "doc_id long, dl long")
        )  # doc 1 again: a duplicate row
        return out

    monkeypatch.setattr(si, "_canonical", append_after)
    got = _rows(idx._dl(spark))
    assert got == want
    assert len(got) == len({d for d, _ in got})
    # and the next read sees the append, deduped
    assert _rows(idx._dl(spark)) == want


def test_probe_of_empty_term_list_and_index(spark, tmp_path):
    idx = SearchIndex(str(tmp_path / "inv"))
    assert idx.probe(spark, ["alpha"]).count() == 0
    idx.ingest(_docs(spark), batch_id="b0")
    assert idx.probe(spark, []).count() == 0
    assert idx.probe(spark, ["alpha"]).filter(F.col("tf") == 2).count() == 2
