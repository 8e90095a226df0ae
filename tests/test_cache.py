"""The derived-state cache (etl_tpch_spark/cache.py): one key rule for
every session memo — (session, kind, identity) keeps ONE live version —
and one build-once/open-many lifecycle for every on-disk store.

Pinned here: per memo kind, an unchanged input is a hit, a rewritten
table is a miss that unpersists the superseded DataFrame; a second
pass over the trained-index queries records zero misses; another
session misses; concurrent misses of one key build once; a nested
miss (edge list → k-means fit) completes; and ``stored`` opens a
complete generation, rebuilds an incomplete one, and writes its
marker last.
"""

from __future__ import annotations

import os
import shutil
import sys
import threading
import time

import pytest

from etl_tpch_spark import cache
from etl_tpch_spark.catalog import Tables, artifact_store, table_stamp


def _copy_fixture(sf_dir, tmp_path, names) -> str:
    sf = str(tmp_path / "sf")
    os.makedirs(sf, exist_ok=True)
    for n in names:
        src = os.path.join(sf_dir, f"{n}.parquet")
        copy = shutil.copytree if os.path.isdir(src) else shutil.copy
        copy(src, os.path.join(sf, f"{n}.parquet"))
    return sf


def _rewrite(sf, name) -> None:
    """Give the table a new stamp (same bytes, later mtime) — what a
    regenerated fixture at the same path looks like to table_stamp."""
    p = os.path.join(sf, f"{name}.parquet")
    st = os.stat(p)
    os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))


def _partsupp(spark, sf):
    from etl_tpch_spark.queries.tpch_partsupp import derived_partsupp

    return derived_partsupp(Tables(spark, sf))


def _reference_lm(spark, sf):
    from etl_tpch_spark.queries.text import _reference_lm

    return _reference_lm(Tables(spark, sf))


def _edges(spark, sf):
    from etl_tpch_spark.queries.graph import _edges

    return _edges(spark, sf)


def _kmeans_fit(spark, sf):
    from etl_tpch_spark.similarity.kmeans import kmeans_fit

    return kmeans_fit(
        Tables(spark, sf).embeddings,
        4,
        1,
        cache_key=table_stamp(sf, "embeddings"),
    )[0]


def _bpe_vocab(spark, sf):
    from etl_tpch_spark.queries.bpe import _trained_vocab

    return _trained_vocab(spark, Tables(spark, sf))[0]


# (memo kind, builder returning the memoized DataFrame, tables it
# reads, the table whose rewrite must invalidate it)
KINDS = [
    ("derived-partsupp", _partsupp, ("part", "supplier"), "part"),
    ("reference-lm", _reference_lm, ("documents",), "documents"),
    ("sim-edges", _edges, ("embeddings",), "embeddings"),
    ("kmeans-fit", _kmeans_fit, ("embeddings",), "embeddings"),
    ("bpe-vocab", _bpe_vocab, ("documents",), "documents"),
]


@pytest.mark.parametrize(
    "kind,build,tables,rewritten", KINDS, ids=[k[0] for k in KINDS]
)
def test_memo_hit_miss_and_release(
    spark, sf_dir, tmp_path, kind, build, tables, rewritten
):
    sf = _copy_fixture(sf_dir, tmp_path, tables)
    first = build(spark, sf)

    misses = cache.stats()["misses"]
    assert build(spark, sf) is first  # unchanged inputs: a hit
    assert cache.stats()["misses"] == misses

    _rewrite(sf, rewritten)
    evictions = cache.stats()["evictions"]
    second = build(spark, sf)
    assert second is not first  # new stamp: rebuilt
    assert cache.stats()["misses"] > misses
    assert cache.stats()["evictions"] > evictions
    assert not first.is_cached  # superseded value released
    assert sorted(map(tuple, second.collect())) == sorted(
        map(tuple, first.collect())
    )  # same bytes, same derivation


def test_second_pass_of_trained_queries_records_no_miss(spark, sf_dir):
    from etl_tpch_spark.registry import REGISTRY

    names = ("sim_ann_topk_ivf", "sim_kmeans_clusters", "sim_ann_topk_pq")
    first = {n: REGISTRY[n].fn(spark, sf_dir).collect() for n in names}
    before = cache.stats()
    second = {n: REGISTRY[n].fn(spark, sf_dir).collect() for n in names}
    after = cache.stats()
    assert after["misses"] == before["misses"]
    assert after["hits"] > before["hits"]
    assert second == first


def test_another_session_misses(spark):
    calls = []

    def build():
        calls.append(1)
        return len(calls)

    assert cache.memo(spark, "test-session", "id", 1, build) == 1
    assert cache.memo(spark, "test-session", "id", 1, build) == 1
    other = spark.newSession()
    assert cache.memo(other, "test-session", "id", 1, build) == 2
    assert len(calls) == 2


def _run_threads(fns, timeout=300):
    threads = [threading.Thread(target=f, daemon=True) for f in fns]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout)
    assert not any(t.is_alive() for t in threads), "memo deadlocked"


def test_concurrent_misses_build_once(spark):
    calls, out = [], []
    start = threading.Barrier(8)

    def build():
        calls.append(1)
        time.sleep(0.2)  # hold the miss open while the others arrive
        return object()

    def worker():
        start.wait()
        out.append(cache.memo(spark, "test-threads", "id", 1, build))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # interleave the check-then-build
    try:
        _run_threads([worker] * 8, timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert len(calls) == 1
    assert len(out) == 8 and all(o is out[0] for o in out)


def test_nested_miss_completes(spark, sf_dir, tmp_path):
    """The edge-list miss builds a k-means fit (another memo miss and
    another store) while holding its own locks — cold on both levels
    (fresh fixture path ⇒ no stored generation), it must finish."""
    from etl_tpch_spark.queries.graph import _edges

    sf = _copy_fixture(sf_dir, tmp_path, ("embeddings",))
    out = []
    _run_threads([lambda: out.append(_edges(spark, sf).count())])
    assert out and out[0] >= 0
    misses = cache.stats()["misses"]
    _edges(spark, sf)
    assert cache.stats()["misses"] == misses


def test_stored_lifecycle(tmp_path):
    ident, stamp = str(tmp_path / "src"), "stamp-1"
    shutil.rmtree(artifact_store("test-store", ident, stamp)[0], True)
    built, opened = [], []

    def build(d):
        assert os.listdir(d) == []  # wiped; the marker comes after
        with open(os.path.join(d, "v"), "w") as f:
            f.write("x")
        built.append(d)
        return "built"

    def open_(d):
        opened.append(d)
        return "opened"

    assert cache.stored("test-store", ident, stamp, build, open_) == "built"
    d = built[0]
    assert artifact_store("test-store", ident, stamp) == (d, True)
    assert cache.stored("test-store", ident, stamp, build, open_) == "opened"
    assert opened == [d] and len(built) == 1

    # a crashed build (no marker) leaves debris; the next call wipes
    # and rebuilds instead of opening it
    os.remove(os.path.join(d, "_BUILD_COMPLETE"))
    with open(os.path.join(d, "debris"), "w") as f:
        f.write("partial")
    assert cache.stored("test-store", ident, stamp, build, open_) == "built"
    assert len(built) == 2 and not os.path.exists(os.path.join(d, "debris"))

    # a new stamp is a new generation directory; the old one stays
    d2 = artifact_store("test-store", ident, "stamp-2")[0]
    shutil.rmtree(d2, True)
    out = cache.stored("test-store", ident, "stamp-2", build, open_)
    assert out == "built"
    assert built[-1] == d2 != d
    assert os.path.dirname(d2) == os.path.dirname(d)
    assert artifact_store("test-store", ident, stamp)[1]
    shutil.rmtree(os.path.dirname(d), True)
