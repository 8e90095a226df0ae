"""Stored-artifact lifecycle for the trained session caches (VERDICT
r6 #2): the k-means fit and the similarity-graph edge list are promoted
from session memos to disk TxTables (cache.stored), so a FRESH
session opens the artifact instead of repaying training.  Determinism
(integer Lloyd, fold-ordered cosines) makes the stored artifacts
bit-identical to a fresh run; the marker holds the corpus stamp, so a
regenerated fixture rebuilds.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pytest

from etl_tpch_spark import cache
from etl_tpch_spark.catalog import artifact_store, table_stamp
from etl_tpch_spark.similarity import kmeans as km


def _fit_dir(cache_key: str, k: int, iters: int) -> str:
    real = cache_key.split("|", 1)[0]
    return artifact_store("kmeans-fit", f"{real}|{k}|{iters}", cache_key)[0]


def _edge_dir(sf_dir: str, stamp: str, threshold: float) -> str:
    from etl_tpch_spark.queries import graph as g

    return artifact_store(
        "sim-edges", g._edge_identity(sf_dir, threshold), stamp
    )[0]


def _vectors(spark, n=60, seed=3):
    rng = np.random.default_rng(seed)
    rows = [
        (int(i), [float(x) for x in rng.normal(size=8)]) for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).coalesce(1)


def _wipe(cache_key: str, k: int, iters: int) -> None:
    shutil.rmtree(_fit_dir(cache_key, k, iters), ignore_errors=True)


def test_fit_cold_session_loads_artifact_without_training(
    spark, monkeypatch
):
    emb = _vectors(spark)
    ck = "/persist/fit|stamp-1"
    _wipe(ck, 4, 1)
    cache.clear()
    final, cents = km.kmeans_fit(emb, 4, 1, cache_key=ck)
    warm = sorted(map(tuple, final.collect()))
    assert os.path.exists(
        os.path.join(_fit_dir(ck, 4, 1), "_BUILD_COMPLETE")
    )

    # fresh session: memory cache empty; training must NOT run
    cache.clear()

    def boom(*a, **kw):  # pragma: no cover - failure path
        raise AssertionError("cold session retrained instead of loading")

    monkeypatch.setattr(km, "_init_centroids", boom)
    monkeypatch.setattr(km, "_update", boom)
    final2, cents2 = km.kmeans_fit(emb, 4, 1, cache_key=ck)
    assert cents2 == cents
    assert sorted(map(tuple, final2.collect())) == warm
    # and it landed back in the session memo for plan reuse
    misses = cache.stats()["misses"]
    assert km.kmeans_fit(emb, 4, 1, cache_key=ck)[0] is final2
    assert cache.stats()["misses"] == misses


def test_fit_stale_stamp_retrains_and_replaces(spark):
    emb = _vectors(spark, seed=5)
    old, new = "/persist/fit2|stamp-old", "/persist/fit2|stamp-new"
    _wipe(old, 4, 1)
    cache.clear()
    km.kmeans_fit(emb, 4, 1, cache_key=old)
    cache.clear()
    # same path, new stamp: marker mismatch → retrain → marker updated
    km.kmeans_fit(emb, 4, 1, cache_key=new)
    marker = os.path.join(_fit_dir(new, 4, 1), "_BUILD_COMPLETE")
    with open(marker) as f:
        assert f.read() == new


@pytest.mark.slow  # r9 tier rebalance (VERDICT r8 #5): ~8 s lifecycle e2e
def test_fit_artifact_distinct_per_k_and_iters(spark):
    emb = _vectors(spark, seed=7)
    ck = "/persist/fit3|stamp-1"
    for k, it in ((2, 1), (4, 1), (4, 2)):
        _wipe(ck, k, it)
    cache.clear()
    km.kmeans_fit(emb, 2, 1, cache_key=ck)
    km.kmeans_fit(emb, 4, 2, cache_key=ck)
    d21 = _fit_dir(ck, 2, 1)
    d42 = _fit_dir(ck, 4, 2)
    assert d21 != d42
    assert os.path.exists(os.path.join(d21, "_BUILD_COMPLETE"))
    assert os.path.exists(os.path.join(d42, "_BUILD_COMPLETE"))


def test_edges_cold_session_reads_stored_table(spark, sf_dir, monkeypatch):
    from etl_tpch_spark.queries import graph as g
    from etl_tpch_spark.queries.similarity import PAIR_THRESHOLD

    stamp = table_stamp(sf_dir, "embeddings")
    root = _edge_dir(sf_dir, stamp, PAIR_THRESHOLD)
    shutil.rmtree(root, ignore_errors=True)
    cache.clear()
    warm = sorted(map(tuple, g._edges(spark, sf_dir).collect()))
    assert os.path.exists(os.path.join(root, "_BUILD_COMPLETE"))

    cache.clear()

    def boom(*a, **kw):  # pragma: no cover - failure path
        raise AssertionError("cold session recomputed the edge kernel")

    monkeypatch.setattr(g, "cosine_pairs_threshold_cells", boom)
    cold = sorted(map(tuple, g._edges(spark, sf_dir).collect()))
    assert cold == warm


def test_edges_stale_stamp_rebuilds(spark, sf_dir, monkeypatch):
    from etl_tpch_spark.queries import graph as g
    from etl_tpch_spark.queries.similarity import PAIR_THRESHOLD

    real_stamp = table_stamp(sf_dir, "embeddings")
    cache.clear()
    g._edges(spark, sf_dir)  # artifact exists at real_stamp

    # simulate a regenerated fixture: same path, different stamp.
    # wipe the fake stamp's GENERATION first — a previous test session
    # already built it (generational dirs persist by design)
    cache.clear()
    fake_stamp = real_stamp + "-regen"
    shutil.rmtree(
        _edge_dir(sf_dir, fake_stamp, PAIR_THRESHOLD), ignore_errors=True
    )
    monkeypatch.setattr(g, "table_stamp", lambda _sf, _name: fake_stamp)
    called = {}
    orig = g.cosine_pairs_threshold_cells

    def spy(*a, **kw):
        called["yes"] = True
        return orig(*a, **kw)

    monkeypatch.setattr(g, "cosine_pairs_threshold_cells", spy)
    g._edges(spark, sf_dir)
    assert called, "stale marker must force a kernel rebuild"
    marker = os.path.join(
        _edge_dir(sf_dir, fake_stamp, PAIR_THRESHOLD), "_BUILD_COMPLETE"
    )
    with open(marker) as f:
        assert f.read() == fake_stamp
    # generational dirs: the REAL stamp's artifact is untouched by the
    # fake rebuild — no cleanup needed (the old aliasing store required
    # one here)
    assert os.path.exists(
        os.path.join(
            _edge_dir(sf_dir, real_stamp, PAIR_THRESHOLD),
            "_BUILD_COMPLETE",
        )
    )


def test_new_stamp_gets_new_generation_dir(spark):
    """Review r7: a rebuild must never rmtree a directory a live lazy
    reader from the previous generation may still reference — new
    stamp ⇒ NEW directory, old generation left intact."""
    emb = _vectors(spark, seed=11)
    old, new = "/persist/gen|stamp-a", "/persist/gen|stamp-b"
    _wipe(old, 4, 1)
    _wipe(new, 4, 1)
    cache.clear()
    final_old, _ = km.kmeans_fit(emb, 4, 1, cache_key=old)
    d_old = _fit_dir(old, 4, 1)
    cache.clear()
    km.kmeans_fit(emb, 4, 1, cache_key=new)
    d_new = _fit_dir(new, 4, 1)
    assert d_old != d_new
    assert os.path.exists(os.path.join(d_old, "_BUILD_COMPLETE"))
    # the old generation's reader still works after the rebuild
    assert final_old.count() == 60
