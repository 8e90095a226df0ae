"""register_views memo semantics (catalog.py over cache.memo — ADVICE
r9 / VERDICT r9 #5): the memo must be keyed by the SESSION OBJECT,
weakly.

A raw ``id(spark)`` key has two failure modes this file pins shut:
CPython can reuse an id after the session is garbage-collected
(silently serving a dead session's memo hit to a new session that has
no temp views), and a memo hit computed when a table file was absent
would skip that table forever even after the file appears.
"""

from __future__ import annotations

import gc
import os
import weakref

import pyspark.sql.functions as F

from etl_tpch_spark import cache
from etl_tpch_spark.catalog import register_views


def test_two_sequential_sessions_both_register(spark, sf_dir):
    """A second session (same id-reuse hazard class as a post-GC new
    session) must register its own views — temp views are per-session
    state, so a memo hit across sessions is a correctness bug."""
    s1 = spark.newSession()
    register_views(s1, sf_dir)
    assert s1.sql("SELECT count(*) AS n FROM region").first()["n"] > 0

    s2 = spark.newSession()
    register_views(s2, sf_dir)
    assert s2.sql("SELECT count(*) AS n FROM region").first()["n"] > 0


def test_dead_key_entry_is_dropped():
    """The weak key dies with its object, so a reused object id can
    never resolve to a stale memo hit (and the memo cannot grow
    unboundedly across key churn).  Pinned with a plain object:
    PySpark itself retains real SparkSession objects in a closure
    cell, which closes the hazard from the other direction — a
    retained key's id is never reused — but would make this test
    vacuous if written against a real session."""

    class _K:  # stand-in session; the memo is type-agnostic
        pass

    before = len(cache._ENTRIES)
    k = _K()
    alive = weakref.ref(k)
    cache.memo(k, "temp-views", None, ("sf", ()), lambda: None)
    assert len(cache._ENTRIES) == before + 1
    del k
    gc.collect()
    assert alive() is None  # the memo holds no strong reference
    assert len(cache._ENTRIES) == before


def test_table_appearing_after_first_call_registers(spark, tmp_path):
    """A memo hit must not hide tables whose files appeared after the
    first call under the same sf_dir: the key folds the PRESENT table
    set, so growth re-registers."""
    sf = str(tmp_path)
    s = spark.newSession()
    spark.range(3).select(
        F.col("id").alias("r_regionkey"),
        F.lit("x").alias("r_name"),
        F.lit("c").alias("r_comment"),
    ).toPandas().to_parquet(os.path.join(sf, "region.parquet"))
    register_views(s, sf)
    assert s.sql("SELECT count(*) AS n FROM region").first()["n"] == 3
    assert "nation" not in [t.name for t in s.catalog.listTables()]

    spark.range(2).select(
        F.col("id").alias("n_nationkey"),
        F.lit("y").alias("n_name"),
        F.lit(0).cast("long").alias("n_regionkey"),
        F.lit("c").alias("n_comment"),
    ).toPandas().to_parquet(os.path.join(sf, "nation.parquet"))
    register_views(s, sf)
    assert s.sql("SELECT count(*) AS n FROM nation").first()["n"] == 2
