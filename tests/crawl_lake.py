"""A drained crawl lake for the crawl-drain tests (pipeline/daily.py
crawl_day_tick), built once per test session by the ``crawl_lake``
and ``crawl_replay`` fixtures in conftest.py.

``build_lake`` stages days 0 and 1 of the documents (doc_id % 3) and
drains them through two ``crawl_day_tick`` calls with
``compact_over_files=1``; the manual root holds the same days as plain
``corpus_cycle`` ticks.  ``replay`` then re-runs the drain on the same
checkpoint and re-drains day 0 after wiping it, and records every
store's state before and after each, so the per-store replay tests
assert on states taken before any later test stages a new day."""

from __future__ import annotations

import os
import shutil
from collections import Counter

from pyspark.sql import functions as F

from etl_tpch_spark.catalog import load_table
from etl_tpch_spark.dedup.index import MinHashIndex
from etl_tpch_spark.dedup.spans import SpanIndex
from etl_tpch_spark.pipeline.corpus import corpus_cycle
from etl_tpch_spark.pipeline.daily import (
    crawl_day_tick,
    ensure_quality_classifier,
    ensure_reference_lm,
)
from etl_tpch_spark.pipeline.txlog import TxTable
from etl_tpch_spark.queries.text import _LM_REF_SOURCE
from etl_tpch_spark.streaming.ticks import CRAWL_SCHEMA

COLS = CRAWL_SCHEMA.fieldNames()
# every store the doc drain writes, plus the two it only reads (the
# LM and the classifier weights: ticks never write them)
STORES = (
    "corpus", "dedup_index", "spans", "span_index", "scores", "lm",
    "search_index/postings", "search_index/doclens", "clf_scores",
    "quality_clf",
)


def stage(docs, crawl_dir: str, day: int) -> None:
    docs.select(*COLS).coalesce(1).write.mode("overwrite").json(
        os.path.join(crawl_dir, f"day{day}.json")
    )


def versions(root: str) -> dict[str, int | None]:
    return {
        n: TxTable(os.path.join(root, n)).latest_version() for n in STORES
    }


def corpus_rows(root: str, spark) -> list[tuple]:
    return sorted(
        (r["doc_id"], r["split"])
        for r in TxTable(os.path.join(root, "corpus"))
        .read(spark)
        .select("doc_id", "split")
        .collect()
    )


def _rows(df) -> Counter:
    return Counter(tuple(r) for r in df.collect())


def store_state(spark, root: str) -> dict:
    """Versions of every store plus the rows (or row counts, for the
    wide index tables) the replay tests compare."""

    def path(n: str) -> str:
        return os.path.join(root, n)

    return {
        "versions": versions(root),
        "corpus": corpus_rows(root, spark),
        "signatures": MinHashIndex(path("dedup_index"))
        .signatures(spark)
        .count(),
        "windows": SpanIndex(path("span_index")).windows(spark).count(),
        "spans": _rows(TxTable(path("spans")).read(spark)),
        "scores": _rows(TxTable(path("scores")).read(spark)),
        "doclens": _rows(TxTable(path("search_index/doclens")).read(spark)),
    }


def build_lake(spark, sf_dir: str, base) -> dict:
    docs = load_table(spark, sf_dir, "documents")
    days = [docs.filter(F.col("doc_id") % 3 == d) for d in range(3)]
    root, manual = str(base / "lake"), str(base / "manual")
    ensure_reference_lm(
        spark, docs.filter(F.col("source") == _LM_REF_SOURCE), root
    )
    ensure_quality_classifier(spark, docs, root)
    outs = []
    for d in (0, 1):
        crawl = str(base / "crawl" / f"d{d}")
        stage(days[d], crawl, d)
        outs.append(
            crawl_day_tick(spark, crawl, root, compact_over_files=1)
        )
        corpus_cycle(
            spark, days[d].select(*COLS), manual, batch_id=f"day-{d}"
        )
    return {
        "root": root, "manual": manual, "base": base, "days": days,
        "staged": docs.filter(F.col("doc_id") % 3 < 2), "outs": outs,
    }


def replay(spark, lake: dict) -> dict:
    """Exactly-once across restarts.  The same checkpoint knows day 1
    is consumed, so re-running on it drains nothing.  A wiped
    checkpoint re-drains day 0 as epoch 0 with the same content, so
    its batch id is the one every store already recorded (the
    foreachBatch replay window)."""
    root, base = lake["root"], lake["base"]
    before = store_state(spark, root)
    rerun = crawl_day_tick(spark, str(base / "crawl" / "d1"), root)
    after_rerun = store_state(spark, root)
    shutil.rmtree(os.path.join(root, "checkpoints", "docs"))
    wiped = crawl_day_tick(spark, str(base / "crawl" / "d0"), root)
    return {
        "before": before,
        "rerun": rerun,
        "after_rerun": after_rerun,
        "wiped": wiped,
        "after_wiped": store_state(spark, root),
    }
