"""Streaming distinct-count: an event stream ticks the persisted HLL
register index exactly-once per micro-batch.

The batch side (pipeline/hll_index.py) made the running per-day
distinct-user estimate O(new batch) per tick; this module is its
operating mode, on the same tick protocol (streaming/ticks.py) as
the crawl doc drain in pipeline/daily.py crawl_day_tick (default-gate
coverage: tests/test_crawl_drain.py): events land as files, a
checkpointed Structured Streaming source discovers them, and
``foreachBatch`` folds each micro-batch's register maxima into the
index TxTable with an epoch-keyed batch id — a replayed epoch (the
classic foreachBatch replay window) appends nothing, and because
register folding is idempotent (max), even a *logical* duplicate
batch leaves every estimate unchanged.

The live dashboard number then comes from ``HllIndex.estimate`` —
stored registers only, never a rescan of historical events.  At
100 TB/day of events this is the difference between a distinct-users
panel that costs a constant few hundred register rows per refresh and
one that re-shuffles every user id ever seen.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..pipeline.hll_index import HllIndex
from .ticks import stream_doc_ticks

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
    ]
)


def stream_hll_ticks(
    spark: SparkSession,
    events_dir: str,
    index_path: str,
    checkpoint_dir: str,
    *,
    schema: T.StructType = EVENT_SCHEMA,
    max_files_per_trigger: int | None = None,
    fold_over_files: int | None = 64,
) -> StreamingQuery:
    """Drain staged event files (JSON-lines of event_id/ts/user_id)
    through HLL index ticks; AvailableNow trigger = one scheduler run.

    ``fold_over_files``: after the drain, when the index snapshot
    exceeds this many files, ``fold()`` rewrites accumulated tick rows
    into one row per (day, register) — the sketch-aware OPTIMIZE
    (estimates unchanged; the table stops growing with tick count).
    None disables."""
    idx = HllIndex(index_path)

    def tick(batch: DataFrame, bid: str) -> None:
        idx.tick(batch, batch_id=bid)

    q = stream_doc_ticks(
        spark,
        events_dir,
        checkpoint_dir,
        tick,
        schema=schema,
        id_col="event_id",
        max_files_per_trigger=max_files_per_trigger,
    )
    if fold_over_files and len(idx.table.snapshot_files()) > fold_over_files:
        idx.fold(spark)
    return q
