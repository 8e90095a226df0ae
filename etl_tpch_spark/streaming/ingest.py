"""Exactly-once streaming ingest: staging JSON-lines → processed tables.

Replaces the reference's at-least-once batch ingest (preprocess.py:35-59)
— FileLock per stage (settings.py:37-40), delete-after-write
(preprocess.py:45), ×10 retries (preprocess.py:22-27) — with a
checkpointed Structured Streaming file source (SURVEY.md §3.2, T3):

- **discovery**: the file source tracks seen files in the checkpoint —
  re-running never re-ingests a file (no deletes needed; the optional
  ``cleanSource="delete"`` reproduces the reference's consume-and-delete);
- **exactly-once**: file-source offsets + sink commit log in the
  checkpoint give end-to-end exactly-once into a parquet sink;
- **micro-batch trigger**: ``Trigger.AvailableNow`` drains the backlog
  then stops — the scheduler-friendly equivalent of the reference's
  15-min Prefect deployment (T1); a ``processingTime`` trigger turns the
  same code into an always-on stream.

At scale: one stream per table, and :func:`stream_ingest_all` runs
the tables' drains concurrently (each with its own checkpoint, so a
table's offsets do not depend on the others'); ``maxFilesPerTrigger``
bounds per-batch work so a backlog spike cannot OOM an executor; the
sink append is partition-parallel like any batch write.
"""

from __future__ import annotations

import os

from pyspark.errors import StreamingQueryException
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..pipeline.ingest import ALL_TABLES, list_staged_files
from ..schemas import LIVE


def stream_ingest_table(
    spark: SparkSession,
    staging_dir: str,
    processed_dir: str,
    checkpoint_dir: str,
    table: str,
    *,
    schema: T.StructType | None = None,
    max_files_per_trigger: int | None = None,
    clean_source: str | None = None,
    await_termination: bool = True,
    observe_metrics: bool = False,
) -> StreamingQuery:
    """Drain every staged batch of ``table`` into
    ``<processed>/<table>/`` exactly once, then stop (AvailableNow).

    The JSON "files" written by the generate stage are directories of
    part files (``<table>_<ISO>.json/``), so the source glob matches one
    level below them.

    ``observe_metrics=True`` attaches ``Dataset.observe`` counters
    (rows ingested, rows with a null first column — the
    corrupt-record signal) computed INSIDE the ingest pass: they ride
    each batch's StreamingQueryProgress ``observedMetrics`` with zero
    extra scans — the production data-quality hook (a listener alerts
    on them; pipeline/quality.py runs the full expectation suite on
    the stored table).
    """
    s = schema or LIVE[table]
    reader = (
        spark.readStream.schema(s)
        .option("pathGlobFilter", "*.json")
        .option("recursiveFileLookup", "true")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    if clean_source:  # "delete" ≙ reference's consume-and-delete (S10)
        reader = reader.option("cleanSource", clean_source)
    src = reader.json(os.path.join(staging_dir, table))
    if observe_metrics:
        first = s.fields[0].name
        src = src.observe(
            "ingest_quality",
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.when(F.col(first).isNull(), 1).otherwise(0)
            ).alias("n_null_key"),
        )

    q = (
        src.writeStream.format("parquet")
        .option("checkpointLocation", os.path.join(checkpoint_dir, table))
        .option("path", os.path.join(processed_dir, table))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        q.awaitTermination()
    return q


def stream_ingest_all(
    spark: SparkSession,
    staging_dir: str,
    processed_dir: str,
    checkpoint_dir: str,
    *,
    tables: tuple[str, ...] = ALL_TABLES,
) -> dict[str, StreamingQuery]:
    """One AvailableNow drain per staged table (flow ``json_to_parquet``,
    preprocess.py:53-59, minus its locks and retries).

    Every table's query starts before any is awaited, so the drains'
    start-up, planning and commit latencies overlap instead of adding
    up; each table still has its own source, sink and checkpoint.  A
    drain that fails to start or to run does not stop the others: the
    first failure is raised once every started drain has finished, so
    no query is left running."""
    out: dict[str, StreamingQuery] = {}
    failures: list[Exception] = []
    for t in tables:
        if list_staged_files(staging_dir, t):
            try:
                out[t] = stream_ingest_table(
                    spark, staging_dir, processed_dir, checkpoint_dir, t,
                    await_termination=False,
                )
            except Exception as exc:  # e.g. an unwritable sink; raised below
                failures.append(exc)
    for q in out.values():
        try:
            q.awaitTermination()
        except StreamingQueryException as exc:
            failures.append(exc)
    if failures:
        raise failures[0]
    return out


def dedup_stream(
    events,
    *,
    keys: list[str] | None = None,
    event_time: str = "ts",
    watermark: str = "1 hour",
):
    """Streaming exact dedup: drop duplicate events within the
    watermark horizon (``dropDuplicatesWithinWatermark``) — the
    streaming twin of ``dedup.exact_duplicates``.  State holds only
    keys newer than the watermark, so memory is bounded by (distinct
    keys per horizon), not stream length; the reference's pipeline has
    no dedup at all (duplicate appends on retry are accepted,
    preprocess.py:22-27).

    The event-time column is cast to TIMESTAMP first: parquet fixtures
    store ``ts`` as TIMESTAMP_NTZ, and ``withWatermark`` rejects NTZ
    event time (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE).  The session
    timezone is pinned UTC (session.py) so the cast is value-identity."""
    keys = keys or ["event_id"]
    return (
        events.withColumn(event_time, F.col(event_time).cast("timestamp"))
        .withWatermark(event_time, watermark)
        .dropDuplicatesWithinWatermark(keys)
    )
