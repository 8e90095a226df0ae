"""Batch ingest: staging JSON-lines → processed parquet tables.

Reference semantics (pipeline/preprocess.py:35-59): discover every staged
JSON file (rglob, preprocess.py:49-50), fan out one task per file, each
reading with pandas and appending to a Delta table, then deleting the
source file (consume-and-delete, preprocess.py:45; SURVEY.md S5/S6/S10/
S11/T4).  Exactly-once is approximated with file locks + retries.

Spark-first deltas:

- one ``spark.read.schema(s).json(paths)`` job replaces the per-file
  fan-out — Spark parallelizes by input split, so a 10k-file backlog is
  one job, not 10k orchestrated tasks (SURVEY.md T4);
- the explicit schema (schemas.LIVE / schemas.TESTDATA) replaces
  pandas per-file inference — no inference scan, stable types at 100 TB
  (SURVEY.md §1.3);
- append target is a parquet directory (delta-spark is not a
  dependency, so the write is parquet only);
- delete-after-write is optional; the checkpointed Structured Streaming
  ingest in ``streaming/ingest.py`` is the exactly-once replacement for
  the reference's locks (SURVEY.md T3).
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import generate as _gen
from ..schemas import LIVE

ALL_TABLES = _gen.STATIC_TABLES + _gen.DYNAMIC_TABLES


def list_staged_files(staging_dir: str, table: str) -> list[str]:
    """Staged batch dirs for one table — "new data" is simply whatever
    exists, as in the reference (preprocess.py:49-50)."""
    return sorted(glob.glob(os.path.join(staging_dir, table, f"{table}_*.json")))


def ingest_table(
    spark: SparkSession,
    staging_dir: str,
    processed_dir: str,
    table: str,
    *,
    schema: T.StructType | None = None,
    delete_after: bool = False,
    partition_by: tuple[str, ...] = (),
    derive: dict[str, str] | None = None,
) -> int:
    """Append every staged batch of ``table`` into
    ``<processed>/<table>/``.  Returns the number of batch dirs ingested.

    ``partition_by`` hive-partitions the sink (``col=value/`` dirs);
    ``derive`` adds computed columns first (SQL exprs, e.g.
    ``{"o_order_date": "date(o_order_time)"}``) so event tables can be
    laid out by day.  At 100 TB this is the difference between a
    full-table scan and reading one day's directory: any query filter on
    a partition column becomes a PartitionFilter (pruned at *planning*,
    no file even listed).  Keep partition cardinality moderate (days,
    regions — not user ids): each value is a directory of files.
    """
    batches = list_staged_files(staging_dir, table)
    if not batches:
        return 0
    s = schema or LIVE[table]
    df = spark.read.schema(s).json(batches)
    for col, expr in (derive or {}).items():
        df = df.withColumn(col, F.expr(expr))
    writer = df.write.mode("append")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(os.path.join(processed_dir, table))
    if delete_after:  # reference's consume-and-delete (preprocess.py:45)
        for b in batches:
            shutil.rmtree(b, ignore_errors=True)
    return len(batches)


def ingest_table_tolerant(
    spark: SparkSession,
    staging_dir: str,
    processed_dir: str,
    table: str,
    *,
    schema: T.StructType | None = None,
    quarantine_dir: str | None = None,
) -> tuple[int, int]:
    """Corrupt-tolerant ingest: malformed JSON lines are *quarantined*,
    never dropped silently and never fatal.  Returns (rows_ingested,
    rows_quarantined).

    The reference dies on the first bad line (pandas read_json raises;
    Prefect retries the same file 10× then gives up, preprocess.py:
    22-27) — at 100 TB one truncated upload must not stall the feed.
    Spark's PERMISSIVE mode routes unparseable lines into a
    ``_corrupt_record`` column in the same pass: good rows continue to
    the table, bad raw lines land in a quarantine table keyed by source
    file for replay/debugging.  One scan, no second parse."""
    batches = list_staged_files(staging_dir, table)
    if not batches:
        return (0, 0)
    s = schema or LIVE[table]
    with_corrupt = T.StructType(
        s.fields + [T.StructField("_corrupt_record", T.StringType())]
    )
    df = (
        spark.read.schema(with_corrupt)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(batches)
        # input_file_name() must bind to the file scan, BEFORE the
        # cache boundary (an InMemoryTableScan has no file to name)
        .withColumn("source_file", F.input_file_name())
        # the corrupt column is only populated after materialization of
        # the raw line; cache so good/bad split shares one parse
        .cache()
    )
    bad = df.filter(F.col("_corrupt_record").isNotNull()).select(
        F.col("_corrupt_record").alias("raw_line"), "source_file"
    )
    good = df.filter(F.col("_corrupt_record").isNull()).drop(
        "_corrupt_record", "source_file"
    )
    n_bad = bad.count()
    if n_bad and quarantine_dir:
        bad.write.mode("append").json(
            os.path.join(quarantine_dir, table)
        )
    good.write.mode("append").parquet(os.path.join(processed_dir, table))
    n_good = good.count()
    df.unpersist()
    return (n_good, n_bad)


def read_processed(
    spark: SparkSession,
    processed_dir: str,
    table: str,
    *,
    merge_schema: bool = True,
) -> "DataFrame":
    """Read a processed table with schema evolution: batches appended
    with extra columns (a producer added a field) unify into one schema,
    old rows null-filled — ``mergeSchema`` reads every file's footer
    instead of one.  At 100 TB turn this into a table-property (set
    once at evolution time) rather than paying footer-merge per read."""
    return (
        spark.read.option("mergeSchema", str(merge_schema).lower())
        .parquet(os.path.join(processed_dir, table))
    )


def ingest_all(
    spark: SparkSession,
    staging_dir: str,
    processed_dir: str,
    *,
    tables: tuple[str, ...] = ALL_TABLES,
    delete_after: bool = False,
) -> dict[str, int]:
    """Ingest every table with staged data (flow ``json_to_parquet``,
    preprocess.py:53-59)."""
    return {
        t: ingest_table(
            spark, staging_dir, processed_dir, t, delete_after=delete_after
        )
        for t in tables
        if list_staged_files(staging_dir, t)
    }


def ingest_table_txlog(
    spark: SparkSession,
    staging_dir: str,
    processed_dir: str,
    table: str,
    *,
    schema: T.StructType | None = None,
) -> int:
    """Exactly-once BATCH ingest via the transaction log
    (pipeline/txlog.py): each staged batch directory is ONE atomic
    TxTable commit keyed by its basename, so re-running after any crash
    re-ingests nothing — no deletes (the reference's consume-and-delete,
    preprocess.py:45), no streaming checkpoints, just idempotent
    commits.  The third ingest mode alongside batch delete-after and
    checkpointed streaming; prefer it when the staging zone must stay
    readable (audit/replay) and the cadence is batch.  Returns the
    number of newly applied batches."""
    from .txlog import TxTable

    batches = list_staged_files(staging_dir, table)
    if not batches:
        return 0
    s = schema or LIVE[table]
    t = TxTable(os.path.join(processed_dir, table))
    applied = t.applied_batch_ids()
    n = 0
    for b in batches:
        bid = os.path.basename(str(b).rstrip("/"))
        if bid in applied:
            continue
        t.append(spark.read.schema(s).json(str(b)), batch_id=bid)
        n += 1
    return n
