"""Small-file compaction for processed tables.

Reference semantics (pipeline/preprocess.py:62-93): every 6 h, Delta
``optimize.compact()`` + ``vacuum(0h)`` per processed table (SURVEY.md
S12), with a file lock so the daily query never reads mid-compaction
(T6).

Spark-first: with delta-spark jars this is one-liner
``DeltaTable.optimize().executeCompaction()``.  On plain parquet (our
offline default) compaction is a coalesce-rewrite sized to a target
file size, made snapshot-safe by write-then-atomic-swap: readers either
see the old directory or the new one, never a half-written mix — the
same guarantee the reference buys with the compaction lock.

At 100 TB: target_file_mb sizes output files for scan efficiency
(128 MB ≈ one HDFS/S3-range read per task); the rewrite is a single
narrow job (no shuffle — coalesce, not repartition) so compaction cost
is one read + one write of the table.
"""

from __future__ import annotations

import math
import os
import shutil
import uuid

from pyspark.sql import SparkSession

from .ingest import ALL_TABLES


def _partition_columns(path: str) -> list[str]:
    """Walk down the first directory chain collecting hive partition
    column names (``col=value`` dirs), outermost first."""
    cols: list[str] = []
    cur = path
    while True:
        subs = [
            d
            for d in os.listdir(cur)
            if os.path.isdir(os.path.join(cur, d)) and "=" in d
        ]
        if not subs:
            return cols
        name = subs[0].split("=", 1)[0]
        cols.append(name)
        cur = os.path.join(cur, subs[0])


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def compact_table(
    spark: SparkSession,
    processed_dir: str,
    table: str,
    *,
    target_file_mb: int = 128,
) -> int:
    """Rewrite ``<processed>/<table>/`` into ≈target_file_mb files.
    Returns the resulting file count.  No-op if the table is absent."""
    path = os.path.join(processed_dir, table)
    if not os.path.exists(path):
        return 0
    if os.path.exists(os.path.join(path, "_spark_metadata")):
        # Directory is managed by a Structured Streaming sink: its
        # _spark_metadata log IS the exactly-once guarantee, and it
        # indexes files by name — an external rewrite would orphan the
        # log and break both readers and the next streaming append.
        # Compacting a streamed table needs a log-aware format (Delta
        # OPTIMIZE) or a stop-the-stream rewrite that also resets the
        # checkpoint; refusing here keeps exactly-once intact.
        return 0
    n_files = max(1, math.ceil(_dir_bytes(path) / (target_file_mb * 2**20)))

    # hive-partitioned layout (col=value dirs) must survive compaction —
    # a flat rewrite would fold partition columns back into data files
    # and silently lose partition pruning for every later reader.
    part_cols = _partition_columns(path)

    tmp = f"{path}.compact-{uuid.uuid4().hex[:8]}"
    old = f"{path}.old-{uuid.uuid4().hex[:8]}"
    df = spark.read.parquet(path)
    writer = df.coalesce(n_files).write.mode("overwrite")
    if part_cols:
        writer = writer.partitionBy(*part_cols)
    writer.parquet(tmp)
    # atomic-ish swap: two renames; readers resolve the directory at scan
    # planning time, so they see either the old or the new listing
    # (reference holds lock_compact instead, preprocess.py:89).
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)  # the reference's vacuum(retention=0h)
    return n_files


def compact_all(
    spark: SparkSession,
    processed_dir: str,
    *,
    tables: tuple[str, ...] = ALL_TABLES,
    target_file_mb: int = 128,
) -> dict[str, int]:
    """Flow ``compact`` (preprocess.py:87-93) over every processed table."""
    return {
        t: compact_table(
            spark, processed_dir, t, target_file_mb=target_file_mb
        )
        for t in tables
        if os.path.exists(os.path.join(processed_dir, t))
    }
