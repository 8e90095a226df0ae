"""Training-data export: deterministic shuffle-sharding of a curated
corpus into a fixed number of shards.

The last stage of a 100 TB curation pipeline is not a query — it's
writing the surviving documents as N equal shards whose membership and
order are REPRODUCIBLE: re-running the export (any cluster size, any
partitioning) must produce identical shards, and appending new data
must not move old rows between shards (training jobs checkpoint by
shard+offset; a reshuffled export invalidates every checkpoint).

Both properties come from content addressing, same recipe as the
split/sample family (queries/curation.py):

- shard id   = xxhash64(key) mod n_shards        — row-local, stable
- intra-shard order = (xxhash64(key, salt), key) — a deterministic
  uniform "shuffle": hash order is uncorrelated with ingest order, so
  each shard is an unbiased stream for SGD, yet byte-stable.

Plan shape: one hash-partitioned Exchange on shard id (exactly the
write fan-out — no extra pass), sortWithinPartitions for the order,
one file per shard via partitionBy.  At 100 TB, n_shards is sized so a
shard ≈ a few GB (`maxRecordsPerFile` bounds stragglers).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SHARD_COL = "shard"
_ORDER_COL = "_shuffle_key"


def shard_assignments(df: DataFrame, key_cols: list[str], n_shards: int) -> DataFrame:
    """Tag every row with its shard id and deterministic shuffle key.

    ``key_cols`` must identify rows uniquely: two rows with equal keys
    tie on every sort criterion, so their relative order falls back to
    arrival order and the byte-reproducibility guarantee is lost (run
    the dedup stage first — exporting a corpus with duplicate ids is a
    pipeline bug this module cannot repair)."""
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    return df.withColumn(
        SHARD_COL, F.pmod(F.xxhash64(*key_cols), F.lit(n_shards))
    ).withColumn(_ORDER_COL, F.xxhash64(*key_cols, F.lit("shuffle-v1")))


def export_shards(
    df: DataFrame,
    path: str,
    key_cols: list[str],
    n_shards: int,
) -> dict[int, int]:
    """Write ``df`` as ``n_shards`` deterministic shards under
    ``path/shard=K/``.  Returns {shard: row_count}.

    repartition(n_shards, shard) puts each shard in exactly one task
    (co-partitioned with the write), sortWithinPartitions fixes the
    intra-shard order, partitionBy(shard) names the directories.  The
    shuffle key is dropped from the files — membership and order are
    reproducible from the data itself, so the files carry no bookkeeping.

    Writer-interaction subtlety: a partitionBy write REQUIRES ordering
    by the partition columns; if the plan doesn't already provide it,
    Spark inserts its own sort — and the optimizer then removes ours as
    redundant (Sort-under-Sort), silently discarding the shuffle order.
    Leading our sort with the shard column satisfies the writer's
    requirement, so no extra sort is added and the order survives to
    the files (verified by test_rerun_produces_identical_shards).
    """
    tagged = shard_assignments(df, key_cols, n_shards).cache()
    (
        tagged.repartition(n_shards, F.col(SHARD_COL))
        .sortWithinPartitions(SHARD_COL, _ORDER_COL, *key_cols)
        .drop(_ORDER_COL)
        .write.partitionBy(SHARD_COL)
        .mode("overwrite")
        .parquet(path)
    )
    # counts come from the cached pre-write frame (n_shards rows) — a
    # read-back count would re-scan everything just written, doubling
    # export I/O at the 100 TB design point.  Empty shards (possible
    # when distinct keys < n_shards) are reported as 0 even though
    # partitionBy writes no directory for them.
    counts = {
        int(r[SHARD_COL]): r["count"]
        for r in tagged.groupBy(SHARD_COL).count().collect()
    }
    tagged.unpersist()
    return {s: counts.get(s, 0) for s in range(n_shards)}


def read_shard(spark: SparkSession, path: str, shard: int) -> DataFrame:
    """One shard, in its written (deterministic) order when read as a
    single split — training loaders read shard files sequentially.
    Reads via the export root with a partition-pruned filter, so an
    empty shard (no ``shard=K`` directory on disk) yields an empty
    DataFrame instead of PATH_NOT_FOUND."""
    return (
        spark.read.parquet(path)
        .where(F.col(SHARD_COL) == shard)
        .drop(SHARD_COL)
    )
