"""SparkSession bootstrap.

The reference creates per-task Dask/Coiled clusters (reference
pipeline/reduce.py:27-42, data.py:30-36); the Spark equivalent is one
long-lived SparkSession whose cluster manager owns placement.  Locally we
run ``local[N]`` (one JVM, N threads); the configs below are chosen so
the *same* logical plans scale to a real multi-executor cluster:

- AQE on → runtime shuffle-partition coalescing, skew-join splitting and
  broadcast-join demotion/promotion at 100 TB without re-tuning.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster AQE's coalescing makes the static number mostly irrelevant.
- Arrow on → pandas-UDF boundary is columnar (vectorized), never
  row-at-a-time pickle.
- Session timezone pinned UTC so event-time semantics match the DuckDB
  oracle and are stable across machines.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        return int(cpus)
    return os.cpu_count() or 8


# The runtime-settable settings, defined ONCE: get_spark applies them
# through the builder, tune_for_oracle through spark.conf.set on a
# driver-provided session.
RUNTIME_CONF = {
    # event-time semantics match the DuckDB oracle on any machine
    "spark.sql.session.timeZone": "UTC",
    # pandas-UDF boundary is columnar (vectorized), never row pickle
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # AQE: runtime partition coalescing, skew splits, join demotion
    "spark.sql.adaptive.enabled": "true",
    # InferFiltersFromGenerate injects `size(e) > 0 AND isnotnull(e)`
    # below every non-outer explode — for a COMPUTED array that
    # re-evaluates the whole expression twice more per row in an
    # interpreted Filter (measured 6×: the classifier's md5-bucket
    # explode went 4.96 s → 0.81 s at sf0.1 with the rule off).
    # Generate already skips null/empty inputs, so excluding the
    # rule is semantics-free; the engine's hot explodes (shingles,
    # spans, n-grams, buckets) are all computed arrays where the
    # inferred filter can never prune a scan.
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    ),
    # Scan-split packing charges each file spark.sql.files.
    # openCostInBytes (default 4 MB — a spinning-disk-era open
    # cost).  With inputs smaller than cores×4 MB that floor
    # serializes the scan onto a handful of tasks (maxSplitBytes =
    # max(openCost, bytes/defaultParallelism)); on NVMe/object
    # storage the real open cost is far below 256 KB.  This keeps
    # scan parallelism tracking available cores for small inputs
    # at ANY core count (bytesPerCore still dominates at scale, so
    # it is a no-op on 100 TB tables) — measured −10% on the
    # relational bench family, q1 0.40 → 0.23 s (guide §6).
    "spark.sql.files.openCostInBytes": os.environ.get(
        "SPARK_GRAFT_OPEN_COST", str(256 * 1024)
    ),
    # Allow co-partitioned joins on a SUBSET of the join keys
    # (pre-3.3 planner behavior): when both join children are
    # already hash-partitioned on the same subset — e.g. the RRF
    # fusion's full-outer join on (query_id, doc_id) whose inputs
    # both come out of rank windows partitioned by query_id — the
    # join reuses that partitioning instead of re-exchanging both
    # sides on the full key (guide §2.4 "two operations keyed the
    # same way can share one exchange").  Semantics-free (equal
    # full keys still co-locate under the subset hash); measured:
    # search_hybrid_rrf_indexed 13 → 11 exchanges, 2.45 → 1.76 s
    # warm interleaved A/B at sf0.1; full sf0.01 oracle diff green.
    "spark.sql.requireAllClusterKeysForCoPartition": "false",
}


def get_spark(
    app_name: str = "etl_tpch_spark",
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Honors ``SPARK_GRAFT_CPUS`` for local core count.  Safe to call when a
    session already exists (returns the active one — configs then apply
    only via ``spark.conf`` where runtime-settable).
    """
    n = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{n}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or n))
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        # Client-side call-site capture (Spark 4's DataFrame debugging)
        # wraps EVERY DataFrame/Column API call in a Python stack walk
        # plus 3 py4j round-trips (conf.get + PySparkCurrentOrigin.set/
        # clear).  cProfile of a warm indexed-retrieval rep measured it
        # at ~17% of wall (97 wrapped calls, 0.92 s of 5.4 s) — pure
        # error-message enrichment, no effect on plans or results
        # (guide §4: shrink the Python⇄JVM boundary).  A static
        # config: a driver-provided session keeps its own value.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in {**RUNTIME_CONF, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tune_for_oracle(spark: SparkSession) -> SparkSession:
    """Apply RUNTIME_CONF to a *driver-provided* session: the settings
    that must hold for the DuckDB-oracle comparison to be stable
    (timezone above all) plus the engine's runtime tuning."""
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # not runtime-settable on this Spark build
    return spark


# State-store settings for large streaming state.  The default
# HDFSBackedStateStoreProvider keeps every key in executor HEAP — fine
# for fixture-scale state, a hard wall once stream-stream join /
# dedup-within-watermark state outgrows memory (the 100 TB/day design
# point).  RocksDB (bundled with Spark 4, no extra jars) spills state
# to local disk with bounded memory, and changelog checkpointing ships
# per-batch deltas instead of full snapshots.  Pass to ``get_spark``'s
# ``extra_conf`` (the provider is fixed per query at start, so it must
# be set before ``writeStream.start()``).
ROCKSDB_STATE_CONF = {
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming."
        "state.RocksDBStateStoreProvider"
    ),
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": (
        "true"
    ),
}
