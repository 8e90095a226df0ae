"""Table catalog: parquet-directory tables + temp views.

Reference equivalent: tables are directories of files under a root
filesystem (reference pipeline/settings.py:14-34, SURVEY.md §1.1); the
catalog scan is ``information_schema.tables`` (data.py:56-60).  Here a
"database" is a directory containing one parquet file/dir per table;
Spark's catalog handles listing.

At scale the same API points at a lakehouse root (s3://…/processed) —
`spark.read.parquet` on a directory of many files partition-prunes and
pushes filters/projections into the scan, so nothing here needs to
change for 100 TB beyond the path.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .cache import memo
from .schemas import TABLE_NAMES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def table_stamp(sf_dir: str, name: str) -> str:
    """Staleness stamp of ``sf_dir``'s ``name`` table: realpath +
    (mtime_ns, size) of the parquet, so a regenerated fixture at the
    same path can never hit a stale derivation — the ONE staleness
    recipe: the ``version`` of every table-derived cache.memo entry and
    the stamp of every table-derived cache.stored artifact and
    scratch_index_dir."""
    real = os.path.realpath(sf_dir)
    try:
        st = os.stat(table_path(real, name))
        return f"{real}|{st.st_mtime_ns}-{st.st_size}"
    except OSError:
        return real


# Scan-spread helper (round 11, guide §2.5 "input skew: one huge
# unsplittable file — repartition immediately after the read").  The
# bench fixtures are ONE parquet file with ONE row group per table, so
# every scan is a single map task and all per-row work below the first
# exchange runs on 1 of the N local cores.  ``spread_scan`` adds one
# round-robin exchange to defaultParallelism when the input has fewer
# partitions than cores — at the 100 TB design point the input arrives
# as many splits, the condition never fires, and no production shuffle
# is added (the width is the session's real core count, not a tuned
# constant).
#
# Deliberately NOT applied in load_table: an A/B over the bench showed
# the blanket form loses — the exchange + 32-task stage overhead
# outweighs the parallelism except where the PRE-exchange per-row
# kernel is heavy (measured: documents-spread cut dedup_minhash_lsh
# 1.44→1.03 s normalized but moved corpus_curation 0.28→0.78 s,
# text_bm25_topk 0.42→0.72 s; an events/orders/lineitem spread moved
# q1 0.30→0.57 s, flagship 0.77→1.21 s; an embeddings spread
# fragmented the Arrow batches of the Python-boundary kernels,
# sim_ann_topk_pq 0.93→1.47 s).  Operators whose map-side kernel
# dominates opt in at their own call site.
def spread_scan(df: DataFrame) -> DataFrame:
    """Round-robin-repartition a narrow scan across the session's
    cores.  Call ONLY on exchange-free frames (base scans, unions of
    scans): ``df.rdd`` on an exchange-bearing plan would execute its
    query stages just to read the partition count."""
    if os.environ.get("SPARK_GRAFT_SPREAD", "1") == "0":
        return df
    spark = df.sparkSession
    p = spark.sparkContext.defaultParallelism
    try:
        n = df.rdd.getNumPartitions()
    except Exception:
        return df
    if 0 < n < p:
        return df.repartition(p)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy scan of one table. Schema comes from parquet footers (exact,
    session-cached per fixture stamp); explicit schemas in `schemas.py`
    are for JSON/streaming sources where inference would scan data.

    events.ts is written as parquet TIMESTAMP(NANOS), which Spark's
    vectorized reader refuses; we read nanos as long (legacy conf) and
    convert to a microsecond TimestampType — lossless for this data
    (µs-precision values) and exact integer arithmetic (`div`, never
    double division: ns epochs exceed 2^53)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = table_path(sf_dir, name)
    # one bench/oracle process opens the same fixture tables hundreds
    # of times; each open re-read the footer on the driver
    inferred = []  # a miss returns the frame it inferred from

    def infer():
        inferred.append(spark.read.parquet(path))
        return inferred[0].schema

    schema = memo(
        spark,
        "table-schema",
        (name, os.path.realpath(sf_dir)),
        table_stamp(sf_dir, name),
        infer,
    )
    df = inferred[0] if inferred else spark.read.schema(schema).parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df


class Tables:
    """Namespace of lazily-loaded DataFrames for one scale-factor dir.

    ``t = Tables(spark, sf_dir); t.lineitem.filter(...)`` — attribute
    access reads the parquet lazily and caches the *DataFrame object*
    (not the data) per instance.
    """

    def __init__(self, spark: SparkSession, sf_dir: str):
        self._spark = spark
        self._sf_dir = sf_dir
        self._cache: dict[str, DataFrame] = {}

    def __getattr__(self, name: str) -> DataFrame:
        if name.startswith("_"):
            raise AttributeError(name)
        if name not in TABLE_NAMES:
            raise AttributeError(f"unknown table {name!r}; have {TABLE_NAMES}")
        if name not in self._cache:
            self._cache[name] = load_table(self._spark, self._sf_dir, name)
        return self._cache[name]

    def available(self) -> list[str]:
        return [
            n for n in TABLE_NAMES if os.path.exists(table_path(self._sf_dir, n))
        ]


# register_views memo: temp views survive for the session's lifetime,
# so re-registering the SAME tables from the SAME sf_dir is 10
# parquet-footer reads of pure overhead per call (measured 1.5 s —
# 141× a DuckDB information_schema probe).  One entry per session
# (temp views are per-session state; cache.memo keys the session
# object weakly): a different sf_dir re-registers, and the version
# folds the names that actually EXISTED, so a table file appearing
# later under the same sf_dir re-registers instead of being skipped
# forever (os.path.exists probes are microseconds — the footer reads
# were the cost being memoized).
def register_views(spark: SparkSession, sf_dir: str, names=TABLE_NAMES) -> None:
    """Register each table as a temp view so `spark.sql` queries see the
    same names the DuckDB oracle pre-registers (SURVEY.md §5).  Goes
    through load_table for the events nanos-timestamp handling.
    Idempotent per (session, sf_dir, present tables): repeat calls are
    a dict probe plus existence checks."""
    present = tuple(
        n for n in names if os.path.exists(table_path(sf_dir, n))
    )

    def build() -> None:
        for name in present:
            load_table(spark, sf_dir, name).createOrReplaceTempView(name)

    memo(spark, "temp-views", None, (sf_dir, present), build)


def artifact_store(kind: str, identity: str, stamp: str) -> tuple[str, bool]:
    """THE stamped-artifact directory recipe under cache.stored, the
    build-once/open-many lifecycle of every on-disk store (kmeans fits,
    graph edge lists, the ANN/LM/search indexes, the stored VARIANT
    events): one directory per (kind, identity, stamp) GENERATION under
    the system tempdir, with a ``_BUILD_COMPLETE`` marker written last.

    Returns ``(dir, complete)`` — ``complete`` iff the marker holds
    exactly ``stamp``.  A new stamp (regenerated fixture, changed
    build params) maps to a NEW directory, so a rebuild never deletes
    files that a live lazy DataFrame from the previous generation may
    still reference — the rmtree-in-place race the round-7 review
    flagged.  Stale generations persist until the tempdir is cleaned
    (regeneration is rare and /tmp is ephemeral).  cache.stored
    rmtrees only an INCOMPLETE generation before building (no marker
    ⇒ no reader ever validated it).  Cross-PROCESS builds of the same
    generation are benign for deterministic artifacts (both write
    identical content; marker content equal) but are not locked —
    single-box lifecycle, like every /tmp store here."""
    import hashlib
    import tempfile

    tag = hashlib.md5(identity.encode()).hexdigest()[:12]
    gen = hashlib.md5(stamp.encode()).hexdigest()[:12]
    d = os.path.join(tempfile.gettempdir(), f"{kind}-{tag}", f"gen-{gen}")
    try:
        with open(os.path.join(d, "_BUILD_COMPLETE")) as f:
            return d, f.read() == stamp
    except OSError:
        return d, False


def mark_store_complete(d: str, stamp: str) -> None:
    """Write the completion marker LAST (crash ⇒ retrain, never a
    half-read)."""
    with open(os.path.join(d, "_BUILD_COMPLETE"), "w") as f:
        f.write(stamp)


def scratch_index_dir(kind: str, sf_dir: str, *, wipe: bool = False) -> str:
    """Deterministic scratch directory for a query-built index over
    ``sf_dir``'s tables — one dir per (kind, dataset) REUSED across
    invocations instead of a fresh mkdtemp leaked per run.

    The key is the documents table's catalog.table_stamp, so a
    regenerated fixture at the same path can never hit a stale index.
    ``wipe=False`` (append-style indexes with idempotent batch ids):
    reuse IS the lifecycle — the second run finds a warm index and
    ingests nothing.  ``wipe=True`` (overwrite-built indexes): start
    clean so repeated builds don't accrete old table versions."""
    import hashlib
    import shutil
    import tempfile

    stamp = table_stamp(sf_dir, "documents")
    key = hashlib.md5(stamp.encode()).hexdigest()[:12]
    path = os.path.join(tempfile.gettempdir(), f"{kind}-{key}")
    if wipe and os.path.exists(path):
        shutil.rmtree(path)
    os.makedirs(path, exist_ok=True)
    return path
