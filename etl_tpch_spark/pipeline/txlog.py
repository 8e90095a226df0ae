"""Versioned transaction-log table format — Delta Lake's core design
(an ordered commit log of file-manifest deltas, optimistic concurrency
on log-entry creation) implemented directly, since this environment has
no delta-spark jars (DEPLOY.md).  Gives the reference's Delta behaviors
(reference pipeline/preprocess.py:41-76 append/OPTIMIZE/VACUUM,
reduce.py:43-54 snapshot reads) on plain parquet:

- **atomic commits**: a version is ONE file ``_txlog/v{N}.json`` listing
  the data files of that snapshot; readers list the log, pick the
  highest version, and read exactly its files — a crashed writer leaves
  orphan data files (invisible — never referenced) but no torn table.
- **optimistic concurrency**: the commit file is created with
  ``open(..., "x")`` (O_EXCL); two writers racing to version N — one
  wins, the loser re-reads the log and retries against the new state.
  Same protocol as Delta on a filesystem with atomic create.
- **time travel**: ``read(spark, version=K)`` reconstructs snapshot K;
  every version stays readable until ``vacuum``.
- **exactly-once appends**: an optional ``batch_id`` is recorded in the
  commit; an append whose batch_id already appears in the log is a
  no-op (the streaming foreachBatch replay contract).
- **MERGE (keyed upsert)**: matching keys replace, new keys insert,
  committed copy-on-write and pinned to the snapshot it was computed
  from — any rival commit aborts the merge (Delta's serializable
  ConcurrentModificationException contract), with exactly-once CDC
  batch replay.
- **compaction (OPTIMIZE)**: rewrite current files into fewer, commit
  the swapped manifest; old versions still reference the old files.
- **vacuum**: delete data files referenced ONLY by versions older than
  the retained horizon, then drop those log entries.
- **data skipping**: every commit records per-file min/max column
  statistics (read from the parquet footers the write already
  produced — no second scan) in the manifest; ``read_where`` prunes
  the file list against a predicate BEFORE Spark ever opens a file —
  Delta's stats-based skipping.  With ``compact(cluster_by=...)``
  laying out disjoint key ranges per file, a selective scan at 100 TB
  touches one file instead of all of them, and the decision is made
  driver-side from the log alone.
- **log checkpoints**: every ``checkpoint_interval`` commits, the
  accumulated batch-id set is rolled into ``_txlog/ckpt-v{N}.json``
  (pointer in ``_last_checkpoint``), so ``applied_batch_ids`` reads
  one checkpoint + the log suffix instead of walking every entry —
  Delta's ``_last_checkpoint`` protocol.  Without it, each streaming
  append of a long-lived table re-reads O(commits) JSON entries.

SCOPE: correctness relies on POSIX atomic create
within one directory — local/NFS-with-O_EXCL filesystems.  On S3, swap
the commit primitive for a conditional PUT (the same adaptation real
Delta/Iceberg deployments make); everything else is engine-agnostic.
Multi-writer appends are safe: commits are PINNED to the version their
snapshot was read at (claiming latest+1 blindly would let a writer
erase a rival's commit — the classic lost update), so a lost race
forces a rebuild against the rival's state and appends compose.
Concurrent compaction reconciles op-aware: rival appends are carried
into the compacted manifest, rival overwrite/compact aborts the
compaction.  Vacuum deletes, so it takes a ``min_age_s`` horizon for
racing writers and carries dropped batch_ids forward in its own commit
so exactly-once replay survives log truncation.
"""

from __future__ import annotations

import datetime as _dt
import functools
import json
import os
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

_LOG_DIR = "_txlog"
_MAX_COMMIT_RETRIES = 20


class _MergeConflict(Exception):
    """A rival commit landed between a merge's snapshot read and its
    commit — the copy-on-write result is stale (internal control flow;
    merge() returns None to the caller)."""

# predicate spec for read_where: (col, op, value) conjunctions
_PRED_OPS = ("=", "<", "<=", ">", ">=")

def _enc(v):
    """Normalize a stats/predicate value into its JSON-comparable form.
    Dates/timestamps become ISO strings (lexicographic order == time
    order, so range pruning stays sound); tz-aware timestamps are
    reduced to naive UTC so footer stats and user predicates agree.
    Dates encode PADDED to midnight ('...T00:00:00') so a date-valued
    predicate compares correctly against a timestamp column's stats
    (Spark coerces date → midnight in the real filter; an unpadded
    '1995-06-17' sorts BELOW '1995-06-17T00:00:00' and would prune a
    file whose rows the filter matches)."""
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat() + "T00:00:00"
    if isinstance(v, (int, float, str, bool)):
        return v
    return None  # unsupported type → no stats / no pruning


def _bloom_key(v) -> str | None:
    """Canonical string a value hashes to for bloom build AND probe.
    Numerics unify through float (int 5 and stored 5.0 must hash
    identically — the min/max stats path already treats int/float as
    comparable, and the bloom must never be LESS sound than the stats
    check it augments: a type-mismatched key would false-negative and
    silently drop files whose rows the real filter matches).  bool is
    kept distinct from 0/1 — Python's bool subclasses int, but a bool
    column never equality-matches a numeric predicate in Spark.
    Collapsing distinct huge ints through float only ADDS false
    positives (sound for a bloom); it can never create a false
    negative because float() is deterministic on both sides."""
    ev = _enc(v)
    if ev is None:
        return None
    if isinstance(ev, bool):
        return str(ev)
    if isinstance(ev, (int, float)):
        return str(float(ev))
    return str(ev)


def _footer_stats(path: str) -> dict:
    """Per-file column stats from the parquet footer: row count and
    min/max per top-level primitive column, aggregated over row groups.
    A metadata-only read — the write itself already paid for these
    (parquet writers emit row-group statistics; truncated string bounds
    are still valid bounds per the format contract, so pruning on them
    is sound).  Columns with missing/unsupported stats are omitted."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    mins: dict[str, object] = {}
    maxs: dict[str, object] = {}
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        for j in range(rg.num_columns):
            c = rg.column(j)
            name = c.path_in_schema
            if "." in name:  # nested (list/struct) — not prunable here
                continue
            st = c.statistics
            if st is None or not st.has_min_max:
                mins[name] = maxs[name] = None  # poison: no stats
                continue
            lo, hi = _enc(st.min), _enc(st.max)
            if lo is None or hi is None or name in mins and mins[name] is None:
                mins[name] = maxs[name] = None
                continue
            mins[name] = lo if name not in mins else min(mins[name], lo)
            maxs[name] = hi if name not in maxs else max(maxs[name], hi)
    cols = {
        k: [mins[k], maxs[k]]
        for k in mins
        if mins[k] is not None and maxs[k] is not None
    }
    return {"rows": md.num_rows, "cols": cols}


def _with_zorder_key(
    df: DataFrame, cols: tuple[str, str], bits: int
) -> DataFrame:
    """Append a ``_zkey`` column interleaving quantile-bucket ids of
    the two columns (pipeline/layout.py zorder_key_2d).  Bucketing by
    approx-quantile cut points keeps the whole computation
    distributed — a rank/ntile window would funnel the table through
    one reducer, which an OPTIMIZE of a 100 TB table cannot afford;
    layout quality only needs roughly-equal buckets."""
    from .layout import zorder_key_2d

    a, b = cols
    probs = [i / (1 << bits) for i in range(1, (1 << bits))]
    cuts_a, cuts_b = (
        df.stat.approxQuantile(a, probs, 0.01),
        df.stat.approxQuantile(b, probs, 0.01),
    )

    def bucket(col: str, cuts: list[float]) -> Column:
        arr = F.array(*[F.lit(c) for c in cuts])
        return F.size(F.filter(arr, lambda c: c <= F.col(col)))

    return df.withColumn(
        "_zkey",
        zorder_key_2d(bucket(a, cuts_a), bucket(b, cuts_b), bits=bits),
    )


def _bloom_positions(value: str, k: int, m_bits: int) -> list[int]:
    """k md5-derived bit positions for a value — Python-side only (the
    sidecar blooms are consulted by the DRIVER in pruned_files; no
    cross-engine contract, just self-consistency)."""
    import hashlib

    return [
        int(hashlib.md5(f"{value}:{i}".encode()).hexdigest()[:15], 16)
        % m_bits
        for i in range(k)
    ]


def _build_file_bloom(values, *, k: int = 4) -> dict:
    """Bitset over the column's distinct values, ~10 bits/value rounded
    to a power of two (≈1% FP at k=4), floored at 1024 bits.  Unlike
    the manifest min/max (a fixed-size pair), the bloom scales with
    file cardinality — which is why it lives in a SIDECAR file, not
    the commit entry: a 1M-row file's ~1.25 MB bitset would bloat
    every log read, but as a sidecar it is opened only when a
    point-lookup actually probes that file."""
    vals = {str(v) for v in values if v is not None}
    want = max(1024, 10 * len(vals))
    m = 1 << (want - 1).bit_length()
    bits = 0
    for v in vals:
        for p in _bloom_positions(v, k, m):
            bits |= 1 << p
    return {"m": m, "k": k, "bits": hex(bits)}


@functools.lru_cache(maxsize=4096)
def _load_bloom_sidecar(
    path: str, mtime_ns: int
) -> tuple[int, int, int] | None:
    """Parsed (k, m, bits) of one sidecar, LRU-cached by (path,
    mtime) — the mtime key invalidates naturally if a sidecar is
    rewritten in place (normal operation writes sidecars once per
    immutable data file, so entries live as long as the file)."""
    try:
        with open(path) as f:
            b = json.load(f)
        return b["k"], b["m"], int(b["bits"], 16)
    except (OSError, json.JSONDecodeError, KeyError, ValueError):
        return None


class TxTable:
    """A parquet table with a versioned commit log under ``path``.

    ``bloom_cols`` opts columns into per-file BLOOM indexes (Delta's
    bloom-filter index): on every write, a sidecar bitset over the
    file's distinct values of each named column is stored beside the
    log, and ``pruned_files``/``read_where`` consult it for equality
    predicates.  This is the skipping min/max CANNOT give: on a
    high-cardinality unordered key (uuids, hashes) every file's range
    spans the whole domain and range pruning keeps everything, while
    the bloom prunes a point lookup to the file(s) actually holding
    the key (no false negatives; ~1% false keeps).  Files written by
    handles without ``bloom_cols`` simply lack sidecars and are never
    bloom-pruned — soundness does not depend on coverage."""

    def __init__(
        self,
        path: str,
        *,
        checkpoint_interval: int = 10,
        bloom_cols: tuple[str, ...] = (),
    ) -> None:
        self.path = path
        self.log_dir = os.path.join(path, _LOG_DIR)
        self.checkpoint_interval = checkpoint_interval
        self.bloom_cols = tuple(bloom_cols)
        os.makedirs(self.log_dir, exist_ok=True)
        self._entry_cache: dict[int, dict] = {}  # entries are immutable
        self._staged_stats: dict[str, dict] = {}  # stats of my new files

    # ------------------------------------------------ CHECK constraints

    def _constraints_path(self) -> str:
        return os.path.join(self.log_dir, "constraints.json")

    def constraints(self) -> dict[str, str]:
        """Named CHECK constraints (Delta's ``ALTER TABLE ... ADD
        CONSTRAINT``) currently in force — loaded from the log dir, so
        every handle on the table enforces the same set."""
        try:
            with open(self._constraints_path()) as f:
                return json.load(f)
        except (OSError, json.JSONDecodeError):
            return {}

    def add_constraint(
        self, spark: SparkSession, name: str, expr: str
    ) -> None:
        """Install a CHECK constraint after validating EXISTING data
        (Delta refuses the ALTER if any committed row violates it —
        same here).  SQL semantics: a row fails only when ``expr``
        evaluates to FALSE; NULL/unknown passes.  Constraint edits are
        an administrative op like vacuum: run them quiesced.

        Validation covers the CURRENT snapshot only: a later
        ``restore`` to a pre-constraint version can resurface rows
        that were deleted before the install and violate it — Delta's
        RESTORE has the same property (constraints gate writes, not
        rewinds)."""
        cons = self.constraints()
        if name in cons:
            raise ValueError(f"constraint {name!r} already exists")
        # validate only when the current snapshot actually lists data
        # files: a table whose only commits are no-op deletes has a
        # version but zero files, and read() refuses it — any
        # constraint is vacuously satisfied by zero rows
        if self.latest_version() is not None and self.snapshot_files():
            bad = (
                self.read(spark)
                .filter(F.expr(f"NOT ({expr})"))
                .limit(1)
                .count()
            )
            if bad:
                raise ValueError(
                    f"cannot add constraint {name!r}: existing rows "
                    f"violate CHECK ({expr})"
                )
        cons[name] = expr
        tmp = self._constraints_path() + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(cons, f)
        os.replace(tmp, self._constraints_path())

    def drop_constraint(self, name: str) -> None:
        cons = self.constraints()
        cons.pop(name, None)
        tmp = self._constraints_path() + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(cons, f)
        os.replace(tmp, self._constraints_path())

    def _enforce_constraints(self, df: DataFrame) -> None:
        """Refuse a write whose batch violates any installed CHECK —
        BEFORE any file is staged, so an aborted write leaves no
        orphans.  One limit(1) probe per constraint on the incoming
        batch only (never the table).  A write must carry every
        constrained column (an evolution-omitted constrained column
        fails analysis here, which is the strict and safe reading)."""
        for name, expr in self.constraints().items():
            bad = df.filter(F.expr(f"NOT ({expr})")).limit(1).count()
            if bad:
                raise ValueError(
                    f"CHECK constraint {name!r} violated by write: "
                    f"({expr})"
                )

    def _bloom_path(self, file: str, col: str) -> str:
        # column name hex-encoded: a dot or path separator in the
        # column name must neither escape the bloom dir nor confuse
        # the vacuum sweep's filename parse
        return os.path.join(
            self.log_dir,
            "bloom",
            f"{file}.{col.encode().hex()}.json",
        )

    def _write_bloom_sidecars(self, file: str) -> None:
        import pyarrow.parquet as pq

        cols = [
            c
            for c in self.bloom_cols
            if c
            in pq.ParquetFile(
                os.path.join(self.path, file)
            ).schema_arrow.names
        ]
        if not cols:
            return
        os.makedirs(os.path.join(self.log_dir, "bloom"), exist_ok=True)
        t = pq.read_table(os.path.join(self.path, file), columns=cols)
        for c in cols:
            bloom = _build_file_bloom(
                (_bloom_key(v) for v in t.column(c).to_pylist())
            )
            with open(self._bloom_path(file, c), "w") as f:
                json.dump(bloom, f)

    def _bloom_might_contain(self, file: str, col: str, value) -> bool:
        """False ⇒ the file provably lacks the value.  True when no
        sidecar exists (never prune on missing information) or the
        bitset admits it.  The parsed bitset is cached by (path,
        mtime): a multi-term probe (SearchIndex.probed_files loops
        hundreds of query terms over the same files) hits each sidecar
        once instead of re-reading and re-parsing the hex bitset per
        term."""
        path = self._bloom_path(file, col)
        try:
            mtime = os.stat(path).st_mtime_ns
        except OSError:
            return True
        loaded = _load_bloom_sidecar(path, mtime)
        if loaded is None:
            return True
        key = _bloom_key(value)
        if key is None:
            return True
        k, m, bits = loaded
        return all(
            bits >> p & 1 for p in _bloom_positions(key, k, m)
        )

    # ------------------------------------------------------------- log

    def _version_file(self, v: int) -> str:
        return os.path.join(self.log_dir, f"v{v:010d}.json")

    def versions(self) -> list[int]:
        return sorted(
            int(f[1:11])
            for f in os.listdir(self.log_dir)
            if f.startswith("v") and f.endswith(".json")
        )

    def latest_version(self) -> int | None:
        vs = self.versions()
        return vs[-1] if vs else None

    def _read_entry(self, v: int) -> dict:
        if v not in self._entry_cache:
            with open(self._version_file(v)) as f:
                self._entry_cache[v] = json.load(f)
        return self._entry_cache[v]

    def commit_entry(self, v: int) -> dict:
        """Read-only copy of version ``v``'s commit entry — the public
        surface for O(new) consumers (drift gates, incremental ticks,
        index maintenance) that need ``op`` / ``files`` /
        ``new_files`` / ``batch_id`` without reparsing the log or
        touching internals.  A copy, so a caller cannot corrupt the
        entry cache."""
        return dict(self._read_entry(v))

    def snapshot_files(self, version: int | None = None) -> list[str]:
        v = self.latest_version() if version is None else version
        if v is None:
            return []
        if version is not None and version not in self.versions():
            raise ValueError(f"version {version} not in log")
        return self._read_entry(v)["files"]

    def snapshot_rows(self, version: int | None = None) -> int | None:
        """Committed row count of a snapshot from the manifest stats
        alone — no data file opened, no Spark job (the same discipline
        as :meth:`pruned_files`/:meth:`history`).  ``None`` when any
        file in the snapshot lacks recorded stats; an empty snapshot
        is provably 0.  Index planners use this as a driver-side doc
        count (SearchIndex.maxscore_plan) — for a table that may hold
        per-batch duplicates it is an upper bound on the distinct-key
        count, which is the admissible direction for idf ceilings."""
        v = self.latest_version() if version is None else version
        if v is None:
            return None
        e = self._read_entry(v)
        stats = e.get("stats", {})
        if all(f in stats and "rows" in stats[f] for f in e["files"]):
            return sum(stats[f]["rows"] for f in e["files"])
        return None

    def applied_batch_ids(self) -> set[str]:
        """All batch ids ever applied.  Reads the latest checkpoint (if
        any) + only the log entries AFTER it — O(suffix), not
        O(commits); the exactly-once check runs on every append of a
        streaming table, so the full-log walk is the operation that
        degrades first on a long-lived table."""
        ids: set[str] = set()
        ckpt = self._load_checkpoint()
        start = -1
        if ckpt is not None:
            ids.update(ckpt["batch_ids"])
            start = ckpt["version"]
        for v in self.versions():
            if v <= start:
                continue
            e = self._read_entry(v)
            if e.get("batch_id") is not None:
                ids.add(e["batch_id"])
            # a vacuum entry carries forward the ids of the log entries
            # it deleted — exactly-once replay survives log truncation
            ids.update(e.get("batch_ids_seen", ()))
        return ids

    # ----------------------------------------------------- checkpoints

    def _ckpt_file(self, v: int) -> str:
        return os.path.join(self.log_dir, f"ckpt-v{v:010d}.json")

    @property
    def _last_ckpt_pointer(self) -> str:
        return os.path.join(self.log_dir, "_last_checkpoint")

    def _load_checkpoint(self) -> dict | None:
        try:
            with open(self._last_ckpt_pointer) as f:
                v = json.load(f)["version"]
            with open(self._ckpt_file(v)) as f:
                return json.load(f)
        except (FileNotFoundError, json.JSONDecodeError, KeyError):
            return None  # no/stale pointer → callers fall back to the log

    def checkpoint(self) -> int | None:
        """Roll the accumulated batch-id set into a checkpoint file at
        the current head version and repoint ``_last_checkpoint``.
        Idempotent per version (exclusive create); pointer update is an
        atomic replace, so readers always see a complete checkpoint.
        Called automatically every ``checkpoint_interval`` commits."""
        v = self.latest_version()
        if v is None:
            return None
        entry = {"version": v, "batch_ids": sorted(self.applied_batch_ids())}
        tmp = os.path.join(self.log_dir, f"_tmp-{uuid.uuid4().hex[:8]}")
        with open(tmp, "w") as f:
            json.dump(entry, f)
        try:
            os.link(tmp, self._ckpt_file(v))
        except FileExistsError:
            pass  # a rival checkpointed the same version — identical content
        ptr_tmp = tmp + ".ptr"
        with open(ptr_tmp, "w") as f:
            json.dump({"version": v}, f)
        os.replace(ptr_tmp, self._last_ckpt_pointer)
        os.remove(tmp)
        # keep only the newest checkpoint file; a concurrent
        # checkpointer may sweep the same stale file first — losing
        # that race is fine (the file is gone either way)
        for f in os.listdir(self.log_dir):
            if f.startswith("ckpt-v") and f != f"ckpt-v{v:010d}.json":
                old = int(f[6:16])
                if old < v:
                    try:
                        os.remove(os.path.join(self.log_dir, f))
                    except FileNotFoundError:
                        pass
        return v

    def _try_commit_at(self, v: int, entry: dict) -> bool:
        """One optimistic attempt: claim EXACTLY version ``v``
        atomically.  False ⇒ a rival owns ``v``; the caller must
        re-read the log and REBUILD its entry against the rival's
        state before retrying — committing a stale entry at a later
        version would silently erase the rival's commit (the classic
        lost update; pinning the target version is what prevents it).

        The claim is ``os.link(tmp, version_file)`` — exclusive (EEXIST
        if a rival won) AND atomic on content: the entry is fully
        written to the temp file first, so a crash can never publish a
        torn/partial log entry (a bare ``open('x')`` + ``json.dump``
        could die mid-dump having already claimed the version)."""
        entry = {**entry, "version": v}
        tmp = os.path.join(self.log_dir, f"_tmp-{uuid.uuid4().hex[:8]}")
        with open(tmp, "w") as f:
            json.dump(entry, f)
        try:
            os.link(tmp, self._version_file(v))
            return True
        except FileExistsError:
            return False
        finally:
            os.remove(tmp)

    # ------------------------------------------------------------ write

    def _write_data(self, df: DataFrame) -> list[str]:
        """Write df's rows as new uniquely-named parquet files (a temp
        write + rename into the table dir), returning their names.
        Files are invisible until a commit references them.  Per-file
        min/max stats are read from the just-written parquet footers
        (a metadata read, not a data scan) and staged for the commit."""
        tmp = os.path.join(self.path, f"_staging-{uuid.uuid4().hex[:8]}")
        df.write.parquet(tmp)
        names = []
        for f in sorted(os.listdir(tmp)):
            if f.endswith(".parquet"):
                new = f"part-{uuid.uuid4().hex}.parquet"
                os.rename(os.path.join(tmp, f), os.path.join(self.path, new))
                names.append(new)
                self._staged_stats[new] = _footer_stats(
                    os.path.join(self.path, new)
                )
                if self.bloom_cols:
                    self._write_bloom_sidecars(new)
        for leftover in os.listdir(tmp):
            os.remove(os.path.join(tmp, leftover))
        os.rmdir(tmp)
        return names

    def _commit_with_retry(self, build_entry) -> int:
        """Retry loop with read-version pinning: each attempt reads the
        head version, calls ``build_entry(base_version, base_files)``
        against exactly that snapshot, and commits at base_version+1.
        A rival landing in between makes the claim fail, and the entry
        is REBUILT against the rival's state — appends compose, and a
        same-batch_id rival is seen on the rebuild (exactly-once)."""
        for _ in range(_MAX_COMMIT_RETRIES):
            base_v = self.latest_version() or 0
            base_files = (
                self._read_entry(base_v)["files"] if base_v else []
            )
            entry = build_entry(base_v, base_files)
            if entry is None:  # e.g. replayed batch — nothing to do
                return self.latest_version() or 0
            # schema-evolution flag rides ops that CARRY base files
            # (append/delete/vacuum); whole-table rewrites (overwrite,
            # merge, compact) re-materialize one uniform schema and
            # drop it
            if (
                "merged_schema" not in entry
                and entry.get("op") in ("append", "delete", "vacuum")
                and base_v
                and self._read_entry(base_v).get("merged_schema")
            ):
                entry["merged_schema"] = True
            if "stats" not in entry:
                # carry per-file stats forward: files retained from the
                # base keep their recorded stats, files this writer just
                # staged bring theirs; a file with no stats is simply
                # never pruned (read_where keeps it)
                base_stats = (
                    self._read_entry(base_v).get("stats", {})
                    if base_v
                    else {}
                )
                known = {**base_stats, **self._staged_stats}
                entry["stats"] = {
                    f: known[f] for f in entry["files"] if f in known
                }
            if self._try_commit_at(base_v + 1, entry):
                v = base_v + 1
                # committed stats now live in the entry (and carry
                # forward); anything else staged belongs to abandoned
                # attempts whose files are orphans — drop both, or a
                # long-lived handle (a streaming CDC applier) grows a
                # stats dict per epoch forever
                self._staged_stats.clear()
                if v % self.checkpoint_interval == 0:
                    self.checkpoint()
                return v
        raise RuntimeError("commit contention: too many retries")

    def _enforce_schema(
        self, df: DataFrame, files: list[str] | None = None
    ) -> None:
        """Delta-style schema enforcement: an append whose columns
        differ from the table schema is rejected BEFORE any file is
        written — snapshot reads pass an explicit file list (no
        mergeSchema), so a divergent file would otherwise silently
        drop or null out columns depending on which file the reader
        samples first.  Evolution = explicit ``overwrite``.

        ``files`` pins the snapshot to validate against (the commit
        retry loop re-runs this against the REBUILT base snapshot — a
        rival ``overwrite`` changing the table schema between the
        pre-write check and the winning commit must not let a
        divergent-schema append land)."""
        if files is None:
            files = self.snapshot_files()
        if not files:
            return
        spark = df.sparkSession
        current = spark.read.parquet(
            os.path.join(self.path, files[0])
        ).schema
        incoming = df.schema
        a = [(f.name, f.dataType.simpleString()) for f in current]
        b = [(f.name, f.dataType.simpleString()) for f in incoming]
        if sorted(a) != sorted(b):
            raise ValueError(
                f"schema mismatch: table has {a}, append has {b}; "
                "use overwrite() to change the table schema"
            )

    def _check_evolution(
        self, df: DataFrame, files: list[str] | None = None
    ) -> None:
        """Delta's ``mergeSchema`` contract: an evolving append may ADD
        columns and may OMIT existing ones (read as null), but a column
        present on both sides must keep its type — silent type drift is
        the corruption schema enforcement exists to stop."""
        if files is None:
            files = self.snapshot_files()
        if not files:
            return
        spark = df.sparkSession
        # validate against the UNION schema, not files[0]: on an evolved
        # snapshot files have different shapes, and a column added by a
        # prior merge_schema append may be absent from the sampled file —
        # invisible to the drift check, letting a second evolving append
        # commit the same column with an incompatible type (the table
        # then becomes unreadable at the parquet mergeSchema step).
        # mergeSchema over uniform files degenerates to the single-file
        # read, so this is safe either way; footers only, no data scan.
        current = {
            f.name: f.dataType.simpleString()
            for f in spark.read.option("mergeSchema", "true")
            .parquet(*[os.path.join(self.path, fn) for fn in files])
            .schema
        }
        for f in df.schema:
            have = current.get(f.name)
            if have is not None and have != f.dataType.simpleString():
                raise ValueError(
                    f"schema evolution cannot change column "
                    f"{f.name!r} from {have} to "
                    f"{f.dataType.simpleString()}"
                )

    def append(
        self,
        df: DataFrame,
        *,
        batch_id: str | None = None,
        merge_schema: bool = False,
    ) -> int:
        """Append rows atomically; replaying a recorded batch_id is a
        no-op.  Returns the committed (or current, on replay) version.

        ``merge_schema=True`` is Delta's additive schema evolution:
        the incoming frame may add new columns (older files read as
        null there) or omit existing ones; shared columns must keep
        their types (:meth:`_check_evolution`).  The commit entry is
        flagged ``merged_schema`` — snapshot reads then union file
        schemas (parquet mergeSchema) — and the flag propagates along
        append/delete/vacuum chains until a whole-table rewrite
        (overwrite / MERGE / OPTIMIZE) re-materializes one uniform
        schema and drops it (_commit_with_retry)."""
        if batch_id is not None and batch_id in self.applied_batch_ids():
            return self.latest_version() or 0
        self._enforce_constraints(df)

        def check(df_: DataFrame, files: list[str] | None = None) -> None:
            # an evolved snapshot has no single file schema to sample —
            # typed-compatibility (the evolution check) IS its
            # enforcement until a rewrite normalizes the files
            v = self.latest_version()
            evolved = merge_schema or (
                v is not None
                and self._read_entry(v).get("merged_schema")
            )
            if evolved:
                self._check_evolution(df_, files)
            else:
                self._enforce_schema(df_, files)

        check(df)
        new_files = self._write_data(df)

        def build(base_v: int, base_files: list[str]):
            if (
                batch_id is not None
                and batch_id in self.applied_batch_ids()
            ):
                return None
            # re-validate against the REBUILT base: a rival overwrite()
            # may have changed the table schema since the pre-write check
            check(df, base_files)
            entry = {
                "op": "append",
                "files": base_files + new_files,
                # the tick's OWN files, so O(new) consumers (drift
                # gates, incremental ticks) read the batch delta
                # straight from the commit instead of reconstructing
                # it as a set-difference between snapshot lists —
                # which silently breaks if a rewrite landed between
                # two appends (ADVICE r9)
                "new_files": new_files,
                "batch_id": batch_id,
            }
            if merge_schema:
                entry["merged_schema"] = True
            return entry

        return self._commit_with_retry(build)

    def overwrite(
        self, df: DataFrame, *, expect_version: int | None = None
    ) -> int | None:
        """Replace the table contents; prior versions remain readable.

        ``expect_version`` makes the overwrite CONDITIONAL: commit only
        if the table is still at that version, else return None (the
        compare-and-swap a derived rewrite needs — e.g. a sketch
        index's fold computes its replacement FROM version N, and
        blindly overwriting after a rival tick landed at N+1 would
        erase the rival's rows while its batch_id stays recorded,
        permanently losing that batch to exactly-once replay)."""
        self._enforce_constraints(df)
        new_files = self._write_data(df)

        def build(base_v: int, base_files: list[str]):
            if expect_version is not None and base_v != expect_version:
                raise _MergeConflict(expect_version, base_v)
            return {"op": "overwrite", "files": new_files}

        try:
            return self._commit_with_retry(build)
        except _MergeConflict:
            return None

    def merge(
        self,
        spark: SparkSession,
        updates: DataFrame,
        key: str,
        *,
        batch_id: str | None = None,
    ) -> int | None:
        """MERGE (keyed upsert): rows of ``updates`` whose ``key``
        matches a current row REPLACE it; the rest insert — Delta's
        ``DeltaTable.merge`` whenMatched-update/whenNotMatched-insert
        on the commit log, as copy-on-write:

            merged = target ⟕(anti) updates ∪ updates

        Serializability: the merged rows are a function of the
        snapshot they were computed FROM, so the commit is pinned to
        that version — ANY rival commit landing in between (even a
        plain append: its rows would be silently erased by our
        overwrite) ABORTS the merge, returning None; the caller
        re-runs against the new state.  This is exactly Delta's
        ConcurrentModificationException contract, while ``append``
        keeps composing lock-free.  Completes the op set:
        append / overwrite / MERGE / OPTIMIZE / VACUUM.

        ``batch_id`` gives exactly-once merge replay (a re-delivered
        CDC batch mutates nothing).  Prior versions stay readable
        (time travel shows the pre-merge table)."""
        if batch_id is not None and batch_id in self.applied_batch_ids():
            return self.latest_version() or 0
        self._enforce_constraints(updates)
        dup = (
            updates.groupBy(key)
            .count()
            .filter(F.col("count") > 1)
            .take(1)
        )
        if dup:
            # Delta's multiple-source-matches error: two update rows
            # for one key would BOTH land, corrupting the keyed table
            # silently.  CDC callers collapse to one row per key first.
            raise ValueError(
                f"merge updates contain duplicate {key!r} values "
                f"(e.g. {dup[0][0]!r}); collapse to one row per key "
                "before merging"
            )
        start_v = self.latest_version()
        if start_v is None or not self.snapshot_files(start_v):
            # no committed data (never written, or only no-op delete
            # entries so far) — the merge degenerates to an append
            return self.append(updates, batch_id=batch_id)
        target = self.read(spark, version=start_v)
        merged = target.join(
            updates.select(key).distinct(), key, "left_anti"
        ).unionByName(updates)
        new_files = self._write_data(merged)

        def build(base_v: int, base_files: list[str]):
            if (
                batch_id is not None
                and batch_id in self.applied_batch_ids()
            ):
                return None
            if base_v != start_v:
                # table moved under us → the merged rows are stale;
                # abort (orphaned files swept by vacuum)
                raise _MergeConflict(start_v, base_v)
            return {
                "op": "merge",
                "files": new_files,
                "batch_id": batch_id,
            }

        try:
            return self._commit_with_retry(build)
        except _MergeConflict:
            return None

    def delete(
        self,
        spark: SparkSession,
        keys: DataFrame,
        key: str,
        *,
        batch_id: str | None = None,
    ) -> int | None:
        """DELETE by key (Delta's ``DeltaTable.delete`` on the commit
        log), FILE-SCOPED copy-on-write: only files whose recorded
        min/max stats overlap the key set's [min, max] are read and
        rewritten (anti-join against the keys); every other file is
        carried into the new version unchanged — on a range-clustered
        table a targeted delete (one day, one key band) rewrites one
        file of N, which is exactly how Delta scopes deletes via data
        skipping.

        Same serializability contract as ``merge``: the rewritten
        rows are a function of the snapshot they were computed from,
        so ANY rival commit landing in between aborts (returns None;
        caller re-runs).  ``batch_id`` gives exactly-once replay (the
        TPC-H RF2 refresh stream re-delivered is a no-op).  Prior
        versions stay readable — time travel shows the pre-delete
        table, and VACUUM owns physical removal (Delta's
        deletedFileRetentionDuration split)."""
        if batch_id is not None and batch_id in self.applied_batch_ids():
            return self.latest_version() or 0
        start_v = self.latest_version()
        if start_v is None:
            # empty table: a benign no-op, NOT a conflict — None is
            # reserved for CAS aborts (a first micro-batch containing
            # only deletes must not crash the CDC applier's retry loop)
            return self._commit_delete_noop(batch_id, 0)
        k = keys.select(key).distinct()
        bounds = k.agg(
            F.min(key).alias("lo"), F.max(key).alias("hi")
        ).collect()[0]
        if bounds["lo"] is None:  # empty key set
            return self._commit_delete_noop(batch_id, start_v)
        touched = self.pruned_files(
            [(key, ">=", bounds["lo"]), (key, "<=", bounds["hi"])],
            start_v,
        )
        if not touched:  # stats prove no row can match
            return self._commit_delete_noop(batch_id, start_v)
        untouched = [
            f for f in self.snapshot_files(start_v) if f not in touched
        ]
        reader = spark.read
        if self._read_entry(start_v).get("merged_schema"):
            # pin the full union schema so a touched subset that
            # happens to hold only pre-evolution files still rewrites
            # wide (missing columns read as null)
            reader = reader.schema(self.read(spark, start_v).schema)
        remaining = reader.parquet(
            *[os.path.join(self.path, f) for f in touched]
        ).join(k, key, "left_anti")
        new_files = self._write_data(remaining)

        def build(base_v: int, base_files: list[str]):
            if (
                batch_id is not None
                and batch_id in self.applied_batch_ids()
            ):
                return None
            if base_v != start_v:
                raise _MergeConflict(start_v, base_v)
            return {
                "op": "delete",
                "files": untouched + new_files,
                "batch_id": batch_id,
            }

        try:
            return self._commit_with_retry(build)
        except _MergeConflict:
            return None

    def _commit_delete_noop(
        self, batch_id: str | None, current_v: int
    ) -> int:
        """A delete that provably matches nothing must still get its
        ``batch_id`` into the log: under the wiped-checkpoint replay
        contract, an UNRECORDED epoch re-executes against the NEWER
        snapshot and can delete rows upserted by later epochs (whose
        own replays then no-op on their recorded ids) — silent data
        loss.  So when a batch_id is present, commit a no-op entry
        (files carried verbatim from the commit-time base, id
        recorded).  No CAS pin: deleting nothing commutes with any
        rival, and the files list is rebuilt inside the retry loop."""
        if batch_id is None:
            return current_v

        def build(base_v: int, base_files: list[str]):
            if batch_id in self.applied_batch_ids():
                return None
            return {
                "op": "delete",
                "files": base_files,
                "batch_id": batch_id,
            }

        return self._commit_with_retry(build)

    def restore(self, version: int) -> int:
        """Delta's ``RESTORE TABLE … TO VERSION``: commit a NEW version
        whose file set is an older snapshot's — no data file moves or
        rewrites, and history is preserved (the restore is itself a
        logged, time-travelable entry; the versions it skips over stay
        readable).  The mistaken-delete undo button the commit log buys
        for free.

        Restoring past a vacuum horizon is refused with the missing
        files listed (Delta's retention-window refusal); stats and the
        schema-evolution flag carry from the SOURCE entry so pruning
        and union reads behave exactly as they did at ``version``."""
        try:
            src = self._read_entry(version)
        except FileNotFoundError:
            raise ValueError(
                f"version {version} is not available (vacuumed or "
                "never committed)"
            ) from None
        missing = [
            f
            for f in src["files"]
            if not os.path.exists(os.path.join(self.path, f))
        ]
        if missing:
            raise ValueError(
                f"cannot restore version {version}: data files "
                f"vacuumed: {missing}"
            )

        def build(base_v: int, base_files: list[str]):
            entry = {"op": "restore", "files": list(src["files"])}
            if src.get("merged_schema"):
                entry["merged_schema"] = True
            if "stats" in src:
                entry["stats"] = src["stats"]
            return entry

        return self._commit_with_retry(build)

    def compact(
        self,
        spark: SparkSession,
        target_files: int = 1,
        *,
        cluster_by: tuple[str, ...] = (),
        zorder_by: tuple[str, str] | None = None,
        zorder_bits: int = 4,
        dedup_keys: tuple[str, ...] = (),
    ) -> int:
        """OPTIMIZE: rewrite the current snapshot into ``target_files``
        files and commit the swap (reference preprocess.py:70-73).

        ``cluster_by`` is the 1-D layout knob: the rewrite
        range-partitions and sorts on the given columns, so each output
        file owns a disjoint key range and any later filter on those
        columns prunes to the files whose range matches (the same win
        pipeline/layout.py measures — fewer files touched per
        selective scan).

        ``zorder_by`` is the true 2-D form (Delta's ``OPTIMIZE ...
        ZORDER BY (a, b)``): each column is bucketed into 2^bits
        quantile cells (cut points from approx quantiles — layout
        needs no exactness, and the computation stays distributed; no
        single-reducer ntile window), the two bucket ids interleave
        into a Z-key (pipeline/layout.py zorder_key_2d) and the
        rewrite clusters on THAT — every file then covers a compact
        rectangle-ish region of (a, b) space, so the recorded min/max
        stats prune selective reads on EITHER column, which no 1-D
        sort can give both of.  The Z-key is dropped before write;
        only the layout changes.

        Op-aware conflict reconcile (the rules Delta's OPTIMIZE
        applies): rival APPENDS landing between the compaction read and
        the commit are carried into the new manifest untouched; a rival
        OVERWRITE or COMPACT redefines the table, so this compaction
        ABORTS — committing would resurrect overwritten rows or
        double-count a rival's compacted copy.  The aborted rewrite's
        files stay unreferenced (vacuum sweeps them).

        ``dedup_keys`` (round 12, guide §6 — write the layout the
        reads want): additionally collapse duplicate key rows during
        the rewrite (``max`` of the ONE non-key column — ValueError
        otherwise — the SAME merge the read-side dedup aggregates
        apply, e.g. SearchIndex.probe's ``max(tf)``), and mark the
        commit entry ``canonical: [keys]`` so readers can SKIP their
        per-query dedup exchange while the snapshot head stays this
        compact.
        Duplicates only exist after the one replay mode exactly-once
        ids cannot close (wiped checkpoint over re-bundled batches),
        so the rewrite is a row-identical no-op in normal operation —
        but the mark is what makes skipping provable.  Rival appends
        carried into the manifest void the mark (their rows are not
        deduped); any LATER append makes a newer head, so the mark
        on an old compact stops applying by construction."""
        # Pin ONE snapshot version for the whole read phase: the rewrite
        # input, ``compacted_away``, and the conflict-check range must
        # all refer to the same version.  Reading the head three times
        # unpinned would let a rival append land between the file-list
        # read and the data read — its rows would be baked into the
        # compacted files AND its file carried via ``appended_since``,
        # duplicating those rows.
        start_v = self.latest_version()
        if start_v is None:
            return 0
        base = self.snapshot_files(start_v)
        small_enough = len(base) <= target_files
        if small_enough and not cluster_by and not zorder_by:
            if not dedup_keys:
                return start_v
            # already canonical at these keys → nothing to rewrite
            if self._read_entry(start_v).get("canonical") == list(
                dedup_keys
            ):
                return start_v
        compacted_away = set(base)
        df = self.read(spark, version=start_v)
        if dedup_keys:
            others = [c for c in df.columns if c not in dedup_keys]
            if len(others) != 1:
                # a per-column max over several value columns could
                # stitch one "row" from different duplicates
                raise ValueError(
                    f"dedup_keys={list(dedup_keys)} needs exactly one "
                    f"non-key column, table has {others}"
                )
            df = df.groupBy(*dedup_keys).agg(
                *[F.max(c).alias(c) for c in others]
            )
        if zorder_by:
            df = _with_zorder_key(df, zorder_by, zorder_bits)
            df = (
                df.repartitionByRange(target_files, "_zkey")
                .sortWithinPartitions("_zkey")
                .drop("_zkey")
            )
        elif cluster_by:
            df = df.repartitionByRange(
                target_files, *cluster_by
            ).sortWithinPartitions(*cluster_by)
        else:
            df = df.coalesce(target_files)
        new_files = self._write_data(df)

        def build(base_v: int, base_files: list[str]):
            for v in range(start_v + 1, base_v + 1):
                try:
                    entry = self._read_entry(v)
                except FileNotFoundError:
                    # a concurrent vacuum truncated this entry — the
                    # table state we read from is gone; abort rather
                    # than crash (the rewrite's files stay orphaned
                    # and the next vacuum sweeps them)
                    return None
                if entry["op"] != "append":
                    return None  # table redefined under us → abort
            appended_since = [
                f for f in base_files if f not in compacted_away
            ]
            entry = {"op": "compact", "files": new_files + appended_since}
            if dedup_keys and not appended_since:
                # carried rival appends are NOT deduped, so the mark
                # only lands on a clean rewrite
                entry["canonical"] = list(dedup_keys)
            # rewritten files are uniform (union schema), but rival
            # appends carried verbatim may be narrower: on an evolved
            # chain every rival entry inherits the merged_schema flag,
            # so if any landed, the mixed manifest must stay flagged —
            # an unflagged read would sample one file's schema and
            # silently drop/null the divergent columns
            if appended_since and any(
                self._read_entry(v).get("merged_schema")
                for v in range(start_v + 1, base_v + 1)
            ):
                entry["merged_schema"] = True
            return entry

        return self._commit_with_retry(build)

    def vacuum(
        self, keep_versions: int = 1, *, min_age_s: float = 0.0
    ) -> list[str]:
        """Drop versions older than the newest ``keep_versions`` and
        delete data files no retained version references (reference
        preprocess.py:74-76).

        Exactly-once survives truncation: before deleting anything, a
        ``vacuum`` entry is committed that carries forward every
        batch_id recorded in the entries about to be dropped
        (``applied_batch_ids`` reads them back), so a full stream
        replay after vacuum still no-ops.

        ``min_age_s`` guards racing writers: files younger than it are
        never deleted — an in-flight append's already-renamed part
        files are unreferenced by any version until its commit lands,
        and deleting them would corrupt that commit.  The 0.0 default
        assumes a quiesced table (this engine's administrative cadence,
        pipeline/workflow.py); set it above the longest writer duration
        in multi-writer deployments (Delta's retention horizon plays
        the same role)."""
        import time

        all_ids = sorted(self.applied_batch_ids())

        def build(base_v: int, base_files: list[str]):
            return {
                "op": "vacuum",
                "files": base_files,
                "batch_ids_seen": all_ids,
            }

        self._commit_with_retry(build)
        vs = self.versions()
        retained = vs[-keep_versions:] if keep_versions > 0 else vs[-1:]
        kept_files = set()
        for v in retained:
            kept_files.update(self._read_entry(v)["files"])
        now = time.time()

        def old_enough(p: str) -> bool:
            return now - os.path.getmtime(p) >= min_age_s

        removed = []
        for v in vs:
            if v not in retained:
                os.remove(self._version_file(v))
                self._entry_cache.pop(v, None)
        for f in os.listdir(self.path):
            p = os.path.join(self.path, f)
            if (
                f.endswith(".parquet")
                and f not in kept_files
                and old_enough(p)
            ):
                os.remove(p)
                removed.append(f)
        # sweep bloom sidecars of the data files just removed
        bloom_dir = os.path.join(self.log_dir, "bloom")
        if os.path.isdir(bloom_dir):
            # prefix match against "<data file>." — robust no matter
            # what the (hex-encoded) column suffix looks like, and it
            # also sweeps legacy sidecars written before the column
            # name was hex-encoded
            prefixes = tuple(f"{r}." for r in removed)
            for f in os.listdir(bloom_dir):
                if prefixes and f.startswith(prefixes):
                    os.remove(os.path.join(bloom_dir, f))
        # sweep staging dirs orphaned by writers that died pre-commit
        for f in os.listdir(self.path):
            if f.startswith("_staging-"):
                d = os.path.join(self.path, f)
                if not old_enough(d):
                    continue
                for inner in os.listdir(d):
                    os.remove(os.path.join(d, inner))
                os.rmdir(d)
        return sorted(removed)

    # ------------------------------------------------------------- read

    def history(self, spark: SparkSession) -> DataFrame:
        """Delta's ``DESCRIBE HISTORY`` as a derived view over the
        commit log: one row per committed version with the operation,
        the file delta against the previous version, the row count
        when the manifest carries stats for every file, and the
        exactly-once batch id.  Driver-side O(versions) from the log
        alone — no data file is opened, no Spark job runs (the same
        discipline as :meth:`pruned_files`).  VACUUM deletes log
        entries past its horizon, so history covers the retained
        suffix — the same truncation Delta's retention applies to
        DESCRIBE HISTORY.  ``files_added``/``files_removed`` for the
        oldest retained version count against the empty set."""
        rows = []
        prev: set[str] = set()
        for v in self.versions():
            e = self._read_entry(v)
            files = set(e["files"])
            stats = e.get("stats", {})
            # an empty snapshot is provably 0 rows; None is reserved
            # for "stats unavailable"
            n_rows = (
                sum(stats[f].get("rows", 0) for f in e["files"])
                if all(f in stats for f in e["files"])
                else None
            )
            rows.append(
                (
                    v,
                    e["op"],
                    len(files),
                    len(files - prev),
                    len(prev - files),
                    n_rows,
                    e.get("batch_id"),
                )
            )
            prev = files
        schema = (
            "version LONG, op STRING, n_files LONG, files_added LONG, "
            "files_removed LONG, n_rows LONG, batch_id STRING"
        )
        from ..exprs import values_frame

        return values_frame(spark, rows, schema)

    def read(
        self, spark: SparkSession, version: int | None = None
    ) -> DataFrame:
        """Snapshot read of ``version`` (default: latest).  A snapshot
        holding schema-evolved files (append(merge_schema=True))
        unions file schemas; uniform snapshots skip the footer merge.

        The resolved schema is memoized per (session, table path) at
        the read version (cache.memo): a committed version's file set
        is immutable, so its schema is too — Delta keeps the schema in
        the log for exactly this reason.  Repeated snapshot reads
        (every indexed query re-opens its index tables) then skip the
        footer-inference job instead of re-launching it per read."""
        v = self.latest_version() if version is None else version
        if v is None:
            raise ValueError("table has no committed data")
        try:
            entry = self._read_entry(v)
        except FileNotFoundError:
            raise ValueError(
                f"version {v} is not available (vacuumed or never "
                "committed)"
            ) from None
        files = entry["files"]
        if not files:
            raise ValueError("table has no committed data")
        merged = bool(entry.get("merged_schema"))
        reader = spark.read
        if merged:
            reader = reader.option("mergeSchema", "true")
        paths = [os.path.join(self.path, f) for f in files]
        from ..cache import memo

        inferred = []  # a miss returns the frame it inferred from

        def infer():
            inferred.append(reader.parquet(*paths))
            return inferred[0].schema

        schema = memo(
            spark,
            "snapshot-schema",
            os.path.realpath(self.path),
            (v, merged),
            infer,
        )
        if inferred:
            return inferred[0]
        return reader.schema(schema).parquet(*paths)

    def diff(
        self,
        spark: SparkSession,
        v_from: int,
        v_to: int | None = None,
    ) -> DataFrame:
        """Change data feed between two committed versions — Delta's
        ``table_changes`` as a derived computation over the commit
        log: the returned frame is every row of ``v_to`` not in
        ``v_from`` tagged ``_change_type='insert'`` plus every row of
        ``v_from`` not in ``v_to`` tagged ``'delete'`` (a keyed
        update therefore appears as its delete+insert pair — the
        representation CDC consumers already net per key).

        File-scoped, like every txlog read path: a file CARRIED
        between the two snapshots contributes identical rows to both
        sides and cancels exactly in the multiset difference — so
        only the files present on ONE side are ever read.  After a
        targeted delete that rewrote 1 of N range-clustered files,
        the diff reads 2 small files, not 2 whole snapshots; appends
        diff by reading just the appended files.  ``exceptAll`` keeps
        duplicate multiplicity honest (a table holding a row twice
        that drops to once diffs as ONE delete).

        Schema evolution between the versions is handled by aligning
        both sides on the union schema (absent columns read as null,
        exactly as a snapshot read of the evolved table would)."""
        v_to = self.latest_version() if v_to is None else v_to
        if v_to is None:
            raise ValueError("table has no committed data")
        from_files = set(self.snapshot_files(v_from))
        to_files = set(self.snapshot_files(v_to))
        only_from = sorted(from_files - to_files)
        only_to = sorted(to_files - from_files)

        def read_side(files: list[str], entry_v: int) -> DataFrame | None:
            if not files:
                return None
            reader = spark.read
            if self._read_entry(entry_v).get("merged_schema"):
                reader = reader.option("mergeSchema", "true")
            return reader.parquet(
                *[os.path.join(self.path, f) for f in files]
            )

        old = read_side(only_from, v_from)
        new = read_side(only_to, v_to)
        # align on the union schema (additive evolution only — the
        # same contract _check_evolution enforces at write time)
        fields: dict[str, str] = {}
        for df in (old, new):
            if df is not None:
                for f in df.schema:
                    fields.setdefault(f.name, f.dataType.simpleString())
        cols = sorted(fields)

        def align(df: DataFrame | None) -> DataFrame | None:
            if df is None:
                return None
            for name in cols:
                if name not in df.columns:
                    df = df.withColumn(
                        name, F.lit(None).cast(fields[name])
                    )
            return df.select(*cols)

        old, new = align(old), align(new)
        tag = lambda df, t: df.withColumn(  # noqa: E731
            "_change_type", F.lit(t)
        )
        if old is None and new is None:
            # identical file sets (same version, or a restore target):
            # an empty diff in the table's schema
            return tag(self.read(spark, v_to), "insert").limit(0)
        if old is None:
            return tag(new, "insert")
        if new is None:
            return tag(old, "delete")
        return tag(new.exceptAll(old), "insert").unionAll(
            tag(old.exceptAll(new), "delete")
        )

    def pruned_files(
        self,
        predicates: list[tuple],
        version: int | None = None,
    ) -> list[str]:
        """Data skipping: the subset of the snapshot's files whose
        recorded min/max stats COULD satisfy every predicate.

        ``predicates`` is a conjunction of ``(col, op, value)`` with op
        in ``=, <, <=, >, >=``.  A file with no stats for ``col`` is
        kept (never prune on missing information); all ops are
        null-rejecting, so min/max over non-null values is a sound
        prune.  Driver-side, O(files) — no Spark job runs."""
        v = self.latest_version() if version is None else version
        if v is None:
            return []
        entry = self._read_entry(v)
        stats = entry.get("stats", {})
        out = []
        for f in entry["files"]:
            st = stats.get(f, {})
            if st.get("rows") == 0:
                continue  # a provably-empty file can never match
            cols = st.get("cols", {})
            keep = True
            for col, op, val in predicates:
                if op not in _PRED_OPS:
                    raise ValueError(f"unsupported op {op!r}")
                if col not in cols:
                    continue
                ev = _enc(val)
                if ev is None:
                    continue
                lo, hi = cols[col]
                if type(lo) is bool or isinstance(ev, bool):
                    continue  # bool ranges prune nothing useful
                if not isinstance(ev, type(lo)) and not (
                    isinstance(ev, (int, float))
                    and isinstance(lo, (int, float))
                ):
                    continue  # incomparable types → keep
                if (
                    (op == "=" and not (lo <= ev <= hi))
                    or (op == "<" and not lo < ev)
                    or (op == "<=" and not lo <= ev)
                    or (op == ">" and not hi > ev)
                    or (op == ">=" and not hi >= ev)
                ):
                    keep = False
                    break
            if keep:
                # equality predicates additionally consult the per-file
                # bloom sidecars (present only for bloom_cols writes)
                for col, op, val in predicates:
                    if op == "=" and not self._bloom_might_contain(
                        f, col, val
                    ):
                        keep = False
                        break
            if keep:
                out.append(f)
        return out

    def read_where(
        self,
        spark: SparkSession,
        predicates: list[tuple],
        version: int | None = None,
    ) -> DataFrame:
        """Snapshot read with stats-based file skipping: Spark is handed
        ONLY the files whose min/max ranges can match, then the same
        predicate is applied as a real filter (skipping is a superset
        guarantee, not an evaluation).  With a range-clustered layout
        (``compact(cluster_by=...)``), a selective read opens one file
        of N — the decision made from the log, before any executor
        touches storage."""
        v = self.latest_version() if version is None else version
        evolved = (
            v is not None and self._read_entry(v).get("merged_schema")
        )
        files = self.pruned_files(predicates, version)
        if not files:
            # provably-empty result: recover the schema cheaply —
            # from ONE file when enforcement keeps them identical,
            # from the full snapshot read when schemas evolved
            if evolved:
                return self.read(spark, version).where(F.lit(False))
            all_files = self.snapshot_files(version)
            if not all_files:
                raise ValueError("table has no committed data")
            return spark.read.parquet(
                os.path.join(self.path, all_files[0])
            ).where(F.lit(False))
        reader = spark.read
        if evolved:
            # pin the full union schema: a pruned subset holding only
            # pre-evolution files must still expose evolved columns
            # (as null), or a predicate on one would crash instead of
            # selecting nothing
            reader = reader.schema(self.read(spark, version).schema)
        df = reader.parquet(
            *[os.path.join(self.path, f) for f in files]
        )
        return df.where(self._pred_column(predicates))

    @staticmethod
    def _pred_column(predicates: list[tuple]) -> Column:
        cond = F.lit(True)
        for col, op, val in predicates:
            c = F.col(col)
            cond = cond & {
                "=": c == val,
                "<": c < val,
                "<=": c <= val,
                ">": c > val,
                ">=": c >= val,
            }[op]
        return cond
