"""Persisted inverted index — lexical retrieval's production shape.

The batch query (queries/text.py text_bm25_topk) tokenizes the whole
corpus every run.  At the 100 TB design point the inverted index is a
stored artifact: each crawl batch is tokenized ONCE, its postings and
document lengths land in TxTables, and a search probes ONLY the query
terms' postings — the classic inverted-file contract (term → postings
list) expressed as lakehouse tables with data skipping:

- **postings** (term, doc_id, tf), written with ``bloom_cols=("term",)``
  — every file carries a per-file bloom sidecar over its terms, and
  ``optimize()`` range-clusters files BY TERM, so a single-term probe
  opens the one file (of N) whose [min,max] term range matches and
  whose bloom admits the term.  The probe is a driver-side pruning
  decision from the commit log + sidecars; executors never touch
  non-matching postings files.
- **doclens** (doc_id, dl) — BM25's length normalization needs N and
  avgdl over ALL docs; a constant-width scan of one long per doc
  (at 100 TB of text this table is ~0.01% of the corpus).

Lifecycle properties (the same contract as the MinHash/span/LM/HLL/IVF
indexes — dedup/index.py, dedup/spans.py, pipeline/lm_index.py,
pipeline/hll_index.py, similarity/index.py):

1. **O(new) ticks** — ``ingest`` tokenizes only the new batch; no
   stored posting is re-derived, no old text re-read.
2. **exactly-once** — both table appends are idempotent under
   batch-id suffixes (``-po`` / ``-dl``); a crash BETWEEN the two
   commits replays to completion (the landed half no-ops, the missing
   half lands).
3. **shared definition** — search scores with functions/bm25.py, the
   SAME kernel the full-scan query uses, so ``text_bm25_topk_indexed``
   equals ``text_bm25_topk`` by construction (pinned in
   tests/test_search_index.py).

Reference parity: the reference keeps derived state in Delta tables
between runs (reference pipeline/preprocess.py:41-76); an inverted
index is north-star retrieval scope (SURVEY.md §2 "beyond the
reference").  This also upgrades search_hybrid_rrf's lexical channel
from corpus scan to index probe (queries/search.py).
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.bm25 import bm25_topk
from ..functions.text import tokens
from .txlog import TxTable


def _canonical(t: TxTable, keys: tuple[str, ...], v: int | None) -> bool:
    """True when ``t``'s snapshot ``v`` is a canonical compact at
    ``keys`` (txlog dedup_keys) — i.e. the stored rows are already the
    read-side dedup's output.  Driver-side: one commit-entry read.
    Callers pass the SAME pinned version their data read uses, so a
    compaction or append landing between the two cannot pair one
    snapshot's files with another's flag."""
    return v is not None and t.commit_entry(v).get("canonical") == list(
        keys
    )


def _normalize_terms(terms: Sequence[str]) -> list[str]:
    """Raw user terms → the index's token space: whitespace-split,
    empty-dropped, first-occurrence-deduped (a duplicated term must
    not double its BM25 contribution)."""
    return list(
        dict.fromkeys(
            tok for t in terms for tok in (t or "").split(" ") if tok
        )
    )


class SearchIndex:
    """Inverted file over a crawl corpus: postings + doclens TxTables
    with term-directed data skipping."""

    def __init__(self, path: str) -> None:
        self.path = path
        self.postings = TxTable(
            os.path.join(path, "postings"), bloom_cols=("term",)
        )
        self.doclens = TxTable(os.path.join(path, "doclens"))
        # per-term document frequencies, refreshed by optimize() —
        # the MaxScore pruning bounds (search_pruned) read df here.
        # Ticks between optimizes leave it STALE-LOW, which is the
        # safe direction: BM25's idf is decreasing in df, so an
        # undercounted df overestimates the term's score ceiling and
        # pruning stays admissible (never drops a true top-k doc)
        self.termstats = TxTable(os.path.join(path, "termstats"))

    # ------------------------------------------------------------ write
    def ingest(
        self, docs: DataFrame, *, batch_id: str | None = None
    ) -> None:
        """Tokenize ONE new crawl batch (doc_id, text) and append its
        postings and doclens.  Each doc_id must arrive in exactly one
        batch (the crawl contract every index in this repo shares);
        replays no-op per table, and a crash between the two commits
        completes on replay."""
        # null text tokenizes to a null array, whose size() is -1 —
        # coalesce to '' so an empty crawl doc contributes dl=0 and no
        # postings instead of corrupting avgdl (the same external-input
        # hazard the LM's bigram_pairs clamps)
        toks = docs.select(
            "doc_id",
            tokens(F.coalesce(F.col("text"), F.lit(""))).alias("toks"),
        )
        dl = toks.select(
            "doc_id", F.size("toks").cast("long").alias("dl")
        )
        tf = (
            toks.select("doc_id", F.explode("toks").alias("term"))
            .groupBy("term", "doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        )
        self.doclens.append(
            dl, batch_id=None if batch_id is None else f"{batch_id}-dl"
        )
        self.postings.append(
            tf, batch_id=None if batch_id is None else f"{batch_id}-po"
        )

    def optimize(self, spark: SparkSession, target_files: int = 8) -> None:
        """Maintenance-cadence layout pass: range-cluster postings BY
        TERM into ``target_files`` files (each owns a disjoint term
        range; bloom sidecars are rewritten with the files), and
        compact doclens to one file.  Probe cost afterwards is one or
        two files per term regardless of how many ingest batches ever
        ran."""
        # dedup_keys makes the rewrite CANONICAL (txlog round 12): the
        # stored rows are exactly what probe()/_dl()'s max-dedup
        # aggregates would produce, the commit entry says so, and
        # queries against an unticked optimized snapshot skip their
        # per-query dedup exchange (measured: the hybrid probe's
        # (doc_id, term) exchange was ~0.45 s of its 1.5 s wall)
        self.postings.compact(
            spark,
            target_files,
            cluster_by=("term", "doc_id"),
            dedup_keys=("term", "doc_id"),
        )
        self.doclens.compact(spark, 1, dedup_keys=("doc_id",))
        # refresh the per-term df snapshot the MaxScore bounds read.
        # O(vocabulary) at maintenance cadence — one groupBy over the
        # freshly clustered postings, one small overwrite
        if self.postings.latest_version() is not None:
            self.termstats.overwrite(
                self.postings.read(spark)
                .groupBy("term")
                .agg(
                    F.countDistinct("doc_id").cast("long").alias("df")
                )
            )

    # ------------------------------------------------------------- read
    def probe(
        self, spark: SparkSession, terms: Sequence[str]
    ) -> DataFrame:
        """The query terms' postings — ONE scan of the files any of
        the terms could live in (per-term union of term-range stats +
        per-file bloom sidecars, decided on the driver), filtered to
        the term set.  A 3-term BM25 query and a 300-term hybrid
        query-doc probe both cost one pruned scan, not |terms| reads.
        Returns (doc_id, term, tf); an empty or never-ingested index
        probes to an empty frame, not an error.  The file list and the
        canonical flag both come from ONE pinned snapshot version."""
        v = self.postings.latest_version()
        files = (
            sorted(self.probed_files(terms, v))
            if terms and v is not None
            else []
        )
        if not files:
            # no file can hold any query term (or the index is empty):
            # empty frame, schema recovered from ONE snapshot file when
            # any exists, declared when none does
            snap = self.postings.snapshot_files(v) if v is not None else []
            if snap:
                probed = spark.read.parquet(
                    os.path.join(self.postings.path, snap[0])
                ).where(F.lit(False))
            else:
                probed = spark.createDataFrame(
                    [], "doc_id LONG, term STRING, tf LONG"
                )
        else:
            # IN-list as one parser expression: a 300-term hybrid
            # probe paid ~130 py4j round-trips building isin literal
            # nodes (round 11, guide §4)
            from ..exprs import sql_str

            probed = spark.read.parquet(
                *[os.path.join(self.postings.path, f) for f in files]
            ).filter(
                "term IN (" + ", ".join(sql_str(t) for t in terms) + ")"
            )
        # one row per (doc, term) in normal operation; MAX (not sum)
        # makes the probe idempotent under the one duplicate-arrival
        # mode the exactly-once ids cannot close — a wiped checkpoint
        # over RE-BUNDLED crawl files re-ingests docs under fresh
        # content ids, and summing would silently double tf.  When the
        # snapshot head is a CANONICAL compact (optimize()'s
        # dedup_keys rewrite, unticked since), the stored rows already
        # ARE that aggregate's output, so the per-query dedup exchange
        # is skipped — value-identical by the commit-entry proof, not
        # by assumption (guide §2.4: remove shuffles outright)
        if _canonical(self.postings, ("term", "doc_id"), v):
            return probed.select(
                "doc_id", "term", F.col("tf").cast("long").alias("tf")
            )
        return probed.groupBy("doc_id", "term").agg(
            F.max("tf").cast("long").alias("tf")
        )

    def probed_files(
        self, terms: Sequence[str], version: int | None = None
    ) -> set[str]:
        """Driver-side audit: which postings files a probe of snapshot
        ``version`` (default: latest) would open (tests pin this ≪ all
        files after optimize())."""
        out: set[str] = set()
        for t in terms:
            out.update(
                self.postings.pruned_files([("term", "=", t)], version)
            )
        return out

    def search(
        self,
        spark: SparkSession,
        terms: Sequence[str],
        topk: int,
    ) -> DataFrame:
        """Top-``topk`` BM25 over the stored corpus for a bag-of-terms
        query.  One probe of the query terms' postings + one doclens
        scan — corpus text is never touched (tests/test_search_index.py
        audits the plan for zero documents-table reads).  Doclens
        dedupe by MAX like the probe (a no-op in normal operation,
        idempotent under wiped-checkpoint re-bundled replays); an
        empty index returns an empty ranking.

        Raw user input (the CLI ``search`` command passes terms
        verbatim) is normalized HERE through the same whitespace
        tokenization the index applied at ingest: multi-word terms
        split, empty strings drop, duplicates dedupe (a duplicated
        term must not double its BM25 contribution).  Matching stays
        verbatim/case-sensitive — exactly what the stored tokens
        are."""
        terms = _normalize_terms(terms)
        tf = self.probe(spark, terms)
        return bm25_topk(tf, self._dl(spark), terms, topk)

    def _dl(self, spark: SparkSession) -> DataFrame:
        # one pinned version for the data read and the canonical flag
        v = self.doclens.latest_version()
        if v is None:
            return spark.createDataFrame([], "doc_id LONG, dl LONG")
        dl = self.doclens.read(spark, version=v)
        if _canonical(self.doclens, ("doc_id",), v):
            # canonical snapshot (see probe) — scan without the dedup
            return dl.select("doc_id", F.col("dl").cast("long").alias("dl"))
        return dl.groupBy("doc_id").agg(F.max("dl").cast("long").alias("dl"))

    # ------------------------------------------- MaxScore early exit
    def maxscore_plan(
        self,
        spark: SparkSession,
        terms: Sequence[str],
        topk: int,
        dl: DataFrame | None = None,
    ) -> dict:
        """Term-level MaxScore planning (Turtle & Flood's upper-bound
        partition, the relational face of WAND-family early
        termination — the scale path SCALING.md's 100× BM25 row
        names).  Driver-side, from corpus-size-independent inputs:

        1. ``U_t`` — an admissible per-term score ceiling.  BM25's
           per-doc weight is < idf(t)·(k1+1) for any tf/dl, and idf
           is estimated from the optimize()-time df snapshot
           (termstats) with the CURRENT manifest row count
           (TxTable.snapshot_rows — driver-side, zero jobs): ticks
           only append, so stored df ≤ true df and manifest rows ≥
           distinct docs; idf is increasing in N and decreasing in
           df, so the estimate only overshoots and the ceiling stays
           an upper bound — no staleness gate needed.
        2. ``theta`` — a lower bound on the k-th best TOTAL score:
           the k-th best exact single-term score of the highest-
           ceiling ("seed") term (totals only add non-negative
           weights).  One probe of one term's postings.
        3. The ascending-``U`` prefix whose ceilings sum below
           ``theta`` is **non-essential**: a doc containing ONLY
           those terms scores below the k-th doc and provably cannot
           rank.  Everything else is essential.

        Returns {essential, nonessential, theta, ceilings,
        stored_df} — ``stored_df`` (the optimize()-time per-term df
        snapshot) lets :meth:`search_pruned` bound the candidate-set
        size driver-side when choosing its join strategy.

        The plan is memoized per (session, index path, terms, topk)
        at the three tables' committed versions (cache.memo): every
        input above is a deterministic function of the
        three tables' committed versions, so a cache hit is exact, and
        any append/optimize bumps a version and forces a replan.  This
        is Lucene's per-segment-generation term-stats caching — the
        planning jobs (termstats read + seed probe, the fixed ~1 s
        that made pruned search LOSE on wall at small corpora,
        VERDICT r5 #6) are paid once per index generation instead of
        once per query."""
        from ..cache import memo

        terms = _normalize_terms(terms)
        return memo(
            spark,
            "maxscore-plan",
            (os.path.realpath(self.path), tuple(terms), topk),
            (
                self.postings.latest_version(),
                self.termstats.latest_version(),
                self.doclens.latest_version(),
            ),
            lambda: self._maxscore_plan(spark, terms, topk, dl),
        )

    def _maxscore_plan(
        self,
        spark: SparkSession,
        terms: list[str],
        topk: int,
        dl: DataFrame | None,
    ) -> dict:
        out = {
            "essential": terms,
            "nonessential": [],
            "theta": 0.0,
            "ceilings": {},
            "stored_df": {},
        }
        if (
            len(terms) < 2
            or self.termstats.latest_version() is None
            or self.doclens.latest_version() is None
        ):
            return out
        import math

        if dl is None:
            dl = self._dl(spark)
        n = self.doclens.snapshot_rows()
        if n is None:  # stats-less manifest — pay one count job
            n = dl.count()
        if n == 0:
            return out
        stored = {
            r["term"]: r["df"]
            for r in self.termstats.read(spark)
            .filter(F.col("term").isin(*terms))
            .collect()
        }
        out["stored_df"] = stored
        ceil = {}
        for t in terms:
            d = min(stored.get(t, 0), n)
            ceil[t] = math.sqrt((n - d + 0.5) / (d + 0.5)) * 2.2
        out["ceilings"] = ceil
        seed = max(terms, key=lambda t: ceil[t])
        seeded = bm25_topk(
            self.probe(spark, [seed]), dl, [seed], topk
        ).collect()
        if len(seeded) < topk:
            return out
        # bm25_topk rounds to 4 digits; retreat theta past the worst
        # round-up so the bound stays a true lower bound
        theta = seeded[-1]["bm25"] - 1e-3
        out["theta"] = theta
        budget, ne = 0.0, []
        for t in sorted(terms, key=lambda t: ceil[t]):
            if t == seed or budget + ceil[t] >= theta:
                break
            budget += ceil[t]
            ne.append(t)
        out["nonessential"] = ne
        out["essential"] = [t for t in terms if t not in ne]
        return out

    def search_pruned(
        self,
        spark: SparkSession,
        terms: Sequence[str],
        topk: int,
    ) -> DataFrame:
        """:meth:`search` with MaxScore early termination — the SAME
        exact top-``topk`` (pinned in tests/test_search_index.py),
        reached without scoring every posting of every query term.

        :meth:`maxscore_plan` splits the query into essential and
        non-essential terms.  Candidates are the docs holding at
        least one essential posting; non-essential postings enter
        the weight/pivot stage only semi-joined to that candidate
        set.  On stopword-shaped queries (one discriminative term +
        ubiquitous terms with million-doc postings — the shape the
        100× bench measured at 2.4 s) the heavy lists are reduced to
        candidate lookups BEFORE the doc-id shuffle: essential terms
        are rare by construction (highest idf ceilings), so the
        candidate set is broadcast and the restriction is applied
        map-side — the O(|postings of query terms|) shuffle/pivot
        volume that SCALING.md names drops to O(|essential postings|
        + |candidate ∩ non-essential|) with NO full-postings
        exchange.  When the optimize()-time df snapshot says the
        essential lists are too big to broadcast (stale-LOW, so an
        underestimate — a strategy heuristic only, never a
        correctness input), it degrades to a shuffled semi-join.
        The non-essential lists still pay one pruned columnar scan
        for their true df (idf must stay corpus-wide — exactness),
        but that scan map-combines to |terms| rows without
        shuffling postings.  Falls back to the unpruned plan when
        no term is provably non-essential (single-term queries,
        < k corpus matches, never-optimized index)."""
        terms = _normalize_terms(terms)
        dl = self._dl(spark)
        plan = self.maxscore_plan(spark, terms, topk, dl=dl)
        if not plan["nonessential"]:
            tf = self.probe(spark, terms)
            return bm25_topk(tf, dl, terms, topk)
        tf = self.probe(spark, terms)
        true_df = tf.groupBy("term").agg(
            F.count(F.lit(1)).alias("df")
        )
        # candidates ride the SAME probed scan (term-clustered files
        # already opened for tf) instead of a second index probe
        cand = (
            tf.filter(F.col("term").isin(*plan["essential"]))
            .select("doc_id")
            .distinct()
        )
        est = sum(
            plan["stored_df"].get(t, 0) for t in plan["essential"]
        )
        if est <= 2_000_000:
            cand = F.broadcast(cand)
        restricted = tf.join(cand, "doc_id", "left_semi")
        return bm25_topk(restricted, dl, terms, topk, df=true_df)
