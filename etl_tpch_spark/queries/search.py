"""Hybrid retrieval: lexical + dense candidate lists fused with
reciprocal-rank fusion (RRF, Cormack et al. SIGIR'09) — the standard
two-tower retrieval shape (BM25-style inverted index + embedding ANN →
rank fusion) every RAG / retrieval-augmented training pipeline runs.

Engine discipline (what makes this hash-checkable cross-engine):

- the LEXICAL score is integer micro-weights: for each corpus doc
  sharing a distinct term with the query doc, Σ (10⁶ div df(term)) —
  rare-term weighting (TF-IDF's idf shape) in exact integer
  arithmetic, order-free under any partitioning;
- the DENSE score is the repo's rounded fold cosine (same path as the
  hash-checked ANN family);
- the FUSION is pure integers: rrf = Σ over lists (10⁹ div (60 +
  rank)) with ranks from row_number — no floats anywhere in fusion.

Scale shape: the lexical side is one corpus token explode feeding the
df aggregate and a broadcast of the |Q| query docs' term sets (the
inverted-index probe: only postings of query terms shuffle, keyed by
(query_id, doc_id)); the dense side is candidate generation —
bruteforce here for exactness, and at 100 TB it swaps for the
persisted IVF/IVF-PQ index (similarity/index.py) unchanged, because
fusion only consumes (query_id, doc_id, rank) lists.

Reference scope note: coiled/etl-tpch has no retrieval counterpart;
this is north-star LLM-pipeline surface (SURVEY.md §2 "beyond the
reference"), composing the BM25 lexical machinery (queries/text.py)
with the ANN family (queries/similarity.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..catalog import Tables
from ..dedup.hashing import sql_cosine_fold
from ..functions.text import tokens
from ..registry import REGISTRY, query
from ..similarity.ann import cosine_topk_bruteforce
from .similarity import _IDS, QUERY_IDS, _ivf_index_for
from .text import _SQL_TOKS

N_SPARSE = 20  # lexical candidate list depth
N_DENSE = 20  # dense candidate list depth
RRF_K = 60  # the canonical RRF damping constant
RRF_SCALE = 10**9  # integer micro-units for 1/(k + rank)
LEX_SCALE = 10**6  # integer micro-units for 1/df
TOP = 10


@query(
    "search_hybrid_rrf",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, unnest(list_distinct({_SQL_TOKS})) AS term
            FROM documents
        ),
        dfreq AS (
            SELECT term, CAST(count(*) AS BIGINT) AS df
            FROM toks GROUP BY term
        ),
        q AS (
            SELECT doc_id AS query_id, term FROM toks
            WHERE doc_id IN ({_IDS})
        ),
        lex AS (
            SELECT q.query_id, c.doc_id,
                   CAST(sum({LEX_SCALE} // d.df) AS BIGINT) AS lex_w
            FROM q
            JOIN toks c ON q.term = c.term
            JOIN dfreq d ON d.term = q.term
            WHERE q.query_id <> c.doc_id
            GROUP BY 1, 2
        ),
        sparse AS (
            SELECT query_id, doc_id, rn AS sparse_rank FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id ORDER BY lex_w DESC, doc_id
                ) AS rn FROM lex
            ) WHERE rn <= {N_SPARSE}
        ),
        qv AS (
            SELECT vec_id AS query_id, embedding AS q_emb
            FROM embeddings WHERE vec_id IN ({_IDS})
        ),
        scored AS (
            SELECT qv.query_id, c.vec_id AS doc_id,
                   round({sql_cosine_fold('qv.q_emb', 'c.embedding')}, 6)
                     AS cosine
            FROM qv CROSS JOIN embeddings c
            WHERE qv.query_id <> c.vec_id
        ),
        dense AS (
            SELECT query_id, doc_id, rn AS dense_rank FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id ORDER BY cosine DESC, doc_id
                ) AS rn FROM scored
            ) WHERE rn <= {N_DENSE}
        ),
        fused AS (
            SELECT COALESCE(s.query_id, d.query_id) AS query_id,
                   COALESCE(s.doc_id, d.doc_id) AS doc_id,
                   s.sparse_rank, d.dense_rank,
                   COALESCE({RRF_SCALE} // ({RRF_K} + s.sparse_rank), 0)
                 + COALESCE({RRF_SCALE} // ({RRF_K} + d.dense_rank), 0)
                     AS rrf_micro
            FROM sparse s
            FULL OUTER JOIN dense d
              ON s.query_id = d.query_id AND s.doc_id = d.doc_id
        )
        SELECT query_id, doc_id,
               CAST(sparse_rank AS BIGINT) AS sparse_rank,
               CAST(dense_rank AS BIGINT) AS dense_rank,
               rrf_micro, CAST(rnk AS BIGINT) AS rnk
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY rrf_micro DESC, doc_id
            ) AS rnk FROM fused
        )
        WHERE rnk <= {TOP}
        ORDER BY query_id, rnk
    """,
)
def search_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 hybrid retrieval for the 5 standard query docs: the
    query doc's distinct-term set probes the corpus lexically
    (integer idf micro-weights), its embedding probes densely (fold
    cosine), and the two 20-deep candidate lists fuse by RRF — a doc
    ranked by BOTH channels beats a doc ranked high by one (the
    robustness that makes RRF the default fusion in production
    retrieval).  Every stage is integer or rounded-deterministic ⇒
    the fused ranking hash-matches the oracle."""
    t = Tables(spark, sf_dir)
    toks = t.documents.select(
        "doc_id",
        F.explode(F.array_distinct(tokens(F.col("text")))).alias("term"),
    )
    dfreq = toks.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    q = toks.filter(F.col("doc_id").isin(QUERY_IDS)).select(
        F.col("doc_id").alias("query_id"), "term"
    )
    lex = (
        F.broadcast(q)
        .join(toks, "term")
        .filter(F.col("query_id") != F.col("doc_id"))
        .join(F.broadcast(dfreq), "term")
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum(
                F.expr(f"CAST({LEX_SCALE} div df AS BIGINT)")
            ).alias("lex_w")
        )
    )
    sparse = (
        lex.selectExpr(
            "*",
            "row_number() OVER (PARTITION BY query_id "
            "ORDER BY lex_w DESC, doc_id) AS sparse_rank",
        )
        .filter(f"sparse_rank <= {N_SPARSE}")
        .select("query_id", "doc_id", "sparse_rank")
    )
    dense = cosine_topk_bruteforce(t.embeddings, QUERY_IDS, N_DENSE).select(
        "query_id",
        F.col("vec_id").alias("doc_id"),
        F.col("rnk").alias("dense_rank"),
    )
    fused = sparse.join(dense, ["query_id", "doc_id"], "full_outer")
    return (
        fused.selectExpr(
            "*",
            f"(coalesce(CAST({RRF_SCALE} div ({RRF_K} + sparse_rank)"
            " AS BIGINT), cast(0 AS bigint))"
            f" + coalesce(CAST({RRF_SCALE} div ({RRF_K} + dense_rank)"
            " AS BIGINT), cast(0 AS bigint))) AS rrf_micro",
        )
        .selectExpr(
            "*",
            "row_number() OVER (PARTITION BY query_id "
            "ORDER BY rrf_micro DESC, doc_id) AS rnk",
        )
        .filter(f"rnk <= {TOP}")
        .selectExpr(
            "query_id",
            "doc_id",
            "cast(sparse_rank AS bigint) AS sparse_rank",
            "cast(dense_rank AS bigint) AS dense_rank",
            "rrf_micro",
            "cast(rnk AS bigint) AS rnk",
        )
        .orderBy("query_id", "rnk")
    )


# ------------------------------------------------- index-served lexical


def _query_term_rows(spark: SparkSession, sf_dir: str) -> list:
    """Collected (query_id, term) rows of the 5 fixed query docs,
    memoized per session and documents stamp (cache.memo).  The
    tokenization is deterministic per fixture and |Q|-sized (a few
    hundred rows), so the memo removes one documents-table read job
    per hybrid invocation — query-side analysis amortized exactly like
    a serving tier would."""
    from ..cache import memo
    from ..catalog import table_stamp

    def build() -> list:
        t = Tables(spark, sf_dir)
        return (
            t.documents.filter(F.col("doc_id").isin(QUERY_IDS))
            .select(
                F.col("doc_id").alias("query_id"),
                F.explode(
                    F.array_distinct(
                        tokens(F.coalesce(F.col("text"), F.lit("")))
                    )
                ).alias("term"),
            )
            .collect()
        )

    return memo(
        spark,
        "query-terms",
        os.path.realpath(sf_dir),
        table_stamp(sf_dir, "documents"),
        build,
    )


def _search_index_for(spark: SparkSession, sf_dir: str):
    """Build-once / query-many inverted index over the documents table
    (same _reused_index convention as the ANN indexes: ingestion is
    deterministic, so a reused build is bit-identical to a fresh
    one)."""
    from ..pipeline.search_index import SearchIndex
    from .similarity import _reused_index

    t = Tables(spark, sf_dir)

    def build(path: str) -> SearchIndex:
        idx = SearchIndex(path)
        idx.ingest(t.documents, batch_id="full-corpus")
        idx.optimize(spark)
        return idx

    return _reused_index(
        # v2: optimize() writes canonical (deduped) postings/doclens —
        # bump forces artifacts predating the mark to rebuild once
        "search-idx", sf_dir, "v2", SearchIndex, build, table="documents"
    )


@query(
    "text_bm25_topk_indexed",
    oracle=REGISTRY["text_bm25_topk"].oracle,
)
def text_bm25_topk_indexed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The PERSISTED-index lifecycle for lexical retrieval
    (pipeline/search_index.py SearchIndex): build = tokenize the
    corpus ONCE into term-clustered postings + doclens TxTables
    (bloom sidecars over terms); query = probe ONLY the three query
    terms' postings files (term-range stats + bloom skipping decide
    file-level on the driver) and score with the SAME BM25 kernel
    (functions/bm25.py) as the full-scan query — so text_bm25_topk's
    oracle applies verbatim: the build/query split is a lifecycle
    change, not a semantics change.  At 100 TB the index ingests each
    crawl batch O(new) on the daily cadence and searches never touch
    corpus text (tests/test_search_index.py pins result equality,
    file pruning, exactly-once replay, and the zero-retokenization
    plan)."""
    from .text import _BM25_TERMS, _BM25_TOPK

    idx = _search_index_for(spark, sf_dir)
    return idx.search(spark, _BM25_TERMS, _BM25_TOPK)


@query(
    "text_bm25_topk_pruned",
    oracle=REGISTRY["text_bm25_topk"].oracle,
)
def text_bm25_topk_pruned(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MaxScore early termination over the persisted index
    (SearchIndex.search_pruned) — the scale path past the one cost
    SCALING.md's 100× table leaves O(corpus-dependent): scoring work
    proportional to the query terms' full postings lists.  Driver-side
    planning from corpus-size-independent inputs (optimize()-time
    per-term df snapshot + one seed-term probe) splits the query into
    essential and non-essential terms; docs holding ONLY non-essential
    terms provably score below the current k-th doc, so the heavy
    (stopword-shaped) postings lists enter the weight/pivot stage
    semi-joined to the essential candidates instead of wholesale.
    EXACT — the same top-k as text_bm25_topk/..._indexed, so the
    full-scan oracle applies verbatim; equality, admissibility under
    post-optimize ticks, and engagement (non-empty non-essential set
    on this corpus) are pinned in tests/test_search_index.py."""
    from .text import _BM25_TERMS, _BM25_TOPK

    idx = _search_index_for(spark, sf_dir)
    return idx.search_pruned(spark, _BM25_TERMS, _BM25_TOPK)


# ----------------------------------------- fully index-served hybrid


def _hybrid_indexed_oracle() -> str:
    """Oracle twin of the index-served hybrid: the lexical CTEs are the
    full-scan hybrid's (the index holds the whole corpus, so postings-
    probe == corpus-tokenize), and the dense CTEs are the IVF replica
    (unrolled integer-Lloyd chain) that already certifies
    sim_ann_topk_ivf — candidates come from the 4 probed cells, not a
    full scan, so dense ranks legitimately differ from bruteforce."""
    from .similarity import (
        N_CELLS,
        N_IVF_ITERS,
        N_PROBE,
        _km_chain,
        _km_d2,
    )

    return f"""
        WITH {_km_chain(N_CELLS, N_IVF_ITERS)},
        cells AS (
            SELECT e.vec_id, e.embedding, af.cluster AS cell
            FROM embeddings e JOIN afinal af ON e.vec_id = af.vec_id
        ),
        qq AS (
            SELECT a.vec_id AS query_id, a.qv, e.embedding AS q_emb
            FROM afinal a JOIN embeddings e ON a.vec_id = e.vec_id
            WHERE a.vec_id IN ({_IDS})
        ),
        qcells AS (
            SELECT query_id, q_emb, cell FROM (
                SELECT qq.query_id, qq.q_emb, c.cent_id AS cell,
                       row_number() OVER (
                           PARTITION BY qq.query_id
                           ORDER BY {_km_d2('qq.qv', 'c.cv')}, c.cent_id
                       ) AS prn
                FROM qq CROSS JOIN c{N_IVF_ITERS} c
            ) WHERE prn <= {N_PROBE}
        ),
        dscored AS (
            SELECT qc.query_id, v.vec_id AS doc_id,
                   round({sql_cosine_fold('qc.q_emb', 'v.embedding')}, 6)
                     AS cosine
            FROM qcells qc JOIN cells v ON qc.cell = v.cell
            WHERE qc.query_id <> v.vec_id
        ),
        dense AS (
            SELECT query_id, doc_id, rn AS dense_rank FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id ORDER BY cosine DESC, doc_id
                ) AS rn FROM dscored
            ) WHERE rn <= {N_DENSE}
        ),
        toks AS (
            SELECT doc_id, unnest(list_distinct({_SQL_TOKS})) AS term
            FROM documents
        ),
        dfreq AS (
            SELECT term, CAST(count(*) AS BIGINT) AS df
            FROM toks GROUP BY term
        ),
        qterms AS (
            SELECT doc_id AS query_id, term FROM toks
            WHERE doc_id IN ({_IDS})
        ),
        lex AS (
            SELECT qt.query_id, c.doc_id,
                   CAST(sum({LEX_SCALE} // d.df) AS BIGINT) AS lex_w
            FROM qterms qt
            JOIN toks c ON qt.term = c.term
            JOIN dfreq d ON d.term = qt.term
            WHERE qt.query_id <> c.doc_id
            GROUP BY 1, 2
        ),
        sparse AS (
            SELECT query_id, doc_id, rn AS sparse_rank FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id ORDER BY lex_w DESC, doc_id
                ) AS rn FROM lex
            ) WHERE rn <= {N_SPARSE}
        ),
        fused AS (
            SELECT COALESCE(s.query_id, d.query_id) AS query_id,
                   COALESCE(s.doc_id, d.doc_id) AS doc_id,
                   s.sparse_rank, d.dense_rank,
                   COALESCE({RRF_SCALE} // ({RRF_K} + s.sparse_rank), 0)
                 + COALESCE({RRF_SCALE} // ({RRF_K} + d.dense_rank), 0)
                     AS rrf_micro
            FROM sparse s
            FULL OUTER JOIN dense d
              ON s.query_id = d.query_id AND s.doc_id = d.doc_id
        )
        SELECT query_id, doc_id,
               CAST(sparse_rank AS BIGINT) AS sparse_rank,
               CAST(dense_rank AS BIGINT) AS dense_rank,
               rrf_micro, CAST(rnk AS BIGINT) AS rnk
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY rrf_micro DESC, doc_id
            ) AS rnk FROM fused
        )
        WHERE rnk <= {TOP}
        ORDER BY query_id, rnk
    """


@query("search_hybrid_rrf_indexed", oracle=_hybrid_indexed_oracle())
def search_hybrid_rrf_indexed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hybrid retrieval served ENTIRELY from persisted indexes — the
    100 TB steady-state shape search_hybrid_rrf's docstring promises:

    - LEXICAL: the query docs are tokenized by a 5-id pushed-filter
      read — O(|Q|), the way a search engine tokenizes its query —
      and their collected term rows become a literal broadcast frame,
      so the EXECUTED plan touches only the index.  Candidates AND df
      weights derive from ONE term-restricted postings probe (df as a
      map-combined groupBy over the probe, broadcast back — |query
      terms| rows, identical values to a full-vocabulary count for
      every joined row, with no vocabulary-sized aggregate and no
      per-term window shuffle, the full-scan form's scale bottleneck
      at a 100 TB vocabulary).
    - DENSE: candidates from the persisted IVF index's probed cells
      (similarity/index.py — stored centroids, file-pruned cell scan),
      exactly sim_ann_topk_ivf_indexed's path.
    - FUSION: unchanged integer RRF — it only consumes rank lists, so
      swapping channel implementations is invisible to it (the design
      claim the full-scan query makes, demonstrated here).

    Dense ranks differ from the bruteforce hybrid where IVF recall
    misses a neighbor — the oracle replicates IVF's probed-cell
    semantics (the same unrolled-Lloyd chain that certifies the ANN
    family), so this remains hash-checked, not tolerance-checked."""
    from .similarity import N_PROBE

    idx_lex = _search_index_for(spark, sf_dir)
    idx_ann = _ivf_index_for(spark, sf_dir)
    t = Tables(spark, sf_dir)

    # tokenize the 5 query docs (pushed IsIn filter → row-group
    # pruned read, session-cached — _query_term_rows) and ship the few
    # hundred (query_id, term) rows as a literal frame — the query
    # side never re-enters the plan
    q_rows = _query_term_rows(spark, sf_dir)
    from ..exprs import values_frame

    # VALUES-backed LocalRelation: the broadcast build collects it
    # driver-side with zero tasks — createDataFrame parallelizes the
    # ~300 rows into a defaultParallelism-partition RDD whose every
    # broadcast build cost a full 32-task stage (round 12, guide §4)
    q = values_frame(
        spark,
        [(r.query_id, r.term) for r in q_rows],
        "query_id LONG, term STRING",
    )
    qterms = sorted({r.term for r in q_rows})
    # df over the probe as a map-combined groupBy broadcast back onto
    # the probe — |terms| rows cross the wire.  NOT a window count
    # partitioned by term: that shape shuffles every probed posting
    # and funnels each stopword's entire list through ONE reducer —
    # exactly the skew a 100 TB postings table cannot survive
    probe = idx_lex.probe(spark, qterms).select("doc_id", "term")
    dfreq = probe.groupBy("term").agg(
        F.count(F.lit(1)).alias("df")
    )
    probe = probe.join(F.broadcast(dfreq), "term")
    # one exchange serves the pair aggregation AND the rank window
    # (guide §2.4): hashpartitioning(query_id) satisfies the groupBy's
    # ClusteredDistribution(query_id, doc_id) — partition keys are a
    # subset of the grouping keys — and the window's
    # ClusteredDistribution(query_id), so the explicit repartition
    # replaces two ENSURE_REQUIREMENTS exchanges with one
    lex = (
        F.broadcast(q)
        .join(probe, "term")
        .filter(F.col("query_id") != F.col("doc_id"))
        .repartition("query_id")
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum(F.expr(f"CAST({LEX_SCALE} div df AS BIGINT)")).alias(
                "lex_w"
            )
        )
    )
    sparse = (
        lex.selectExpr(
            "*",
            "row_number() OVER (PARTITION BY query_id "
            "ORDER BY lex_w DESC, doc_id) AS sparse_rank",
        )
        .filter(f"sparse_rank <= {N_SPARSE}")
        .select("query_id", "doc_id", "sparse_rank")
    )
    queries_df = t.embeddings.filter(F.col("vec_id").isin(QUERY_IDS))
    from ..catalog import table_stamp

    dense = idx_ann.topk(
        spark,
        queries_df,
        N_DENSE,
        n_probe=N_PROBE,
        cache_token=(
            table_stamp(sf_dir, "embeddings"), tuple(QUERY_IDS)
        ),
    ).select(
        "query_id",
        F.col("vec_id").alias("doc_id"),
        F.col("rnk").alias("dense_rank"),
    )
    fused = sparse.join(dense, ["query_id", "doc_id"], "full_outer")
    return (
        fused.selectExpr(
            "*",
            f"(coalesce(CAST({RRF_SCALE} div ({RRF_K} + sparse_rank)"
            " AS BIGINT), cast(0 AS bigint))"
            f" + coalesce(CAST({RRF_SCALE} div ({RRF_K} + dense_rank)"
            " AS BIGINT), cast(0 AS bigint))) AS rrf_micro",
        )
        .selectExpr(
            "*",
            "row_number() OVER (PARTITION BY query_id "
            "ORDER BY rrf_micro DESC, doc_id) AS rnk",
        )
        .filter(f"rnk <= {TOP}")
        .selectExpr(
            "query_id",
            "doc_id",
            "cast(sparse_rank AS bigint) AS sparse_rank",
            "cast(dense_rank AS bigint) AS dense_rank",
            "rrf_micro",
            "cast(rnk AS bigint) AS rnk",
        )
        .orderBy("query_id", "rnk")
    )
