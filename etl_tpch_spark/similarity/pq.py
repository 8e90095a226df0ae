"""Product quantization (PQ) ANN — the faiss IVF-PQ recipe's
compression half, built on the engine's integer-exact Lloyd
(similarity/kmeans.py) so even a *trained, quantized* index stays
oracle-checkable bit-for-bit.

The idea: split each 64-dim vector into M=8 subspaces of 8 dims,
train a tiny k=16 codebook per subspace, and store each vector as 8
small codes (one byte each at k≤256) — an 8-byte sketch of a 256-byte
vector.  Query scoring is ADC (asymmetric distance computation): per
query, precompute the M×K lookup table of query-subvector ↔ centroid
distances, then every corpus vector's approximate distance is M table
lookups + a sum — no per-pair vector arithmetic at all.

Scale shape: training collects M·K tiny centroid rows per round
(the standard Lloyd driver round-trip); encoding and scoring are ONE
Arrow-batched map pass over the corpus (no shuffle until the final
top-k), and the scored width is |Q| distances per row.  At 100 TB the
codes table is ~32× smaller than the raw embeddings and the scan is
memory-bandwidth-bound on codes, not vectors — the reason PQ is the
billion-vector standard.

Exactness: coordinates quantize once (kmeans.py), every distance is
an int64 sum, codebooks are deterministic (duplicate-robust init,
integer means), and numpy int64 reductions are associative — so
pq_d2 values are bit-identical to the relational oracle that joins
per-subspace assignments to per-subspace query LUTs in SQL.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..exprs import json_array_lit
from pyspark.sql import types as T

from .kmeans import quantize

M_SUB = 8
SUB_DIM = 8
K_CODES = 16
PQ_ITERS = 1
# raw-vector training reservoir: per coarse cell, the N vectors with
# the smallest xxhash64(vec_id) are persisted verbatim beside the codes
# (n_cells·N rows — a fixed-size artifact at any corpus scale), so a
# retrain never has to re-read the embeddings source (PQ codes are
# lossy).  Min-hash order makes the sample a deterministic function of
# the id SET: the same vectors win regardless of arrival batching.
RESERVOIR_PER_CELL = 64


def _train_codebooks(
    q: DataFrame, m_sub: int, sub_dim: int, k_codes: int, iters: int
) -> list[list[tuple[int, list[int]]]]:
    """One integer-Lloyd codebook per subspace, ALL subspaces trained
    per pass: the init is one aggregation over exploded (subspace,
    subvector) rows, each Lloyd round is one Arrow assignment pass +
    one mean aggregation covering every subspace — 1 + iters Spark
    jobs total, instead of m_sub·(2·iters + 1) per-subspace
    round-trips (measured 6.0 s → ~1.5 s at sf0.1).  Results are
    bit-identical to per-subspace training (the init's per-subspace
    window, the integer means and the argmin tie-break are the same
    functions, just batched), so the unrolled per-subspace SQL oracle
    is unchanged.  Each book is the sorted [(cent_id, centroid)]
    list (ids = owning vec_ids from the deterministic init,
    kmeans.py's convention)."""

    def sub_slices():
        return F.array(
            *[
                F.struct(
                    F.lit(j).alias("j"),
                    F.slice("qv", j * sub_dim + 1, sub_dim).alias(
                        "sqv"
                    ),
                )
                for j in range(m_sub)
            ]
        )

    subs = q.select(
        "vec_id", F.explode(sub_slices()).alias("s")
    ).select("vec_id", F.col("s.j").alias("j"), F.col("s.sqv").alias("sqv"))
    init = (
        subs.groupBy("j", "sqv")
        .agg(F.min("vec_id").alias("cent_id"))
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("j").orderBy("cent_id")
            ),
        )
        .filter(F.col("rn") <= k_codes)
    )
    books: list[list[tuple[int, list[int]]]] = [
        [] for _ in range(m_sub)
    ]
    for r in init.collect():
        books[r["j"]].append((r["cent_id"], list(r["sqv"])))
    books = [sorted(b) for b in books]

    for _ in range(iters):
        mats = [
            np.array([cv for (_c, cv) in b], dtype="int64")
            for b in books
        ]
        ids = [
            np.array([c for (c, _cv) in b], dtype="int64")
            for b in books
        ]

        @F.pandas_udf(T.ArrayType(T.LongType()))
        def codes_of(qv: pd.Series) -> pd.Series:
            X = np.stack(qv.to_numpy()).astype("int64")
            out = np.zeros((len(X), m_sub), dtype="int64")
            for j in range(m_sub):
                sub = X[:, j * sub_dim : (j + 1) * sub_dim]
                diff = sub[:, None, :] - mats[j][None, :, :]
                d2 = (diff * diff).sum(axis=2)
                out[:, j] = ids[j][d2.argmin(axis=1)]
            return pd.Series(list(out))

        assigned = q.withColumn("codes", codes_of("qv")).select(
            "vec_id", "codes", F.explode(sub_slices()).alias("s")
        ).select(
            F.col("s.j").alias("j"),
            F.element_at("codes", F.col("s.j") + 1).alias("cluster"),
            F.posexplode("s.sqv").alias("dim", "v"),
        )
        per_dim = assigned.groupBy("j", "cluster", "dim").agg(
            F.expr("sum(v) div count(1)").alias("m")
        )
        cent = (
            per_dim.groupBy("j", "cluster")
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("dim", "m"))
                    ),
                    lambda s: s.getField("m"),
                ).alias("cv")
            )
        )
        books = [[] for _ in range(m_sub)]
        for r in cent.collect():
            books[r["j"]].append((r["cluster"], list(r["cv"])))
        books = [sorted(b) for b in books]
    return books


def _cached_books(
    spark: SparkSession, cache_key: str | None, params: tuple, train
):
    """Trained codebooks (plain nested lists — no executor storage
    held), memoized per session, corpus path + trainer params and
    corpus stamp (cache.memo).  Training is integer-exact and
    deterministic per stamp, so a memoized book list is bit-identical
    to a fresh one — a production PQ index trains once and serves many
    queries (the persisted lifecycle is IVFPQIndex below)."""
    if cache_key is None:
        return train()
    from ..cache import memo

    return memo(
        spark,
        "pq-books",
        (cache_key.split("|", 1)[0],) + params,
        cache_key,
        train,
    )


def pq_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int,
    *,
    m_sub: int = M_SUB,
    sub_dim: int = SUB_DIM,
    k_codes: int = K_CODES,
    iters: int = PQ_ITERS,
    cache_key: str | None = None,
) -> DataFrame:
    """Top-k nearest corpus vectors per query under the PQ-approximate
    squared-L2 distance (quantized integer space).  Returns
    (query_id, vec_id, pq_d2, rnk) — pq_d2 is the exact integer ADC
    sum, reproducible on any engine.  ``cache_key`` (a corpus stamp)
    memoizes the trained codebooks per session (cache.memo, as
    kmeans_fit does)."""
    q = quantize(embeddings).persist()  # training collects + LUT
    # collect + final scoring all read it; unpersisted before return
    books = _cached_books(
        embeddings.sparkSession,
        cache_key,
        ("pq", m_sub, sub_dim, k_codes, iters),
        lambda: _train_codebooks(q, m_sub, sub_dim, k_codes, iters),
    )
    # per-subspace centroid matrices, sorted by cent_id (the code is
    # the POSITION in this order; the oracle joins on cent_id, which
    # is order-isomorphic)
    cent_mats = [
        np.array([cv for (_cid, cv) in book], dtype="int64")
        for book in books
    ]
    qids = sorted(query_ids)
    qrows = {
        r["vec_id"]: list(r["qv"])
        for r in q.filter(F.col("vec_id").isin(qids)).collect()
    }
    missing = [i for i in qids if i not in qrows]
    if missing:
        raise ValueError(f"query ids not in embeddings: {missing}")
    q.unpersist()  # final scoring recomputes the map-only quantize
    # LUT[qi][j][c] = d2(query qi's subvector j, centroid c of book j)
    luts = np.zeros(
        (len(qids), m_sub, max(len(b) for b in books)), dtype="int64"
    )
    for qi, qid in enumerate(qids):
        qv = np.array(qrows[qid], dtype="int64")
        for j in range(m_sub):
            sub = qv[j * sub_dim : (j + 1) * sub_dim]
            diff = cent_mats[j] - sub[None, :]
            luts[qi, j, : len(books[j])] = (diff * diff).sum(axis=1)

    n_q = len(qids)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def adc(qv: pd.Series) -> pd.Series:
        X = np.stack(qv.to_numpy()).astype("int64")  # (batch, dim)
        scores = np.zeros((len(X), n_q), dtype="int64")
        for j in range(m_sub):
            sub = X[:, j * sub_dim : (j + 1) * sub_dim]
            # encode: argmin over the codebook (first-min ==
            # (d2, cent_id) tie-break, centroids sorted by id)
            diff = sub[:, None, :] - cent_mats[j][None, :, :]
            d2 = (diff * diff).sum(axis=2)  # (batch, K)
            codes = d2.argmin(axis=1)
            scores += luts[:, j, :][:, codes].T  # (batch, n_q)
        return pd.Series(list(scores))

    qid_arr = json_array_lit([int(i) for i in qids], "long")
    scored = (
        q.withColumn("scores", adc("qv"))
        .select("vec_id", F.posexplode("scores").alias("qi", "pq_d2"))
        .withColumn(
            "query_id", F.element_at(qid_arr, F.col("qi") + 1)
        )
        .filter(F.col("vec_id") != F.col("query_id"))
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("pq_d2").asc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "vec_id", "pq_d2", "rnk")
    )


def l2_topk_exact(
    embeddings: DataFrame, query_ids: list[int], k: int
) -> DataFrame:
    """Exact quantized-L2 top-k — the recall reference for pq_topk
    (same integer space, no codebook approximation)."""
    q = quantize(embeddings)
    corpus = q.select(
        F.col("vec_id").alias("c_id"), F.col("qv").alias("cqv")
    )
    queries = q.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("qv").alias("qqv")
    )
    d2 = F.aggregate(
        F.zip_with(
            F.col("qqv"), F.col("cqv"), lambda a, b: (a - b) * (a - b)
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    j = (
        F.broadcast(queries)
        .crossJoin(corpus)
        .filter(F.col("query_id") != F.col("c_id"))
        .withColumn("d2", d2)
    )
    w = W.partitionBy("query_id").orderBy(F.col("d2").asc(), F.col("c_id"))
    return (
        j.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id", F.col("c_id").alias("vec_id"), "d2", "rnk"
        )
    )


RES_OFFSET = 2_000_000  # shifts residuals (qv - centroid) non-negative


def _nearest_cell_rv(X, cell_mat):
    """Shared coarse-assignment arithmetic: nearest centroid row index
    (np.argmin takes the first minimum — with centroids sorted by id
    this IS the (d2, cent_id) tie-break) and the offset residual.  ONE
    definition, so every encoder in this module (build, encode_batch,
    the per-run operator, rebuild's re-encoders) is bit-identical by
    construction — the 'tick-encoded rows are bit-interchangeable'
    contract rests on this."""
    diff = X[:, None, :] - cell_mat[None, :, :]
    best = (diff * diff).sum(axis=2).argmin(axis=1)
    return best, X - cell_mat[best] + RES_OFFSET


def _pq_code_cols(rv, mats, m_sub, sub_dim):
    """Shared per-subspace code assignment: position of the nearest
    codebook row (sorted-cent_id order) per subspace."""
    out = np.zeros((len(rv), m_sub), dtype="int64")
    for j in range(m_sub):
        sub = rv[:, j * sub_dim : (j + 1) * sub_dim]
        d = sub[:, None, :] - mats[j][None, :, :]
        out[:, j] = (d * d).sum(axis=2).argmin(axis=1)
    return out



def ivfpq_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int,
    *,
    n_cells: int = 16,
    n_probe: int = 4,
    cell_iters: int = 1,
    m_sub: int = M_SUB,
    sub_dim: int = SUB_DIM,
    k_codes: int = K_CODES,
    pq_iters: int = PQ_ITERS,
    cache_key: str | None = None,
) -> DataFrame:
    """IVF-PQ — the faiss billion-vector architecture, composed from
    the engine's two trained-and-still-exact parts: integer-Lloyd
    coarse cells (similarity/kmeans.py, the IVF shortlist) and
    product-quantized RESIDUALS (vector − cell centroid — the classic
    refinement: residuals concentrate near zero, so the same 16-code
    books quantize them better than raw vectors).  A query ranks the
    cell centroids, probes ``n_probe`` cells, and ADC-scores ONLY
    rows in probed cells — n_probe/n_cells of the corpus touched, M
    lookups per touched row.

    Residuals are offset by ``RES_OFFSET`` to stay non-negative:
    the codebook update's integer mean uses truncating division,
    and Spark's ``div`` (toward zero) only agrees with DuckDB's
    ``//`` (floor) on non-negative operands — the offset cancels in
    every distance, so results are unchanged and the oracle stays
    bit-exact.

    Scale shape: coarse training = O(cell_iters) broadcast+argmin
    passes; residual computation, PQ training and scoring are each
    ONE Arrow map pass over the corpus (cell + residual + codes
    recomputed in-pass — at 100 TB these would be stored columns,
    see similarity/index.py for the persisted lifecycle); shuffle
    only at the final per-query top-k."""
    from .kmeans import kmeans_fit

    q = quantize(embeddings)
    _, cents = kmeans_fit(
        embeddings,
        n_cells,
        cell_iters,
        materialize=False,
        cache_key=cache_key,
    )
    cell_ids = np.array([c for c, _cv in cents], dtype="int64")
    cell_mat = np.array([cv for _c, cv in cents], dtype="int64")

    @F.pandas_udf("cell long, rv array<long>")
    def cell_res(qv: pd.Series) -> pd.DataFrame:
        X = np.stack(qv.to_numpy()).astype("int64")
        best, rv = _nearest_cell_rv(X, cell_mat)
        return pd.DataFrame(
            {"cell": cell_ids[best], "rv": list(rv)}
        )

    def _train_res_books():
        res = q.withColumn("cr", cell_res("qv")).select(
            "vec_id",
            F.col("cr.cell").alias("cell"),
            F.col("cr.rv").alias("qv"),
        ).persist()  # read by the init aggregation + every Lloyd round
        books = _train_codebooks(
            res.select("vec_id", "qv"), m_sub, sub_dim, k_codes, pq_iters
        )
        res.unpersist()  # scoring recomputes cell+residual map-side
        return books

    books = _cached_books(
        embeddings.sparkSession,
        cache_key,
        ("ivfpq", n_cells, cell_iters, m_sub, sub_dim, k_codes, pq_iters),
        _train_res_books,
    )
    book_mats = [
        np.array([cv for (_c, cv) in b], dtype="int64") for b in books
    ]

    qids = sorted(query_ids)
    qrows = {
        r["vec_id"]: np.array(list(r["qv"]), dtype="int64")
        for r in q.filter(F.col("vec_id").isin(qids)).collect()
    }
    missing = [i for i in qids if i not in qrows]
    if missing:
        raise ValueError(f"query ids not in embeddings: {missing}")
    # probe ranking + per-(query, probed-cell) residual LUTs
    n_q = len(qids)
    kmax = max(len(b) for b in books)
    probe_cells = np.zeros((n_q, n_probe), dtype="int64")
    luts = {}  # (qi, cell_id) -> (m_sub, kmax) int64
    for qi, qid in enumerate(qids):
        qv = qrows[qid]
        diff = cell_mat - qv[None, :]
        d2 = (diff * diff).sum(axis=1)
        order = np.lexsort((cell_ids, d2))[:n_probe]
        probe_cells[qi] = cell_ids[order]
        for ci in order:
            rq = qv - cell_mat[ci] + RES_OFFSET
            lut = np.zeros((m_sub, kmax), dtype="int64")
            for j in range(m_sub):
                sub = rq[j * sub_dim : (j + 1) * sub_dim]
                d = book_mats[j] - sub[None, :]
                lut[j, : len(books[j])] = (d * d).sum(axis=1)
            luts[(qi, int(cell_ids[ci]))] = lut
    probe_sets = [set(map(int, probe_cells[qi])) for qi in range(n_q)]

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def adc(qv: pd.Series) -> pd.Series:
        X = np.stack(qv.to_numpy()).astype("int64")
        best, rv = _nearest_cell_rv(X, cell_mat)
        cells = cell_ids[best]
        codes = _pq_code_cols(rv, book_mats, m_sub, sub_dim)
        out = np.full((len(X), n_q), -1, dtype="int64")
        sub_idx = np.arange(m_sub)
        for qi in range(n_q):
            for cell in probe_sets[qi]:
                rows = np.nonzero(cells == cell)[0]
                if len(rows):
                    lut = luts[(qi, cell)]
                    out[rows, qi] = lut[
                        sub_idx[None, :], codes[rows]
                    ].sum(axis=1)
        return pd.Series(list(out))

    qid_arr = json_array_lit([int(i) for i in qids], "long")
    scored = (
        q.withColumn("scores", adc("qv"))
        .select("vec_id", F.posexplode("scores").alias("qi", "pq_d2"))
        .filter(F.col("pq_d2") >= 0)
        .withColumn(
            "query_id", F.element_at(qid_arr, F.col("qi") + 1)
        )
        .filter(F.col("vec_id") != F.col("query_id"))
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("pq_d2").asc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "vec_id", "pq_d2", "rnk")
    )


class IVFPQIndex:
    """Persisted IVF-PQ — the billion-vector index as a STORED
    artifact (the lifecycle twin of similarity/index.py IVFIndex,
    with PQ codes instead of raw vectors in the inverted lists).
    Three TxTables under one root:

    - ``centroids/`` (cent_id, cv) — K coarse integer centroids;
    - ``books/`` (j, cent_id, cv) — the M residual codebooks;
    - ``codes/`` (vec_id, cell, codes) — the inverted file: every
      vector as M small codes (~8 bytes of payload vs 256 for the
      raw vector — the 32× compression that makes the 100 TB corpus
      a ~3 TB index), OPTIMIZE'd ``cluster_by=("cell",)`` so probes
      skip unprobed files via the manifest stats.

    Queries never touch embeddings: rank stored centroids, build the
    per-(query, cell) residual LUTs from stored books, scan only the
    probed cells' code files, sum M lookups per row.  Training is
    shared with ivfpq_topk, so stored-index results are BIT-IDENTICAL
    to the per-run operator and the same oracle applies verbatim."""

    def __init__(self, path: str) -> None:
        import os

        from ..pipeline.txlog import TxTable

        self.path = path
        self.codes_t = TxTable(os.path.join(path, "codes"))
        self.cent_t = TxTable(os.path.join(path, "centroids"))
        self.books_t = TxTable(os.path.join(path, "books"))
        # bounded raw-vector training reservoir (vec_id, embedding, h,
        # cell) — what rebuild() retrains from (see RESERVOIR_PER_CELL)
        self.train_t = TxTable(os.path.join(path, "train"))
        # raw rows ingested SINCE the last (re)build (vec_id,
        # embedding) — the uncompressed hot buffer every tick fills and
        # every rebuild drains.  Rows encoded against artifacts trained
        # on their own distribution decode faithfully, but a DRIFTED
        # batch's codes lose the information a retrain needs (its
        # residuals fall outside the trained codebooks), so rebuild
        # re-encodes since-build rows from these raws exactly and only
        # pre-build rows from their decode.  Size is bounded by the
        # retrain cadence (max_ticks batches), not the corpus.
        self.raw_t = TxTable(os.path.join(path, "raw"))

    @classmethod
    def build(
        cls,
        path: str,
        embeddings: DataFrame,
        *,
        n_cells: int = 16,
        cell_iters: int = 1,
        m_sub: int = M_SUB,
        sub_dim: int = SUB_DIM,
        k_codes: int = K_CODES,
        pq_iters: int = PQ_ITERS,
        reservoir_per_cell: int = RESERVOIR_PER_CELL,
    ) -> "IVFPQIndex":
        from .kmeans import kmeans_fit

        spark = embeddings.sparkSession
        q = quantize(embeddings)
        _, cents = kmeans_fit(
            embeddings, n_cells, cell_iters, materialize=False
        )
        cell_ids = np.array([c for c, _cv in cents], dtype="int64")
        cell_mat = np.array([cv for _c, cv in cents], dtype="int64")

        @F.pandas_udf("cell long, rv array<long>")
        def cell_res(qv: pd.Series) -> pd.DataFrame:
            X = np.stack(qv.to_numpy()).astype("int64")
            best, rv = _nearest_cell_rv(X, cell_mat)
            return pd.DataFrame(
                {"cell": cell_ids[best], "rv": list(rv)}
            )

        res = q.withColumn("cr", cell_res("qv")).select(
            "vec_id",
            F.col("cr.cell").alias("cell"),
            F.col("cr.rv").alias("qv"),
        ).persist()  # read by PQ training, the codes write AND the
        # reservoir's cell tags
        books = _train_codebooks(
            res.select("vec_id", "qv"),
            m_sub, sub_dim, k_codes, pq_iters,
        )
        mats = [
            np.array([cv for (_c, cv) in b], dtype="int64")
            for b in books
        ]

        @F.pandas_udf(T.ArrayType(T.LongType()))
        def encode(rv: pd.Series) -> pd.Series:
            X = np.stack(rv.to_numpy()).astype("int64")
            # stores the POSITION (0..K-1) in sorted-cent_id order
            return pd.Series(
                list(_pq_code_cols(X, mats, m_sub, sub_dim))
            )

        idx = cls(path)
        idx.codes_t.overwrite(
            res.withColumn("codes", encode("qv")).select(
                "vec_id", "cell", "codes"
            )
        )
        idx.codes_t.compact(
            spark,
            target_files=max(1, n_cells // 2),
            cluster_by=("cell",),
        )
        idx.cent_t.overwrite(
            spark.createDataFrame(
                cents, "cent_id long, cv array<long>"
            )
        )
        idx.books_t.overwrite(
            spark.createDataFrame(
                [
                    (j, cid, cv)
                    for j, b in enumerate(books)
                    for (cid, cv) in b
                ],
                "j long, cent_id long, cv array<long>",
            )
        )
        # the raw-vector training reservoir: per cell, the
        # reservoir_per_cell rows with the smallest xxhash64(vec_id)
        # (deterministic in the id set).  rebuild() retrains from this
        # table so a retrain never re-reads the embeddings source.
        wres = W.partitionBy("cell").orderBy("h", "vec_id")
        idx.train_t.overwrite(
            embeddings.select("vec_id", "embedding")
            .join(res.select("vec_id", "cell"), "vec_id")
            .withColumn("h", F.xxhash64("vec_id"))
            .withColumn("rrn", F.row_number().over(wres))
            .filter(F.col("rrn") <= reservoir_per_cell)
            .select("vec_id", "embedding", "h", "cell")
        )
        res.unpersist()
        # establish (or drain) the raw hot buffer: a full build encodes
        # every supplied vector from its true values, so any raws a
        # previous generation accumulated are superseded — and an empty
        # typed table means tick()/rebuild() never hit a missing-table
        # branch on a fresh index
        idx.raw_t.overwrite(
            embeddings.select("vec_id", "embedding").limit(0)
        )
        # the build/query contract is cross-process: persist the
        # geometry so a later opener can't misparse stored books with
        # different assumed parameters
        import json
        import os

        with open(os.path.join(path, "meta.json"), "w") as f:
            json.dump(
                {
                    "m_sub": m_sub,
                    "sub_dim": sub_dim,
                    "n_cells": n_cells,
                    "k_codes": k_codes,
                    "pq_iters": pq_iters,
                    "cell_iters": cell_iters,
                    "reservoir_per_cell": reservoir_per_cell,
                },
                f,
            )
        return idx

    def _stored_geometry(
        self,
        spark: SparkSession,
        m_sub: int = M_SUB,
        sub_dim: int = SUB_DIM,
    ):
        """(m_sub, sub_dim, cell_ids, cell_mat, mats) from storage —
        the shared loader for tick(), encode_batch() and topk().
        Parsed stored geometry (cell id/centroid arrays + per-subspace
        codebook matrices, plain numpy — no executor storage held),
        memoized per session and index path at the stored centroids/
        books versions (cache.memo): the artifacts are immutable per
        version, so repeated queries skip the two table-read jobs and
        a rebuild or tick re-parses.  ``m_sub``/``sub_dim`` are the
        caller's fallback for a pre-meta.json index only; the stored
        meta overrides them whenever present."""
        import json
        import os

        from ..cache import memo

        def build():
            ms, sd = m_sub, sub_dim
            meta_p = os.path.join(self.path, "meta.json")
            if os.path.exists(meta_p):
                with open(meta_p) as f:
                    meta = json.load(f)
                ms, sd = meta["m_sub"], meta["sub_dim"]
            cents = sorted(
                (r["cent_id"], list(r["cv"]))
                for r in self.cent_t.read(spark).collect()
            )
            cell_ids = np.array([c for c, _cv in cents], dtype="int64")
            cell_mat = np.array([cv for _c, cv in cents], dtype="int64")
            books: list[list[tuple[int, list[int]]]] = [
                [] for _ in range(ms)
            ]
            for r in self.books_t.read(spark).collect():
                books[r["j"]].append((r["cent_id"], list(r["cv"])))
            mats = [
                np.array([cv for (_c, cv) in sorted(b)], dtype="int64")
                for b in books
            ]
            return ms, sd, cell_ids, cell_mat, mats

        return memo(
            spark,
            "pq-geometry",
            (self.path, int(m_sub), int(sub_dim)),
            (self.cent_t.latest_version(), self.books_t.latest_version()),
            build,
        )

    def encode_batch(
        self, spark: SparkSession, embeddings: DataFrame
    ) -> DataFrame:
        """(vec_id, cell, codes) for a batch, encoded against the
        STORED coarse centroids and residual codebooks — the identical
        arithmetic build() runs (nearest-cell argmin, offset residual,
        per-subspace code argmin), so tick-encoded rows are
        bit-interchangeable with build-encoded ones."""
        m_sub, sub_dim, cell_ids, cell_mat, mats = self._stored_geometry(
            spark
        )

        @F.pandas_udf("cell long, codes array<long>")
        def enc(qv: pd.Series) -> pd.DataFrame:
            X = np.stack(qv.to_numpy()).astype("int64")
            best, rv = _nearest_cell_rv(X, cell_mat)
            out = _pq_code_cols(rv, mats, m_sub, sub_dim)
            return pd.DataFrame(
                {"cell": cell_ids[best], "codes": list(out)}
            )

        return (
            quantize(embeddings)
            .withColumn("cc", enc("qv"))
            .select(
                "vec_id",
                F.col("cc.cell").alias("cell"),
                F.col("cc.codes").alias("codes"),
            )
        )

    def tick(
        self,
        spark: SparkSession,
        new_embeddings: DataFrame,
        *,
        batch_id: str | None = None,
    ) -> int:
        """faiss ``add()`` for IVF-PQ — the O(new) daily path beside
        IVFIndex.tick: encode the new batch against STORED artifacts
        (collects are centroid/codebook-sized, the batch itself rides
        one Arrow pass and never shuffles) and append the ~8-byte code
        rows exactly-once (a replayed crawl batch adds nothing).
        Codebooks and centroids are untouched — rebuild() on the
        maintenance cadence retrains against drift; tick files land
        unclustered, so the same cadence should
        ``codes_t.compact(cluster_by=('cell',))`` to keep probe-time
        file skipping effective.

        The training reservoir ingests too: batch rows whose
        xxhash64(vec_id) beats the stored per-cell threshold (or land
        in an under-full cell) append to ``train/``; expected
        additions per tick decay as the corpus grows (only
        hash-record-breakers enter), so the table stays ~n_cells·N
        rows between the rebuild-time prunes.  Without this, drifted
        vectors could never reach the training set and a reservoir
        retrain could not adapt to drift at all.  Admission tests
        against the CURRENT cell tags, so it is exactly the fresh
        full-corpus sample only w.r.t. the current generation's
        centroids; a tick-time rejection is reconsidered at the next
        rebuild (which pools the raw hot buffer back into the
        candidate set before re-tagging and pruning), so only rows
        both rejected AND already drained — i.e. losers under two
        consecutive generations' tags — can be missing vs a fresh
        full-corpus sample."""
        new_embeddings = new_embeddings.localCheckpoint(eager=False)
        enc = self.encode_batch(spark, new_embeddings).localCheckpoint(
            eager=False
        )  # one Arrow encode pass feeds both the codes append and the
        # reservoir candidate tags
        # the replay short-circuit keys on the LAST table this method
        # commits (train_t): a crash between the codes append and the
        # side-table appends then replays to completion — the landed
        # tables no-op on their batch ids, the missing ones land —
        # exactly the two-table crash contract SearchIndex.ingest
        # documents.  Keying on codes_t (the FIRST commit) would make
        # such a half-landed batch unreachable forever.
        replay = (
            batch_id is not None
            and batch_id in self.train_t.applied_batch_ids()
        )
        n = self.codes_t.append(enc, batch_id=batch_id)
        if replay:
            return n
        # hot buffer: the batch's raw vectors, exact until the next
        # rebuild re-encodes and drains them
        self.raw_t.append(
            new_embeddings.select("vec_id", "embedding"),
            batch_id=batch_id,
        )
        import json
        import os

        if not self.train_t.versions():
            # pre-reservoir index (built before train/ existed): ticks
            # keep working; rebuild() will require a corpus source
            return n
        cap = RESERVOIR_PER_CELL
        meta_p = os.path.join(self.path, "meta.json")
        if os.path.exists(meta_p):
            with open(meta_p) as f:
                cap = json.load(f).get(
                    "reservoir_per_cell", RESERVOIR_PER_CELL
                )
        thr = {
            r["cell"]: (r["n"], r["mx"])
            for r in self.train_t.read(spark)
            .groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n"), F.max("h").alias("mx"))
            .collect()  # K-sized: one row per coarse cell
        }
        cand = (
            new_embeddings.select("vec_id", "embedding")
            .join(enc.select("vec_id", "cell"), "vec_id")
            .withColumn("h", F.xxhash64("vec_id"))
        )
        keep = F.lit(False)
        for cell, (cnt, mx) in thr.items():
            ok = (
                F.lit(True)
                if cnt < cap
                else (F.col("h") < F.lit(mx))
            )
            keep = F.when(F.col("cell") == F.lit(cell), ok).otherwise(
                keep
            )
        # cells with no stored rows yet (a drifted batch can populate
        # a previously empty cell) always qualify
        if thr:
            known = F.col("cell").isin(*thr.keys())
            keep = F.when(~known, F.lit(True)).otherwise(keep)
        else:
            keep = F.lit(True)
        self.train_t.append(
            cand.filter(keep).select("vec_id", "embedding", "h", "cell"),
            batch_id=batch_id,
        )
        return n

    def ticks_since_build(self) -> int:
        """Append commits on the codes table since the last full
        (re)build — same staleness counter as IVFIndex (driver-side
        log walk, no Spark job)."""
        n = 0
        for v in reversed(self.codes_t.versions()):
            op = self.codes_t.commit_entry(v)["op"]
            if op == "overwrite":
                break
            if op == "append":
                n += 1
        return n

    def needs_retrain(
        self,
        spark: SparkSession,
        *,
        max_ticks: int = 10,
        max_skew: float = 4.0,
    ) -> bool:
        """Rebuild trigger (IVFIndex.needs_retrain semantics): tick
        count OR inverted-list skew.  PQ drift is WORSE than IVF drift
        — codebooks quantize residuals against frozen centroids, so a
        drifted batch's residuals fall outside the trained Voronoi
        cells and the 8-byte codes lose precision on top of the cell
        misassignment.  Zero ticks → False (no change possible; skips
        the skew scan and the inherent-skew rebuild-thrash trap — see
        IVFIndex.needs_retrain)."""
        ticks = self.ticks_since_build()
        if ticks == 0:
            return False
        if ticks >= max_ticks:
            return True
        row = (
            self.codes_t.read(spark)
            .groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n"))
            .agg(F.max("n").alias("mx"), F.avg("n").alias("mean"))
            .first()
        )
        if row is None or row["mx"] is None:
            return False
        return float(row["mx"]) / float(row["mean"]) > max_skew

    def rebuild(
        self,
        spark: SparkSession,
        embeddings: DataFrame | None = None,
        *,
        n_cells: int | None = None,
        **build_kwargs,
    ) -> "IVFPQIndex":
        """Retrain coarse centroids AND residual codebooks, rewriting
        the codes table in place.

        ``embeddings=None`` (the default maintenance path) retrains
        INDEX-LOCALLY: centroids and codebooks train on the persisted
        raw-vector reservoir (``train/`` — n_cells·N rows, fixed size
        at any corpus scale), and the inverted file re-encodes from the
        index's own storage in two strata:

        - rows ingested since the last build re-encode EXACTLY from
          the raw hot buffer (``raw/`` — bounded by the retrain
          cadence).  This stratum is where drift lives, and drifted
          rows' old codes are unrecoverable (their residuals fell
          outside the codebooks trained before the drift) — measured:
          decode-only re-encoding left every drifted vector in the old
          seed cells and recall at 0;
        - pre-build rows re-encode from their DECODE (old centroid +
          codebook reconstruction, one Arrow pass over the ~8-byte
          rows).  They were in-distribution when their artifacts
          trained, so their decode error is ordinary PQ quantization
          noise, one step of which enters per reservoir rebuild.

        Nothing outside the index root is read: at 100 TB the retrain
        touches a ~3 TB codes table, a cadence-bounded raw buffer it
        then drains, and a KB-scale training set — instead of the
        100 TB embeddings lake.  The recall floor vs the corpus-sourced
        rebuild is pinned in tests/test_ivf_maintenance.py.

        Passing ``embeddings`` keeps the exact corpus-sourced retrain
        (a full :meth:`build` over the supplied source) — the baseline
        the reservoir path is measured against, and the only option
        for pre-reservoir indexes."""
        import json
        import os

        meta: dict = {}
        meta_p = os.path.join(self.path, "meta.json")
        if os.path.exists(meta_p):
            with open(meta_p) as f:
                meta = json.load(f)
        if n_cells is None:
            n_cells = meta.get("n_cells", 16)
        if embeddings is not None:
            return IVFPQIndex.build(
                self.path, embeddings, n_cells=n_cells, **build_kwargs
            )
        if not self.train_t.versions():
            raise ValueError(
                "index has no training reservoir (built before train/ "
                "existed) — pass the embeddings source to rebuild"
            )
        from .kmeans import kmeans_fit

        m_sub = build_kwargs.get("m_sub", meta.get("m_sub", M_SUB))
        sub_dim = build_kwargs.get(
            "sub_dim", meta.get("sub_dim", SUB_DIM)
        )
        k_codes = build_kwargs.get(
            "k_codes", meta.get("k_codes", K_CODES)
        )
        pq_iters = build_kwargs.get(
            "pq_iters", meta.get("pq_iters", PQ_ITERS)
        )
        cell_iters = build_kwargs.get(
            "cell_iters", meta.get("cell_iters", 1)
        )
        cap = build_kwargs.get(
            "reservoir_per_cell",
            meta.get("reservoir_per_cell", RESERVOIR_PER_CELL),
        )
        reservoir = (
            self.train_t.read(spark)
            .select("vec_id", "embedding", "h")
            .localCheckpoint(eager=False)
        )
        # ---- train new artifacts on the reservoir ONLY
        _, cents = kmeans_fit(
            reservoir.select("vec_id", "embedding"),
            n_cells,
            cell_iters,
            materialize=False,
        )
        cell_ids = np.array([c for c, _cv in cents], dtype="int64")
        cell_mat = np.array([cv for _c, cv in cents], dtype="int64")

        @F.pandas_udf("cell long, rv array<long>")
        def cell_res(qv: pd.Series) -> pd.DataFrame:
            X = np.stack(qv.to_numpy()).astype("int64")
            best, rv = _nearest_cell_rv(X, cell_mat)
            return pd.DataFrame({"cell": cell_ids[best], "rv": list(rv)})

        res = (
            quantize(reservoir.select("vec_id", "embedding"))
            .withColumn("cr", cell_res("qv"))
            .select(
                "vec_id",
                F.col("cr.cell").alias("cell"),
                F.col("cr.rv").alias("qv"),
            )
            .persist()  # PQ training + the reservoir's new cell tags
        )
        books = _train_codebooks(
            res.select("vec_id", "qv"), m_sub, sub_dim, k_codes, pq_iters
        )
        new_mats = [
            np.array([cv for (_c, cv) in sorted(b)], dtype="int64")
            for b in books
        ]
        # ---- decode stored codes against the OLD artifacts, re-encode
        # against the new (geometry collected before any overwrite)
        old_m, old_sd, old_ids, old_mat, old_mats = (
            self._stored_geometry(spark)
        )

        @F.pandas_udf("cell long, codes array<long>")
        def recode(cell: pd.Series, codes: pd.Series) -> pd.DataFrame:
            C = np.stack(codes.to_numpy()).astype("int64")
            ci = np.searchsorted(
                old_ids, cell.to_numpy().astype("int64")
            )
            rec = np.empty((len(C), old_m * old_sd), dtype="int64")
            for j in range(old_m):
                rec[:, j * old_sd : (j + 1) * old_sd] = old_mats[j][
                    C[:, j]
                ]
            qv = old_mat[ci] + rec - RES_OFFSET  # ≈ the stored vector
            best, rv = _nearest_cell_rv(qv, cell_mat)
            out = _pq_code_cols(rv, new_mats, m_sub, sub_dim)
            return pd.DataFrame(
                {"cell": cell_ids[best], "codes": list(out)}
            )

        @F.pandas_udf("cell long, codes array<long>")
        def enc_new(qv: pd.Series) -> pd.DataFrame:
            # exact encode against the NEW artifacts (encode_batch's
            # arithmetic with the retrained geometry closed over)
            X = np.stack(qv.to_numpy()).astype("int64")
            best, rv = _nearest_cell_rv(X, cell_mat)
            out = _pq_code_cols(rv, new_mats, m_sub, sub_dim)
            return pd.DataFrame(
                {"cell": cell_ids[best], "codes": list(out)}
            )

        old_codes = self.codes_t.read(spark).select(
            "vec_id", "cell", "codes"
        )
        if self.raw_t.versions():
            raws = self.raw_t.read(spark).select("vec_id", "embedding")
            exact = (
                quantize(raws)
                .withColumn("cc", enc_new("qv"))
                .select(
                    "vec_id",
                    F.col("cc.cell").alias("cell"),
                    F.col("cc.codes").alias("codes"),
                )
            )
            stale = old_codes.join(
                raws.select("vec_id"), "vec_id", "left_anti"
            )
            recoded = stale.withColumn(
                "nc", recode("cell", "codes")
            ).select(
                "vec_id",
                F.col("nc.cell").alias("cell"),
                F.col("nc.codes").alias("codes"),
            ).unionByName(exact)
        else:
            recoded = old_codes.withColumn(
                "nc", recode("cell", "codes")
            ).select(
                "vec_id",
                F.col("nc.cell").alias("cell"),
                F.col("nc.codes").alias("codes"),
            )
        self.codes_t.overwrite(recoded)  # old files stay readable
        # (time travel) until vacuum, so the lazy self-read is safe
        if self.raw_t.versions():
            # drain the hot buffer: everything it held is now encoded
            # against in-distribution artifacts
            self.raw_t.overwrite(raws.limit(0))
        self.codes_t.compact(
            spark,
            target_files=max(1, n_cells // 2),
            cluster_by=("cell",),
        )
        self.cent_t.overwrite(
            spark.createDataFrame(cents, "cent_id long, cv array<long>")
        )
        self.books_t.overwrite(
            spark.createDataFrame(
                [
                    (j, cid, cv)
                    for j, b in enumerate(books)
                    for (cid, cv) in b
                ],
                "j long, cent_id long, cv array<long>",
            )
        )
        # ---- refresh the reservoir: pool the drained raw rows back
        # into the candidate set (their NEW cell tags are already in
        # ``exact``), re-tag everything against the new centroids and
        # prune to the per-cell cap.  The pooling is what makes a
        # tick-time admission rejection non-permanent: it gets a
        # second chance under the retrained tags before the buffer
        # drains.
        wres = W.partitionBy("cell").orderBy("h", "vec_id")
        cand_res = reservoir.join(res.select("vec_id", "cell"), "vec_id")
        if self.raw_t.versions():
            raw_cand = (
                raws.withColumn("h", F.xxhash64("vec_id"))
                .join(exact.select("vec_id", "cell"), "vec_id")
                .select("vec_id", "embedding", "h", "cell")
            )
            cand_res = (
                cand_res.select("vec_id", "embedding", "h", "cell")
                .unionByName(raw_cand)
                .dropDuplicates(["vec_id"])
            )
        self.train_t.overwrite(
            cand_res.withColumn("rrn", F.row_number().over(wres))
            .filter(F.col("rrn") <= cap)
            .select("vec_id", "embedding", "h", "cell")
        )
        res.unpersist()
        with open(meta_p, "w") as f:
            json.dump(
                {
                    "m_sub": m_sub,
                    "sub_dim": sub_dim,
                    "n_cells": n_cells,
                    "k_codes": k_codes,
                    "pq_iters": pq_iters,
                    "cell_iters": cell_iters,
                    "reservoir_per_cell": cap,
                },
                f,
            )
        return self

    def topk(
        self,
        spark: SparkSession,
        queries: DataFrame,
        k: int,
        *,
        n_probe: int = 4,
        m_sub: int = M_SUB,
        sub_dim: int = SUB_DIM,
    ) -> DataFrame:
        """Top-k per query row (vec_id, embedding) from STORED
        artifacts only — no training, no embedding scan.  Index
        geometry (m_sub/sub_dim) comes from the stored meta.json when
        present — the caller's defaults cannot misparse the books.
        Artifact reads ride the per-version geometry memo
        (``_stored_geometry``): a serving session pays the centroid/
        codebook collect jobs once per stored version, not once per
        query."""
        m_sub, sub_dim, cell_ids, cell_mat, mats = self._stored_geometry(
            spark, m_sub, sub_dim
        )

        q = quantize(queries)
        qrows = sorted(
            (r["vec_id"], np.array(list(r["qv"]), dtype="int64"))
            for r in q.collect()
        )
        if not qrows:  # empty query set → empty, correctly-typed frame
            return spark.createDataFrame(
                [], "query_id long, vec_id long, pq_d2 long, rnk int"
            )
        n_q = len(qrows)
        kmax = max(len(m) for m in mats)
        luts = {}
        probe_sets = []
        for qi, (_qid, qv) in enumerate(qrows):
            diff = cell_mat - qv[None, :]
            d2 = (diff * diff).sum(axis=1)
            order = np.lexsort((cell_ids, d2))[:n_probe]
            probe_sets.append(set(map(int, cell_ids[order])))
            for ci in order:
                rq = qv - cell_mat[ci] + RES_OFFSET
                lut = np.zeros((m_sub, kmax), dtype="int64")
                for j in range(m_sub):
                    sub = rq[j * sub_dim : (j + 1) * sub_dim]
                    d = mats[j] - sub[None, :]
                    lut[j, : len(mats[j])] = (d * d).sum(axis=1)
                luts[(qi, int(cell_ids[ci]))] = lut

        probed = sorted(set().union(*probe_sets))
        # manifest stats skip unprobed cells' files before Spark opens
        # them; the residual In-filter also pushes to the scan
        codes = self.codes_t.read_where(
            spark,
            [("cell", ">=", probed[0]), ("cell", "<=", probed[-1])],
        ).filter(F.col("cell").isin(probed))

        @F.pandas_udf(T.ArrayType(T.LongType()))
        def adc(cell: pd.Series, codes_s: pd.Series) -> pd.Series:
            cells = cell.to_numpy().astype("int64")
            C = np.stack(codes_s.to_numpy()).astype("int64")
            out = np.full((len(cells), n_q), -1, dtype="int64")
            sub_idx = np.arange(m_sub)
            for qi in range(n_q):
                for pc in probe_sets[qi]:
                    rows = np.nonzero(cells == pc)[0]
                    if len(rows):
                        lut = luts[(qi, pc)]
                        out[rows, qi] = lut[
                            sub_idx[None, :], C[rows]
                        ].sum(axis=1)
            return pd.Series(list(out))

        # one folded ArrayType literal, not n_q expression nodes —
        # the wide-literal carrier from exprs.py (round 11)
        qid_arr = json_array_lit([int(qid) for qid, _ in qrows], "long")
        scored = (
            codes.withColumn("scores", adc("cell", "codes"))
            .select(
                "vec_id",
                F.posexplode("scores").alias("qi", "pq_d2"),
            )
            .filter(F.col("pq_d2") >= 0)
            .withColumn(
                "query_id", F.element_at(qid_arr, F.col("qi") + 1)
            )
            .filter(F.col("vec_id") != F.col("query_id"))
        )
        w = W.partitionBy("query_id").orderBy(
            F.col("pq_d2").asc(), F.col("vec_id")
        )
        return (
            scored.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k)
            .select("query_id", "vec_id", "pq_d2", "rnk")
        )
