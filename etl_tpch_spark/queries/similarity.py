"""Similarity-search query registrations (embeddings table).

Oracles compute the identical sequential-fold cosine in DuckDB SQL
(dedup/hashing.py sql twins) — results must match bit-for-bit, so even
the LSH-bucketed ANN is hash-checked, not just row-counted.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import Tables, table_stamp
from ..dedup.hashing import sql_cosine_fold, sql_hyperplane_signature
from ..registry import REGISTRY, query
from ..similarity.ann import (
    _pair_cosine,
    _with_norm,
    cosine_pairs_threshold,
    cosine_pairs_threshold_blocked,
    cosine_topk_bruteforce,
    cosine_topk_ivf,
    cosine_topk_lsh,
    cosine_topk_lsh_multiprobe,
    quantized_cosine_pairs,
)

QUERY_IDS = [0, 1, 2, 3, 4]
TOP_K = 10
PAIR_THRESHOLD = 0.4


BUCKET_BITS = 8

_IDS = ", ".join(str(i) for i in QUERY_IDS)
_COS = sql_cosine_fold("q.q_emb", "c.embedding")


@query(
    "sim_ann_topk_bruteforce",
    oracle=f"""
        WITH q AS (
            SELECT vec_id AS query_id, embedding AS q_emb
            FROM embeddings WHERE vec_id IN ({_IDS})
        ), scored AS (
            SELECT q.query_id, c.vec_id,
                   round({_COS}, 6) AS cosine
            FROM q CROSS JOIN embeddings c
            WHERE q.query_id <> c.vec_id
        )
        SELECT query_id, vec_id, cosine, rnk
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cosine DESC, vec_id
            ) AS rnk
            FROM scored
        )
        WHERE rnk <= {TOP_K}
    """,
)
def ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for 5 query vectors — the ANN baseline
    (broadcast queries × corpus scan, no shuffle of the corpus)."""
    t = Tables(spark, sf_dir)
    return cosine_topk_bruteforce(t.embeddings, QUERY_IDS, TOP_K)


@query(
    "sim_cosine_pairs",
    oracle=f"""
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               round({sql_cosine_fold('a.embedding', 'b.embedding')}, 6)
                 AS cosine
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE round({sql_cosine_fold('a.embedding', 'b.embedding')}, 6)
              >= {PAIR_THRESHOLD}
    """,
)
def cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs: exact all-pairs cosine ≥ 0.4
    (the recall baseline for LSH near-dup)."""
    t = Tables(spark, sf_dir)
    return cosine_pairs_threshold(t.embeddings, PAIR_THRESHOLD)


_SIG = sql_hyperplane_signature("embedding")


@query(
    "sim_ann_topk_lsh",
    oracle=f"""
        WITH sig AS (
            SELECT vec_id, embedding,
                   ({_SIG}) & {(1 << BUCKET_BITS) - 1} AS bucket
            FROM embeddings
        ), q AS (
            SELECT vec_id AS query_id, embedding AS q_emb, bucket
            FROM sig WHERE vec_id IN ({_IDS})
        ), scored AS (
            SELECT q.query_id, c.vec_id,
                   round({_COS}, 6) AS cosine
            FROM q JOIN sig c ON q.bucket = c.bucket
            WHERE q.query_id <> c.vec_id
        )
        SELECT query_id, vec_id, cosine, rnk
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cosine DESC, vec_id
            ) AS rnk
            FROM scored
        )
        WHERE rnk <= {TOP_K}
    """,
)
def ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN (8-bit hyperplane bucket, probe own bucket):
    the n/256-per-query scale path.  Deterministic integer hyperplanes ⇒
    the oracle rebuilds identical buckets."""
    t = Tables(spark, sf_dir)
    return cosine_topk_lsh(t.embeddings, QUERY_IDS, TOP_K, BUCKET_BITS)


N_CELLS = 16
N_PROBE = 4


_PROBE_LIST = "[sig0.bucket, " + ", ".join(
    f"xor(sig0.bucket, {1 << i})" for i in range(BUCKET_BITS)
) + "]"


@query(
    "sim_ann_topk_lsh_multiprobe",
    oracle=f"""
        WITH sig AS (
            SELECT vec_id, embedding,
                   ({_SIG}) & {(1 << BUCKET_BITS) - 1} AS bucket
            FROM embeddings
        ), q AS (
            SELECT sig0.vec_id AS query_id, sig0.embedding AS q_emb,
                   unnest({_PROBE_LIST}) AS bucket
            FROM sig sig0 WHERE sig0.vec_id IN ({_IDS})
        ), scored AS (
            SELECT q.query_id, c.vec_id,
                   round({_COS}, 6) AS cosine
            FROM q JOIN sig c ON q.bucket = c.bucket
            WHERE q.query_id <> c.vec_id
        )
        SELECT query_id, vec_id, cosine, rnk
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cosine DESC, vec_id
            ) AS rnk
            FROM scored
        )
        WHERE rnk <= {TOP_K}
    """,
)
def ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN: own bucket + all Hamming-1 neighbor buckets
    (similarity/ann.py) — the recall knob between single-probe LSH and
    the brute-force scan; probe set is deterministic so the oracle
    rebuilds it exactly."""
    t = Tables(spark, sf_dir)
    return cosine_topk_lsh_multiprobe(
        t.embeddings, QUERY_IDS, TOP_K, BUCKET_BITS
    )


@query(
    "sim_cosine_pairs_blocked",
    oracle=REGISTRY["sim_cosine_pairs"].oracle,
)
def cosine_pairs_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-matrix form of sim_cosine_pairs (similarity/ann.py): same
    exact result via grouped applyInPandas with a dimension-sequential
    numpy kernel — shares the oracle SQL with the expression form, so
    the hash check proves the two implementations agree bit-for-bit.
    ~5× faster at sf0.1; the pattern scales O(n²/B²) work per group."""
    t = Tables(spark, sf_dir)
    return cosine_pairs_threshold_blocked(t.embeddings, PAIR_THRESHOLD)


_SQL_QV = (
    "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)"
    " * (127.0 / list_max(list_transform(embedding,"
    " y -> abs(CAST(y AS DOUBLE))))) + 0.5) AS BIGINT))"
)


_SQL_QPAIRS = f"""
        WITH q AS (
            SELECT vec_id, {_SQL_QV} AS qv FROM embeddings
        ), n AS (
            SELECT vec_id, qv,
                   list_reduce(list_prepend(CAST(0 AS BIGINT),
                       list_transform(qv, x -> x * x)),
                       (a, b) -> a + b) AS qn
            FROM q
        )
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               round(list_reduce(list_prepend(CAST(0 AS BIGINT),
                         list_transform(range(1, 65),
                             j -> a.qv[j] * b.qv[j])),
                         (x, y) -> x + y)
                     / sqrt(CAST(a.qn * b.qn AS DOUBLE)), 6) AS qcosine
        FROM n a JOIN n b ON a.vec_id < b.vec_id
        WHERE round(list_reduce(list_prepend(CAST(0 AS BIGINT),
                        list_transform(range(1, 65),
                            j -> a.qv[j] * b.qv[j])),
                        (x, y) -> x + y)
                    / sqrt(CAST(a.qn * b.qn AS DOUBLE)), 6)
              >= {PAIR_THRESHOLD}
    """


@query(
    "sim_quantized_cosine_pairs",
    oracle=_SQL_QPAIRS,
    tags=("baseline-only",),
)
def quantized_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8-quantized cosine pairs, ALL-PAIRS form (similarity/ann.py):
    integer dot products are exact, so the quantized scores are
    bit-deterministic with NO fold-order discipline needed.
    Quantization uses floor(x+0.5), identical across engines, keeping
    even the compressed index hash-checkable.  This is the recall
    BASELINE twin — the O(n²/k) product paths are
    sim_quantized_cosine_pairs_cells (cell-scoped) and _blocked (the
    int8 GEMM kernel; same split as sim_cosine_pairs vs _cells).

    Tagged ``baseline-only`` (VERDICT r9 #8): its ~19 s sf0.1 wall is
    the DOCUMENTED cost of the exact all-pairs recall yardstick, not a
    regression surface, so the full-registry perf sweep skips it by
    default (correctness runs — the driver window, the sf0.01 oracle
    diff — still execute it like any other row)."""
    t = Tables(spark, sf_dir)
    return quantized_cosine_pairs(t.embeddings, PAIR_THRESHOLD)


@query("sim_quantized_cosine_pairs_blocked", oracle=_SQL_QPAIRS)
def quantized_pairs_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-matrix twin of sim_quantized_cosine_pairs
    (similarity/ann.py quantized_cosine_pairs_blocked): identical
    output — int64 dots are exact, quantization inside the kernel is
    the same IEEE op sequence — via one int64 GEMM per block pair
    instead of per-pair interpreted folds.  The same expression-vs-
    numpy split the float family ships (sim_cosine_pairs at 18 s vs
    _blocked at 1.2 s on the sf0.1 sweep); measured for the quantized
    family in SCALING.md "Quantized pairs" (expression form 18.4 s /
    3.9x oracle, blocked ~1.2 s)."""
    from ..similarity.ann import quantized_cosine_pairs_blocked

    t = Tables(spark, sf_dir)
    return quantized_cosine_pairs_blocked(t.embeddings, PAIR_THRESHOLD)


def _km_d2(qv: str, cv: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(range(1, 65), "
        f"j -> ({qv}[j] - {cv}[j]) * ({qv}[j] - {cv}[j]))), "
        f"(a, b) -> a + b)"
    )


def _km_assign(src_q: str, src_c: str, out: str) -> str:
    return f"""
        {out} AS (
            SELECT vec_id, qv, cent_id AS cluster, d2 FROM (
                SELECT q.vec_id, q.qv, c.cent_id,
                       {_km_d2('q.qv', 'c.cv')} AS d2,
                       row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY {_km_d2('q.qv', 'c.cv')}, c.cent_id
                       ) AS rn
                FROM {src_q} q CROSS JOIN {src_c} c
            ) WHERE rn = 1
        )"""


def _km_update(src_a: str, out: str) -> str:
    return f"""
        {out} AS (
            SELECT cluster AS cent_id, list(m ORDER BY dim) AS cv FROM (
                SELECT cluster, dim,
                       CAST(sum(qv[dim]) // count(*) AS BIGINT) AS m
                FROM {src_a}, unnest(range(1, 65)) AS t(dim)
                GROUP BY cluster, dim
            ) GROUP BY cluster
        )"""


def _km_chain(k: int, iters: int) -> str:
    """CTE chain (no leading WITH) running ``iters`` quantized-Lloyd
    rounds from the deterministic duplicate-robust init (the k DISTINCT
    quantized vectors with lowest owning vec_id — kmeans.py
    _init_centroids); ends with ``afinal(vec_id, qv, cluster, d2)`` and
    ``c{iters}(cent_id, cv)`` — the SQL replica of
    similarity/kmeans.py kmeans_assignments."""
    parts = [
        """q AS (
            SELECT vec_id,
                   list_transform(embedding,
                       x -> CAST(floor((CAST(x AS DOUBLE) + 1.0) * 1000000
                                       + 0.5) AS BIGINT)) AS qv
            FROM embeddings
        )""",
        f"""c0 AS (
            SELECT cent_id, qv AS cv FROM (
                SELECT qv, min(vec_id) AS cent_id FROM q GROUP BY qv
            ) ORDER BY cent_id LIMIT {k}
        )""",
    ]
    for i in range(iters):
        parts.append(_km_assign("q", f"c{i}", f"a{i + 1}"))
        parts.append(_km_update(f"a{i + 1}", f"c{i + 1}"))
    parts.append(_km_assign("q", f"c{iters}", "afinal"))
    return ",\n        ".join(parts)


@query(
    "sim_kmeans_clusters",
    oracle=f"""
        WITH {_km_chain(8, 2)}
        SELECT vec_id, CAST(cluster AS BIGINT) AS cluster,
               CAST(d2 AS BIGINT) AS d2
        FROM afinal
    """,
)
def kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic quantized k-means (similarity/kmeans.py): 2 Lloyd
    rounds, k=8, deterministic init — iterative ML as DataFrame passes
    with integer-exact arithmetic, so even the *trained* assignment is
    hash-checked against the oracle's unrolled-CTE replica.  Per round:
    broadcast K centroids, map-side argmin (corpus never shuffles),
    64·K-cell re-aggregation."""
    from ..similarity.kmeans import kmeans_assignments

    t = Tables(spark, sf_dir)
    return kmeans_assignments(
        t.embeddings, cache_key=table_stamp(sf_dir, "embeddings")
    )


def cell_pairs_sql(threshold: float, k: int = 8, iters: int = 2) -> str:
    """Oracle twin of similarity/ann.py cosine_pairs_threshold_cells:
    unrolled-Lloyd cells + within-cell exact-fold cosine.  Shared by
    dedup_embedding_clusters and the graph family."""
    cos = sql_cosine_fold("a.embedding", "b.embedding")
    return f"""
        WITH {_km_chain(k, iters)},
        cells AS (
            SELECT e.vec_id, e.embedding, af.cluster
            FROM embeddings e JOIN afinal af ON e.vec_id = af.vec_id
        )
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               round({cos}, 6) AS cosine
        FROM cells a JOIN cells b
          ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        WHERE round({cos}, 6) >= {threshold}
    """


_SQL_QDOT = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(range(1, 65), j -> a.qv8[j] * b.qv8[j])), "
    "(x, y) -> x + y)"
)


@query(
    "sim_quantized_cosine_pairs_cells",
    oracle=f"""
        WITH {_km_chain(8, 2)},
        q8 AS (
            SELECT vec_id, {_SQL_QV} AS qv8 FROM embeddings
        ),
        n8 AS (
            SELECT vec_id, qv8,
                   list_reduce(list_prepend(CAST(0 AS BIGINT),
                       list_transform(qv8, x -> x * x)),
                       (a, b) -> a + b) AS qn
            FROM q8
        ),
        qcells AS (
            SELECT n8.vec_id, n8.qv8, n8.qn, af.cluster
            FROM n8 JOIN afinal af ON n8.vec_id = af.vec_id
        )
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               round({_SQL_QDOT}
                     / sqrt(CAST(a.qn * b.qn AS DOUBLE)), 6) AS qcosine
        FROM qcells a JOIN qcells b
          ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        WHERE round({_SQL_QDOT}
                    / sqrt(CAST(a.qn * b.qn AS DOUBLE)), 6)
              >= {PAIR_THRESHOLD}
    """,
)
def quantized_pairs_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-scoped int8-quantized cosine pairs (similarity/ann.py
    quantized_cosine_pairs_cells): the PRODUCT path for
    compressed-embedding near-dup — k-means cells trained on the raw
    embeddings (integer-exact Lloyd, so the oracle rebuilds identical
    cells from the unrolled CTE), int8 scoring only WITHIN each cell:
    O(n²/k) pair work instead of sim_quantized_cosine_pairs'
    all-pairs O(n²), which stays registered as the recall baseline
    twin (same recipe that split sim_cosine_pairs / _cells in r2)."""
    from ..similarity.ann import quantized_cosine_pairs_cells

    t = Tables(spark, sf_dir)
    return quantized_cosine_pairs_cells(
        t.embeddings,
        PAIR_THRESHOLD,
        cache_key=table_stamp(sf_dir, "embeddings"),
    )


N_IVF_ITERS = 1  # one Lloyd round: measured recall 0.88 vs 0.84 at two
# rounds on this corpus (overfit centroids split near-dup neighborhoods
# across cells), and one less full-corpus training pass per build


@query(
    "sim_ann_topk_ivf",
    oracle=f"""
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
        scored AS (
            SELECT qc.query_id, v.vec_id,
                   round({sql_cosine_fold('qc.q_emb', 'v.embedding')}, 6)
                     AS cosine
            FROM qcells qc JOIN cells v ON qc.cell = v.cell
            WHERE qc.query_id <> v.vec_id
        )
        SELECT query_id, vec_id, cosine, rnk
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cosine DESC, vec_id
            ) AS rnk
            FROM scored
        )
        WHERE rnk <= {TOP_K}
    """,
)
def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with TRAINED centroids (16 cells, one integer-Lloyd
    round, probe 4): the partition-pruned scale path — a query scans
    ~n_probe/n_cells of the corpus.  Training is integer-exact, so even
    the trained index is hash-checked against the oracle's unrolled-CTE
    replica; trained cells track the data distribution, lifting recall
    over lowest-id centroids at the same probe budget (0.88 vs
    bruteforce at sf0.01, pinned in tests)."""
    t = Tables(spark, sf_dir)
    return cosine_topk_ivf(
        t.embeddings, QUERY_IDS, TOP_K,
        n_cells=N_CELLS, n_probe=N_PROBE, iters=N_IVF_ITERS,
        cache_key=table_stamp(sf_dir, "embeddings"),
    )


def _reused_index(
    kind: str,
    sf_dir: str,
    params: str,
    opener,
    builder,
    table: str = "embeddings",
):
    """Build-once / query-many for the persisted-index queries: the
    integer-Lloyd builds are DETERMINISTIC (same corpus → bit-identical
    artifacts), so reusing an index built earlier in the session — or
    by a previous invocation — returns results identical to a fresh
    build while reporting the lifecycle's true steady-state cost
    (build on the maintenance cadence, query many times; the same
    warm-cache convention the bench protocol documents for LSH).  A
    cache.stored artifact per source-table stamp and build
    parameters, so a regenerated fixture or a parameter change maps
    to a NEW generation directory."""
    from ..cache import stored

    return stored(
        kind,
        os.path.realpath(sf_dir),
        f"{table_stamp(sf_dir, table)}|{params}",
        builder,
        opener,
    )


def _ivf_index_for(spark: SparkSession, sf_dir: str):
    from ..similarity.index import IVFIndex

    t = Tables(spark, sf_dir)
    return _reused_index(
        "ivf-idx",
        sf_dir,
        f"{N_CELLS}-{N_IVF_ITERS}",
        IVFIndex,
        lambda p: IVFIndex.build(
            p, t.embeddings, n_cells=N_CELLS, iters=N_IVF_ITERS
        ),
    )


@query(
    "sim_ann_topk_ivf_indexed",
    oracle=REGISTRY["sim_ann_topk_ivf"].oracle,
)
def ann_ivf_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED-index lifecycle (similarity/index.py IVFIndex):
    build = train integer-exact centroids + materialize the inverted
    file as a cell-clustered TxTable; query = quantize queries, rank
    STORED centroids, scan only the probed cells' files (literal isin
    filter → parquet file skipping).  Identical training ⇒ identical
    results ⇒ the sim_ann_topk_ivf oracle applies verbatim — the build/
    query split is a lifecycle change, not a semantics change.  At
    100 TB the build runs on the maintenance cadence and queries never
    retrain (tests/test_ivf_index.py pins result equality, file
    pruning, and rebuild-on-append); repeated invocations reuse the
    stored build (_reused_index — deterministic training makes the
    reused artifacts bit-identical to a fresh build)."""
    t = Tables(spark, sf_dir)
    idx = _ivf_index_for(spark, sf_dir)
    queries_df = t.embeddings.filter(F.col("vec_id").isin(QUERY_IDS))
    return idx.topk(
        spark,
        queries_df,
        TOP_K,
        n_probe=N_PROBE,
        cache_token=(
            table_stamp(sf_dir, "embeddings"), tuple(QUERY_IDS)
        ),
    )


@query("sim_cosine_pairs_cells", oracle=cell_pairs_sql(PAIR_THRESHOLD))
def cosine_pairs_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-quadratic near-dup pairs: deterministic k-means cells, exact
    cosine only WITHIN each cell (the SemDeDup/IVF recipe —
    similarity/ann.py cosine_pairs_threshold_cells).  O(n²/k) pair work
    after O(iters) broadcast Lloyd passes, vs the all-pairs baseline's
    O(n²); cross-cell pairs are unscored by design (recall<1, published
    SemDeDup behavior), with sim_cosine_pairs as the recall baseline.
    Cells and cosines are bit-deterministic ⇒ hash-checked."""
    from ..similarity.ann import cosine_pairs_threshold_cells

    t = Tables(spark, sf_dir)
    return cosine_pairs_threshold_cells(
        t.embeddings,
        PAIR_THRESHOLD,
        cache_key=table_stamp(sf_dir, "embeddings"),
    )


def _cos_dims_sql(a: str, b: str, d: int) -> str:
    """DuckDB cosine fold over the FIRST ``d`` dims (prefix slice)."""

    def fold(x: str, y: str) -> str:
        return (
            f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(range(1, {d + 1}), "
            f"j -> CAST({x}[j] AS DOUBLE) * CAST({y}[j] AS DOUBLE))), "
            f"(a, b) -> a + b)"
        )

    return (
        f"({fold(a, b)} / sqrt({fold(a, a)} * {fold(b, b)}))"
    )


_MRL_DIMS = 8
_MRL_CANDIDATES = 50


@query(
    "sim_ann_topk_matryoshka",
    oracle=f"""
        WITH q AS (
            SELECT vec_id AS query_id, embedding AS q_emb
            FROM embeddings WHERE vec_id IN ({_IDS})
        ),
        coarse AS (
            SELECT q.query_id, c.vec_id, q.q_emb, c.embedding,
                   {_cos_dims_sql("q.q_emb", "c.embedding", _MRL_DIMS)}
                     AS ccos
            FROM q CROSS JOIN embeddings c
            WHERE q.query_id <> c.vec_id
        ),
        cand AS (
            SELECT query_id, vec_id, q_emb, embedding
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id ORDER BY ccos DESC, vec_id
                ) AS crn FROM coarse
            ) WHERE crn <= {_MRL_CANDIDATES}
        ),
        exact AS (
            SELECT query_id, vec_id,
                   round({_cos_dims_sql("q_emb", "embedding", 64)}, 6)
                     AS cosine
            FROM cand
        )
        SELECT query_id, vec_id, cosine, rnk
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cosine DESC, vec_id
            ) AS rnk FROM exact
        )
        WHERE rnk <= {TOP_K}
    """,
)
def ann_matryoshka(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage matryoshka cascade (similarity/ann.py
    cosine_topk_matryoshka): an 8-dim prefix-cosine pass ranks the
    whole corpus cheaply, the full 64-dim exact fold runs only on the
    top-50 candidates per query.  Recall vs bruteforce is pinned in
    tests/test_recall_gates.py; the cascade itself is deterministic
    fold arithmetic, hash-checked against the identical two-stage
    DuckDB plan."""
    from ..similarity.ann import cosine_topk_matryoshka

    t = Tables(spark, sf_dir)
    return cosine_topk_matryoshka(
        t.embeddings, QUERY_IDS, TOP_K,
        coarse_dims=_MRL_DIMS, n_candidates=_MRL_CANDIDATES,
    )


# ----------------------------------------------------------- product quant

_PQ_M = 8
_PQ_SUB = 8
_PQ_K = 16
_PQ_ITERS = 1


def _pq_d2(qv: str, cv: str, d: int) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(range(1, {d + 1}), "
        f"j -> ({qv}[j] - {cv}[j]) * ({qv}[j] - {cv}[j]))), "
        f"(a, b) -> a + b)"
    )


def _pq_assign(src_q: str, src_c: str, out: str, d: int) -> str:
    return f"""
        {out} AS (
            SELECT vec_id, cent_id AS cluster FROM (
                SELECT q.vec_id, c.cent_id,
                       row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY {_pq_d2('q.qv', 'c.cv', d)}, c.cent_id
                       ) AS rn
                FROM {src_q} q CROSS JOIN {src_c} c
            ) WHERE rn = 1
        )"""


def _pq_update(src_a: str, src_q: str, out: str, d: int) -> str:
    return f"""
        {out} AS (
            SELECT cluster AS cent_id, list(m ORDER BY dim) AS cv FROM (
                SELECT a.cluster, dim,
                       CAST(sum(q.qv[dim]) // count(*) AS BIGINT) AS m
                FROM {src_a} a JOIN {src_q} q USING (vec_id),
                     unnest(range(1, {d + 1})) AS t(dim)
                GROUP BY a.cluster, dim
            ) GROUP BY cluster
        )"""


def _pq_chain() -> str:
    """CTE chain replicating similarity/pq.py: per-subspace quantized
    Lloyd codebooks, corpus codes, query LUTs, summed ADC distances,
    top-k.  Ends with the final SELECT's source ``ranked``."""
    m, sub, k, iters = _PQ_M, _PQ_SUB, _PQ_K, _PQ_ITERS
    parts = [
        """q AS (
            SELECT vec_id,
                   list_transform(embedding,
                       x -> CAST(floor((CAST(x AS DOUBLE) + 1.0) * 1000000
                                       + 0.5) AS BIGINT)) AS qv
            FROM embeddings
        )""",
        f"""qq AS (
            SELECT vec_id AS query_id, qv FROM q
            WHERE vec_id IN ({_IDS})
        )""",
    ]
    contribs = []
    for j in range(m):
        lo, hi = j * sub + 1, (j + 1) * sub
        parts.append(
            f"q{j} AS (SELECT vec_id, qv[{lo}:{hi}] AS qv FROM q)"
        )
        parts.append(
            f"""c0_{j} AS (
            SELECT cent_id, qv AS cv FROM (
                SELECT qv, min(vec_id) AS cent_id FROM q{j} GROUP BY qv
            ) ORDER BY cent_id LIMIT {k}
        )"""
        )
        for i in range(iters):
            parts.append(
                _pq_assign(f"q{j}", f"c{i}_{j}", f"a{i + 1}_{j}", sub)
            )
            parts.append(
                _pq_update(
                    f"a{i + 1}_{j}", f"q{j}", f"c{i + 1}_{j}", sub
                )
            )
        parts.append(
            _pq_assign(f"q{j}", f"c{iters}_{j}", f"af_{j}", sub)
        )
        parts.append(
            f"""lut_{j} AS (
            SELECT s.query_id, c.cent_id,
                   {_pq_d2('s.qv', 'c.cv', sub)} AS d2q
            FROM (SELECT query_id, qv[{lo}:{hi}] AS qv FROM qq) s
            CROSS JOIN c{iters}_{j} c
        )"""
        )
        contribs.append(
            f"SELECT a.vec_id, l.query_id, l.d2q "
            f"FROM af_{j} a JOIN lut_{j} l ON a.cluster = l.cent_id"
        )
    union = " UNION ALL ".join(contribs)
    parts.append(f"contrib AS ({union})")
    parts.append(
        """scored AS (
            SELECT query_id, vec_id, CAST(sum(d2q) AS BIGINT) AS pq_d2
            FROM contrib WHERE vec_id <> query_id
            GROUP BY 1, 2
        )"""
    )
    parts.append(
        """ranked AS (
            SELECT query_id, vec_id, pq_d2,
                   row_number() OVER (
                       PARTITION BY query_id ORDER BY pq_d2, vec_id
                   ) AS rnk
            FROM scored
        )"""
    )
    return ",\n        ".join(parts)


@query(
    "sim_ann_topk_pq",
    oracle=f"""
        WITH {_pq_chain()}
        SELECT query_id, vec_id, pq_d2, CAST(rnk AS INTEGER) AS rnk
        FROM ranked WHERE rnk <= {TOP_K}
    """,
)
def ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (similarity/pq.py): 8 subspace
    codebooks of 16 integer-Lloyd centroids compress each vector to
    8 codes; query scoring is ADC — M lookup-table probes + an int64
    sum per corpus vector, ONE Arrow map pass, no per-pair vector
    math.  Trained, quantized, and still hash-checked: the oracle
    re-trains the identical codebooks in unrolled CTEs and reproduces
    every pq_d2 bit-for-bit.  Recall floor vs exact quantized-L2 is
    pinned in tests/test_recall_gates.py."""
    from ..similarity.pq import pq_topk

    t = Tables(spark, sf_dir)
    return pq_topk(
        t.embeddings,
        QUERY_IDS,
        TOP_K,
        cache_key=table_stamp(sf_dir, "embeddings"),
    ).withColumn("rnk", F.col("rnk").cast("int"))


# ----------------------------------------------------------------- IVF-PQ

_RES_OFF = 2_000_000  # similarity/pq.py RES_OFFSET


def _ivfpq_chain() -> str:
    """CTE chain replicating similarity/pq.py ivfpq_topk: integer-Lloyd
    coarse cells (the _km_chain), offset residuals, per-subspace
    residual codebooks, probe ranking, per-(query, cell) residual
    LUTs, ADC sums over probed cells only.  Ends with ``ranked``."""
    m, sub, k, iters = _PQ_M, _PQ_SUB, _PQ_K, _PQ_ITERS
    cit = N_IVF_ITERS
    parts = [
        _km_chain(N_CELLS, cit),
        f"""res AS (
            SELECT a.vec_id, a.cluster AS cell,
                   list_transform(range(1, 65),
                       j -> a.qv[j] - c.cv[j] + {_RES_OFF}) AS qv
            FROM afinal a JOIN c{cit} c ON a.cluster = c.cent_id
        )""",
        f"""qq2 AS (
            SELECT vec_id AS query_id, qv FROM q
            WHERE vec_id IN ({_IDS})
        )""",
        f"""probes AS (
            SELECT query_id, cell FROM (
                SELECT qq2.query_id, c.cent_id AS cell,
                       row_number() OVER (
                           PARTITION BY qq2.query_id
                           ORDER BY {_km_d2('qq2.qv', 'c.cv')}, c.cent_id
                       ) AS prn
                FROM qq2 CROSS JOIN c{cit} c
            ) WHERE prn <= {N_PROBE}
        )""",
        f"""qres AS (
            SELECT p.query_id, p.cell,
                   list_transform(range(1, 65),
                       j -> qq2.qv[j] - c.cv[j] + {_RES_OFF}) AS qv
            FROM probes p
            JOIN qq2 USING (query_id)
            JOIN c{cit} c ON p.cell = c.cent_id
        )""",
    ]
    contribs = []
    for j in range(m):
        lo, hi = j * sub + 1, (j + 1) * sub
        parts.append(
            f"r{j} AS (SELECT vec_id, qv[{lo}:{hi}] AS qv FROM res)"
        )
        parts.append(
            f"""rc0_{j} AS (
            SELECT cent_id, qv AS cv FROM (
                SELECT qv, min(vec_id) AS cent_id FROM r{j} GROUP BY qv
            ) ORDER BY cent_id LIMIT {k}
        )"""
        )
        for i in range(iters):
            parts.append(
                _pq_assign(f"r{j}", f"rc{i}_{j}", f"ra{i + 1}_{j}", sub)
            )
            parts.append(
                _pq_update(
                    f"ra{i + 1}_{j}", f"r{j}", f"rc{i + 1}_{j}", sub
                )
            )
        parts.append(
            _pq_assign(f"r{j}", f"rc{iters}_{j}", f"raf_{j}", sub)
        )
        parts.append(
            f"""rlut_{j} AS (
            SELECT s.query_id, s.cell, cb.cent_id,
                   {_pq_d2('s.qv', 'cb.cv', sub)} AS d2q
            FROM (SELECT query_id, cell, qv[{lo}:{hi}] AS qv
                  FROM qres) s
            CROSS JOIN rc{iters}_{j} cb
        )"""
        )
        contribs.append(
            f"SELECT r.vec_id, l.query_id, l.d2q "
            f"FROM raf_{j} a "
            f"JOIN res r USING (vec_id) "
            f"JOIN rlut_{j} l "
            f"  ON l.cell = r.cell AND l.cent_id = a.cluster"
        )
    union = " UNION ALL ".join(contribs)
    parts.append(f"rcontrib AS ({union})")
    parts.append(
        """rscored AS (
            SELECT query_id, vec_id, CAST(sum(d2q) AS BIGINT) AS pq_d2
            FROM rcontrib WHERE vec_id <> query_id
            GROUP BY 1, 2
        )"""
    )
    parts.append(
        """ranked AS (
            SELECT query_id, vec_id, pq_d2,
                   row_number() OVER (
                       PARTITION BY query_id ORDER BY pq_d2, vec_id
                   ) AS rnk
            FROM rscored
        )"""
    )
    return ",\n        ".join(parts)


@query(
    "sim_ann_topk_ivfpq",
    oracle=f"""
        WITH {_ivfpq_chain()}
        SELECT query_id, vec_id, pq_d2, CAST(rnk AS INTEGER) AS rnk
        FROM ranked WHERE rnk <= {TOP_K}
    """,
)
def ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (similarity/pq.py ivfpq_topk) — the faiss billion-vector
    architecture composed from the engine's trained-but-exact parts:
    16 integer-Lloyd coarse cells shortlist n_probe/n_cells of the
    corpus, 8 residual codebooks ADC-score only those rows (M lookup
    probes per touched row, one Arrow map pass, shuffle only at the
    top-k).  Every stage — coarse training, offset residuals,
    residual codebooks, LUT sums — is integer arithmetic, so the
    whole trained double-quantized index hash-matches the oracle's
    unrolled CTE replica bit-for-bit.  Recall floor pinned vs exact
    quantized-L2 in tests/test_recall_gates.py."""
    from ..similarity.pq import ivfpq_topk

    t = Tables(spark, sf_dir)
    return ivfpq_topk(
        t.embeddings, QUERY_IDS, TOP_K,
        n_cells=N_CELLS, n_probe=N_PROBE, cell_iters=N_IVF_ITERS,
        cache_key=table_stamp(sf_dir, "embeddings"),
    ).withColumn("rnk", F.col("rnk").cast("int"))


@query(
    "sim_ann_topk_ivfpq_indexed",
    oracle=REGISTRY["sim_ann_topk_ivfpq"].oracle,
)
def ann_ivfpq_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted IVF-PQ lifecycle (similarity/pq.py IVFPQIndex):
    build = train coarse cells + residual codebooks and materialize
    the code table (~8 bytes/vector, 32× smaller than raw embeddings)
    clustered by cell; query = rank STORED centroids, build residual
    LUTs from STORED books, scan only the probed cells' code files
    (manifest-stats skipping + pushed In filter) and sum M lookups
    per row — embeddings are never read at query time.  Identical
    training ⇒ identical results ⇒ the sim_ann_topk_ivfpq oracle
    applies verbatim (tests/test_ivfpq_index.py pins equality, file
    pruning and rebuild determinism); repeated invocations reuse the
    stored build (_reused_index — deterministic training)."""
    from ..similarity.pq import IVFPQIndex

    t = Tables(spark, sf_dir)
    idx = _reused_index(
        "ivfpq-idx",
        sf_dir,
        f"{N_CELLS}-{N_IVF_ITERS}",
        IVFPQIndex,
        lambda p: IVFPQIndex.build(
            p, t.embeddings, n_cells=N_CELLS, cell_iters=N_IVF_ITERS
        ),
    )
    queries_df = t.embeddings.filter(F.col("vec_id").isin(QUERY_IDS))
    return idx.topk(
        spark, queries_df, TOP_K, n_probe=N_PROBE
    ).withColumn("rnk", F.col("rnk").cast("int"))


@query(
    "sim_ann_topk_prefiltered",
    oracle=f"""
        WITH q AS (
            SELECT vec_id AS query_id, embedding AS q_emb, label
            FROM embeddings WHERE vec_id IN ({_IDS})
        ), scored AS (
            SELECT q.query_id, c.vec_id, round({_COS}, 6) AS cosine
            FROM q JOIN embeddings c
              ON q.label = c.label AND q.query_id <> c.vec_id
        )
        SELECT query_id, vec_id, cosine, rnk
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cosine DESC, vec_id
            ) AS rnk
            FROM scored
        )
        WHERE rnk <= {TOP_K}
    """,
)
def ann_prefiltered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search — top-k cosine among corpus vectors
    sharing the query's label (metadata-constrained ANN, the
    where-clause feature every production vector store exposes), done
    as a PRE-filter: the label predicate joins BEFORE scoring, so the
    result always holds k true neighbors from the allowed subset.
    The tempting alternative — post-filtering an unconstrained top-k —
    silently returns <k (or zero) rows whenever the filter is
    selective, the classic filtered-ANN recall trap; pre-filtering is
    the correct-by-construction form and, in Spark, is FREE: the
    label equi-join replaces the cross join, so the scored frame
    SHRINKS to matching pairs (no NLJ, label-partitioned shuffle).
    At 100 TB with a persisted index, the same predicate pushes into
    the cells scan alongside the In(cell) probe filter."""
    t = Tables(spark, sf_dir)
    corpus = _with_norm(t.embeddings, "vec_id", "c_emb", "c_norm").join(
        t.embeddings.select("vec_id", "label"), "vec_id"
    )
    q = _with_norm(
        t.embeddings.filter(F.col("vec_id").isin(QUERY_IDS)),
        "query_id",
        "q_emb",
        "q_norm",
    ).join(
        t.embeddings.select(
            F.col("vec_id").alias("query_id"), "label"
        ),
        "query_id",
    )
    from pyspark.sql import Window as W

    scored = (
        F.broadcast(q.withColumnRenamed("label", "q_label"))
        .join(corpus, F.col("q_label") == corpus["label"])
        .filter(F.col("query_id") != F.col("vec_id"))
        .withColumn(
            "cosine", _pair_cosine("q_emb", "c_emb", "q_norm", "c_norm")
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", "vec_id", "cosine", "rnk")
    )


MMR_K = 5
MMR_POOL = 50


def _mmr_rounds_sql(k: int) -> str:
    """Unrolled greedy MMR rounds 2..k (the BPE/Lloyd oracle recipe):
    each round excludes everything picked so far, computes every
    remaining pool candidate's max similarity to the picked set, and
    takes the (rel − msim) argmax with vec_id tie-break."""
    cos_ps = sql_cosine_fold("p.emb", "s.emb")
    parts = []
    for r in range(2, k + 1):
        prev = " UNION ALL ".join(
            f"SELECT query_id, vec_id, emb FROM s{i}"
            for i in range(1, r)
        )
        parts.append(f"""
        c{r} AS (
            SELECT p.query_id, p.vec_id, p.emb, p.rel,
                   max(round({cos_ps}, 6)) AS msim
            FROM pool p JOIN ({prev}) s ON p.query_id = s.query_id
            WHERE NOT EXISTS (
                SELECT 1 FROM ({prev}) z
                WHERE z.query_id = p.query_id AND z.vec_id = p.vec_id
            )
            GROUP BY 1, 2, 3, 4
        ),
        s{r} AS (
            SELECT query_id, vec_id, emb, rel FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id
                    ORDER BY rel - msim DESC, vec_id
                ) AS rn FROM c{r}
            ) WHERE rn = 1
        )""")
    return ",".join(parts)


@query(
    "sim_mmr_diverse_topk",
    oracle=f"""
        WITH q AS (
            SELECT vec_id AS query_id, embedding AS q_emb
            FROM embeddings WHERE vec_id IN ({_IDS})
        ),
        pool AS (
            SELECT query_id, vec_id, emb, rel FROM (
                SELECT q.query_id, c.vec_id, c.embedding AS emb,
                       round({_COS}, 6) AS rel,
                       row_number() OVER (
                           PARTITION BY q.query_id
                           ORDER BY round({_COS}, 6) DESC, c.vec_id
                       ) AS prn
                FROM q CROSS JOIN embeddings c
                WHERE q.query_id <> c.vec_id
            ) WHERE prn <= {MMR_POOL}
        ),
        s1 AS (
            SELECT query_id, vec_id, emb, rel FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id ORDER BY rel DESC, vec_id
                ) AS rn FROM pool
            ) WHERE rn = 1
        ),
        {_mmr_rounds_sql(MMR_K)}
        {" UNION ALL ".join(
            f"SELECT query_id, vec_id, rel, CAST({r} AS BIGINT) AS rnk "
            f"FROM s{r}"
            for r in range(1, MMR_K + 1)
        )}
        ORDER BY query_id, rnk
    """,
)
def mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-aware retrieval: 5 MMR picks per query from the
    50-candidate relevance pool (similarity/ann.py mmr_select) — the
    Carbonell-Goldstein greedy that training-data samplers and RAG
    context builders use so k slots aren't spent on k near-copies.
    Exact arithmetic throughout (rounded fold cosines, exact IEEE
    subtraction, vec_id tie-breaks) makes the whole greedy TRAJECTORY
    hash-checkable against the unrolled k-round CTE replica — the
    pick ORDER is verified, not just the pick set."""
    from ..similarity.ann import mmr_select

    t = Tables(spark, sf_dir)
    return mmr_select(t.embeddings, QUERY_IDS, MMR_K, pool_size=MMR_POOL)


NEG_DUP_T = 0.3
NEG_K_HARD = 5
NEG_K_EASY = 5


@query(
    "sim_contrastive_negatives",
    oracle=f"""
        WITH q AS (
            SELECT vec_id AS query_id, embedding AS q_emb
            FROM embeddings WHERE vec_id IN ({_IDS})
        ), scored AS (
            SELECT q.query_id, c.vec_id, round({_COS}, 6) AS cosine
            FROM q CROSS JOIN embeddings c
            WHERE q.query_id <> c.vec_id
        ), nonpos AS (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cosine DESC, vec_id
            ) AS r_hard
            FROM scored WHERE cosine < {NEG_DUP_T}
        ), easy AS (
            SELECT query_id, vec_id, cosine, row_number() OVER (
                PARTITION BY query_id
                ORDER BY md5(CAST(query_id AS VARCHAR) || ':'
                             || CAST(vec_id AS VARCHAR)), vec_id
            ) AS r_rand
            FROM nonpos WHERE r_hard > {NEG_K_HARD}
        )
        SELECT query_id, vec_id, cosine,
               'hard' AS stratum, CAST(r_hard AS BIGINT) AS rnk
        FROM nonpos WHERE r_hard <= {NEG_K_HARD}
        UNION ALL
        SELECT query_id, vec_id, cosine,
               'easy' AS stratum, CAST(r_rand AS BIGINT) AS rnk
        FROM easy WHERE r_rand <= {NEG_K_EASY}
        ORDER BY query_id, stratum, rnk
    """,
)
def contrastive_negs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified negative mining for contrastive training
    (similarity/ann.py contrastive_negatives): per query, the 5
    hardest non-positive candidates (highest cosine BELOW the 0.3
    near-dup threshold — anything above it is a positive and labeling
    it a negative poisons the loss) plus 5 md5-hash-sampled easy
    negatives from the remaining pool, disjoint by construction.
    Deterministic end to end: fold cosines, md5 addressing — the
    sampler itself is hash-checked, not just the scorer."""
    from ..similarity.ann import contrastive_negatives

    t = Tables(spark, sf_dir)
    return contrastive_negatives(
        t.embeddings, QUERY_IDS,
        dup_threshold=NEG_DUP_T, k_hard=NEG_K_HARD, k_easy=NEG_K_EASY,
    )


NEG_POOL = 64


@query(
    "sim_contrastive_negatives_indexed",
    oracle=f"""
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
        scored AS (
            SELECT qc.query_id, v.vec_id,
                   round({sql_cosine_fold('qc.q_emb', 'v.embedding')}, 6)
                     AS cosine
            FROM qcells qc JOIN cells v ON qc.cell = v.cell
            WHERE qc.query_id <> v.vec_id
        ),
        nonpos AS (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cosine DESC, vec_id
            ) AS r_hard
            FROM scored WHERE cosine < {NEG_DUP_T}
        ),
        hard AS (
            SELECT query_id, vec_id, cosine,
                   'hard' AS stratum, CAST(r_hard AS BIGINT) AS rnk
            FROM nonpos WHERE r_hard <= {NEG_K_HARD}
        ),
        pool AS (
            SELECT vec_id, embedding FROM embeddings
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
            LIMIT {NEG_POOL}
        ),
        pscored AS (
            SELECT q.query_id, c.vec_id, round({_COS}, 6) AS cosine
            FROM qq q CROSS JOIN pool c
            WHERE q.query_id <> c.vec_id
        ),
        easy AS (
            SELECT query_id, vec_id, cosine, row_number() OVER (
                PARTITION BY query_id
                ORDER BY md5(CAST(query_id AS VARCHAR) || ':'
                             || CAST(vec_id AS VARCHAR)), vec_id
            ) AS r_rand
            FROM pscored ps
            WHERE ps.cosine < {NEG_DUP_T}
              AND NOT EXISTS (
                  SELECT 1 FROM hard h
                  WHERE h.query_id = ps.query_id
                    AND h.vec_id = ps.vec_id
              )
        )
        SELECT query_id, vec_id, cosine, stratum, rnk FROM hard
        UNION ALL
        SELECT query_id, vec_id, cosine,
               'easy' AS stratum, CAST(r_rand AS BIGINT) AS rnk
        FROM easy WHERE r_rand <= {NEG_K_EASY}
        ORDER BY query_id, stratum, rnk
    """,
)
def contrastive_negs_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-served negative mining (similarity/index.py
    IVFIndex.negatives) — the 100 TB shape for
    ``sim_contrastive_negatives``: hard negatives come from the
    persisted IVF index's probed cells (scan n_probe/n_cells of the
    corpus over cell-pruned files, not a full broadcast×corpus
    product), easy negatives from a shared 64-vector md5-sampled pool
    selected ONCE from the stored cells table (query-independent — no
    per-query corpus pass at all).  Training, probes, fold cosines and
    md5 addressing are all deterministic, so the entire mined set is
    hash-checked against the unrolled-CTE replica; the full-scan form
    stays registered as the recall baseline, with a pinned hard-set
    recall floor in tests/test_recall_gates.py.  Shares the reused
    sim_ann_topk_ivf_indexed build (same training parameters — one
    stored index serves both the top-k and the mining consumers, as
    it would in production)."""
    t = Tables(spark, sf_dir)
    idx = _ivf_index_for(spark, sf_dir)
    queries_df = t.embeddings.filter(F.col("vec_id").isin(QUERY_IDS))
    return idx.negatives(
        spark,
        queries_df,
        dup_threshold=NEG_DUP_T,
        k_hard=NEG_K_HARD,
        k_easy=NEG_K_EASY,
        n_probe=N_PROBE,
        pool_size=NEG_POOL,
        cache_token=(
            table_stamp(sf_dir, "embeddings"), tuple(QUERY_IDS)
        ),
    )
