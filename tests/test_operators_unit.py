"""Per-operator unit tests on tiny literal DataFrames (SURVEY.md §5
item 3): boundary semantics the sf-level oracle diff can't isolate —
as-of at equal timestamps / missing matches, dedup kernels
on crafted near-duplicates, revenue expression edges.
"""

from __future__ import annotations

from datetime import datetime

import pytest

from pyspark.sql import functions as F

from etl_tpch_spark.dedup.operators import (
    exact_duplicates,
    jaccard_pairs_brute,
    minhash_lsh_pairs,
    simhash_pairs,
    word_shingles,
)
from etl_tpch_spark.functions.agg import rev_dec
from etl_tpch_spark.operators.joins import asof_join, range_join


def _ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


# ---------------------------------------------------------------- as-of


@pytest.fixture(scope="module")
def quotes(spark):
    return spark.createDataFrame(
        [
            (1, _ts("2026-01-01T10:00:00"), 100.0),
            (1, _ts("2026-01-01T10:05:00"), 101.0),
            (2, _ts("2026-01-01T10:03:00"), 50.0),
        ],
        "key int, qts timestamp, price double",
    )


def test_asof_basic_and_equal_ts(spark, quotes):
    trades = spark.createDataFrame(
        [
            (1, _ts("2026-01-01T10:04:59")),  # before 2nd quote → 100
            (1, _ts("2026-01-01T10:05:00")),  # equal ts → inclusive, 101
            (2, _ts("2026-01-01T10:02:59")),  # no quote yet → NULL
            (3, _ts("2026-01-01T10:10:00")),  # key never quoted → NULL
        ],
        "key int, tts timestamp",
    )
    out = {
        (r.key, r.tts): r.asof_price
        for r in asof_join(
            trades, quotes, "key", "tts", "qts", ["price"]
        ).collect()
    }
    assert out[(1, _ts("2026-01-01T10:04:59"))] == 100.0
    assert out[(1, _ts("2026-01-01T10:05:00"))] == 101.0  # <= not <
    assert out[(2, _ts("2026-01-01T10:02:59"))] is None
    assert out[(3, _ts("2026-01-01T10:10:00"))] is None


def test_asof_preserves_left_rowcount(spark, quotes):
    trades = spark.createDataFrame(
        [(1, _ts("2026-01-01T11:00:00"))] * 5, "key int, tts timestamp"
    )
    assert (
        asof_join(trades, quotes, "key", "tts", "qts", ["price"]).count() == 5
    )


def test_range_join_bounds(spark):
    left = spark.createDataFrame(
        [(1, 10), (1, 20), (2, 10)], "k int, lo int"
    )
    right = spark.createDataFrame(
        [(1, 15), (1, 25), (2, 40)], "k int, v int"
    )
    cond = (right.v > left.lo) & (right.v <= left.lo + 10)
    got = sorted(
        (r.lo, r.v)
        for r in range_join(left, right, "k", cond).select(left.lo, right.v).collect()
    )
    assert got == [(10, 15), (20, 25)]  # (2,40) out of range


# ---------------------------------------------------------------- dedup


@pytest.fixture(scope="module")
def docs(spark):
    base = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "into the deep green forest tonight"
    )
    near = base.replace("tonight", "today")  # one-token change
    far = "completely different text about spark query engines and scale"
    return spark.createDataFrame(
        [(1, base), (2, base), (3, near), (4, far)],
        "doc_id long, text string",
    )


def test_exact_duplicates(docs):
    groups = exact_duplicates(docs).collect()
    assert len(groups) == 3  # base×2 collapse to one digest
    dups = [g for g in groups if g.n_copies > 1]
    assert len(dups) == 1
    assert dups[0].canonical_id == 1 and dups[0].n_copies == 2


def test_jaccard_brute_finds_near_pair(docs):
    pairs = {
        (r.doc_a, r.doc_b)
        for r in jaccard_pairs_brute(docs, 0.5).collect()
    }
    assert (1, 2) in pairs  # identical
    assert (1, 3) in pairs and (2, 3) in pairs  # near
    assert not any(4 in p for p in pairs)


def test_minhash_lsh_recalls_exact_dup(docs):
    pairs = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(docs, 0.5).collect()
    }
    # identical docs collide in every band — guaranteed recall
    assert (1, 2) in pairs
    assert not any(4 in p for p in pairs)


@pytest.mark.slow  # r9 tier rebalance (VERDICT r8 #5): >10 s equality sweep
def test_simhash_banding_equals_bruteforce(spark, sf_dir):
    """The pigeonhole guarantee, tested directly: for several Hamming
    budgets (uneven band widths included) the banded pair operator must
    equal an exact all-pairs Hamming scan over the same signatures —
    zero false negatives from the band split, zero junk survivors."""
    from itertools import combinations

    from etl_tpch_spark.catalog import load_table
    from etl_tpch_spark.dedup.operators import simhash_signatures

    sample = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 60
    )
    sigs = {
        r.doc_id: r.simhash
        for r in simhash_signatures(sample).collect()
    }
    for h in (0, 1, 3, 7):  # 60 bits / (h+1) bands: widths 60,30,15,8|7
        want = {
            (a, b)
            for a, b in combinations(sorted(sigs), 2)
            if bin(sigs[a] ^ sigs[b]).count("1") <= h
        }
        got = {
            (r.doc_a, r.doc_b)
            for r in simhash_pairs(sample, h).collect()
        }
        assert got == want, f"max_hamming={h}"


def test_simhash_near_pair(docs):
    pairs = {
        (r.doc_a, r.doc_b) for r in simhash_pairs(docs, 3).collect()
    }
    assert (1, 2) in pairs  # hamming 0
    assert not any(4 in p for p in pairs)


def test_word_shingles_short_text(spark):
    df = spark.createDataFrame([(1, "one two")], "doc_id long, text string")
    out = df.select(word_shingles(F.col("text"), 3).alias("sh")).first()
    assert out.sh == []  # shorter than n → empty set, not error


# ------------------------------------------------------------- scalars


def test_revenue_expression_edges(spark):
    df = spark.createDataFrame(
        [(100.0, 0.0), (100.0, 1.0), (0.0, 0.5)],
        "l_extendedprice double, l_discount double",
    )
    got = [r.rev for r in df.select(rev_dec().alias("rev")).collect()]
    assert got == [100.0, 0.0, 0.0]


# -------------------------------------------------------- components


@pytest.mark.slow  # r9 tier rebalance (VERDICT r8 #5): >10 s equality sweep
def test_connected_components_chain_and_islands(spark):
    """Chain 1-2-3 + pair (10,11) + isolated via edge (20,20)? → chain
    collapses to min 1, pair to 10; transitivity across hops."""
    from etl_tpch_spark.dedup.clusters import (
        canonical_documents,
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "doc_a long, doc_b long"
    )
    got = {
        r.doc_id: r.cluster_id for r in connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}

    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in (1, 2, 3, 4, 10, 11, 99)],
        "doc_id long, text string",
    )
    kept = sorted(
        r.doc_id for r in canonical_documents(docs, pairs).collect()
    )
    assert kept == [1, 10, 99]  # canonicals + untouched singleton


# ---------------------------------------------------------- text fns


def test_text_function_edges(spark):
    """tokens/stopword_count/fingerprint on edge inputs: empty string,
    repeated whitespace, unicode — no crashes, sensible values."""
    from etl_tpch_spark.functions.text import (
        STOPWORDS,
        fingerprint,
        stopword_count,
        tokens,
    )

    df = spark.createDataFrame(
        [
            (1, ""),
            (2, "   "),
            (3, "the the THE of and"),
            (4, "naïve café 旅行 emoji \U0001F600 ok"),
        ],
        "id long, text string",
    )
    toks = tokens(F.col("text"))
    out = {
        r.id: (r.n, r.sw, r.fp)
        for r in df.select(
            "id",
            F.size(toks).alias("n"),
            stopword_count(toks, STOPWORDS["en"]).alias("sw"),
            fingerprint(toks).alias("fp"),
        ).collect()
    }
    assert out[1][0] == 0 and out[2][0] == 0  # empty/space → no tokens
    assert out[3][0] == 5
    assert out[3][1] == 4  # case-sensitive hits: the, the, of, and (THE excluded)
    assert out[4][0] == 6  # unicode tokens intact
    assert isinstance(out[1][2], int)  # fingerprint total on empty


def test_cjk_detection(spark):
    from etl_tpch_spark.functions.text import CJK_PATTERN

    df = spark.createDataFrame(
        [(1, "hello world"), (2, "你好 世界"), (3, "mixed 漢字 text")],
        "id long, text string",
    )
    got = {
        r.id: r.cjk
        for r in df.select(
            "id", F.col("text").rlike(CJK_PATTERN).alias("cjk")
        ).collect()
    }
    assert got == {1: False, 2: True, 3: True}


def test_approx_count_distinct_error_bound(spark, sf_dir):
    """approx_count_distinct (HyperLogLog++) is the constant-memory
    scale path for NDV; engine-specific sketch values keep it out of
    the oracle gate (COVERAGE.md), so pin its accuracy here: default
    rsd=5% must land within 3σ (15%) of exact on real key columns."""
    from etl_tpch_spark.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem")
    for col in ["l_orderkey", "l_partkey"]:
        exact, approx = (
            li.selectExpr(
                f"count(distinct {col})", f"approx_count_distinct({col})"
            )
            .first()
        )
        assert abs(approx - exact) / exact < 0.15, (col, exact, approx)


@pytest.mark.slow  # r9 tier rebalance (VERDICT r8 #5): >10 s equality sweep
def test_kmeans_numpy_equals_expression_form(spark, sf_dir):
    """The vectorized Lloyd kernel and the pure-Catalyst fold form must
    be bit-identical (integer arithmetic both ways — the property that
    makes quantized k-means reproducible at cluster scale)."""
    from etl_tpch_spark.catalog import load_table
    from etl_tpch_spark.similarity.kmeans import kmeans_assignments

    emb = load_table(spark, sf_dir, "embeddings")
    a = kmeans_assignments(emb, use_numpy=True)
    b = kmeans_assignments(emb, use_numpy=False)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_ivf_trained_recall_vs_bruteforce(spark, sf_dir):
    """The trained-centroid IVF index must keep high recall against the
    exact scan at the registered probe budget (4/16 cells — measured
    0.84 on the synthetic corpus; pinned at ≥0.7 so a regression in
    training or probe ranking fails loudly while data-noise jitter
    doesn't)."""
    from etl_tpch_spark.catalog import load_table
    from etl_tpch_spark.queries.similarity import (
        N_CELLS,
        N_IVF_ITERS,
        N_PROBE,
        QUERY_IDS,
        TOP_K,
    )
    from etl_tpch_spark.similarity.ann import (
        cosine_topk_bruteforce,
        cosine_topk_ivf,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    brute = {
        (r.query_id, r.vec_id)
        for r in cosine_topk_bruteforce(emb, QUERY_IDS, TOP_K).collect()
    }
    ivf = {
        (r.query_id, r.vec_id)
        for r in cosine_topk_ivf(
            emb, QUERY_IDS, TOP_K,
            n_cells=N_CELLS, n_probe=N_PROBE, iters=N_IVF_ITERS,
        ).collect()
    }
    assert len(brute & ivf) / len(brute) >= 0.7


def test_incremental_dedup_equals_full_minus_corpus_pairs(spark, sf_dir):
    """The daily-crawl contract: incremental LSH over (corpus, new)
    must produce exactly the full batch pair set minus corpus-internal
    pairs — no pair lost at the boundary, none invented."""
    from pyspark.sql import functions as F

    from etl_tpch_spark.catalog import load_table
    from etl_tpch_spark.dedup.operators import (
        minhash_lsh_pairs,
        minhash_lsh_pairs_incremental,
    )

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    inc = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in minhash_lsh_pairs_incremental(corpus, new, 0.5).collect()
    }
    full = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in minhash_lsh_pairs(docs, 0.5).collect()
    }
    want = {p for p in full if p[0] % 2 == 1 or p[1] % 2 == 1}
    assert inc == want
    assert inc  # non-vacuous: the fixture has cross-parity near-dups


def test_xgboost_scorer_gate(spark, sf_dir):
    """Real-model inference path: without xgboost the entry point
    falls back to functions/gbtree.py's pure-numpy traversal of the
    same JSON file (scores pinned to the driver-side parser here);
    with xgboost installed it must score via Booster.predict in the
    same pandas-UDF shape."""
    import numpy as np

    from etl_tpch_spark.functions.inference import (
        xgboost_available,
        xgboost_scorer_udf,
    )

    if not xgboost_available():
        from etl_tpch_spark.catalog import load_table
        from etl_tpch_spark.functions.gbtree import demo_model

        path = "/tmp/_gbtree_fallback.json"
        with open(path, "w") as f:
            f.write(demo_model().to_json())
        part = load_table(spark, sf_dir, "part").selectExpr(
            "p_retailprice AS a", "CAST(p_size AS DOUBLE) AS b"
        )
        got = (
            part.withColumn("score", xgboost_scorer_udf(path, ["a", "b"]))
            .orderBy("a", "b")
            .toPandas()
        )
        X = np.column_stack([got["a"].to_numpy(), got["b"].to_numpy()])
        np.testing.assert_array_equal(
            got["score"].to_numpy(), demo_model().predict(X)
        )
        return
    # installed deployments: smoke the UDF against a trivial booster
    import numpy as np
    import xgboost as xgb

    from etl_tpch_spark.catalog import load_table

    X = np.array([[1.0, 2.0], [3.0, 4.0]])
    booster = xgb.train(
        {"objective": "binary:logistic"}, xgb.DMatrix(X, label=[0, 1]), 2
    )
    path = "/tmp/_xgb_smoke.json"
    booster.save_model(path)
    df = load_table(spark, sf_dir, "supplier").selectExpr(
        "CAST(s_suppkey AS DOUBLE) AS a", "CAST(s_acctbal AS DOUBLE) AS b"
    )
    scored = df.withColumn("score", xgboost_scorer_udf(path, ["a", "b"]))
    assert scored.filter("score < 0 OR score > 1").count() == 0


def test_approx_percentile_error_bound(spark, sf_dir):
    """approx_percentile (t-digest-style sketch) is the one-pass
    mergeable quantile path at scale; pin its accuracy against the
    exact percentile (rank error ≤ accuracy parameter ⇒ value drift
    small on this distribution)."""
    from etl_tpch_spark.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem")
    exact, approx = li.selectExpr(
        "percentile(l_extendedprice, 0.5)",
        "approx_percentile(l_extendedprice, 0.5, 1000)",
    ).first()
    assert abs(approx - exact) / exact < 0.05, (exact, approx)
