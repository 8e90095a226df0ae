"""Empty-input robustness: every core operator family must return an
empty (or correctly-shaped) result on zero rows — not crash.  At scale
empty inputs are routine (a new partition, a filtered-out day, the
first tick of a pipeline)."""

from __future__ import annotations

from pyspark.sql import types as T

from etl_tpch_spark.dedup.clusters import connected_components
from etl_tpch_spark.dedup.operators import (
    exact_duplicates,
    minhash_lsh_pairs,
    simhash_pairs,
)
from etl_tpch_spark.operators.joins import asof_join
from etl_tpch_spark.pipeline.quality import check_unique, run_expectations
from etl_tpch_spark.pipeline.stats import column_profile
from etl_tpch_spark.similarity.ann import (
    cosine_pairs_threshold,
    quantized_cosine_pairs,
)

DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)
EMB_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ]
)


def _empty(spark, schema):
    # one partition, not defaultParallelism(32): an empty all-pairs
    # cross join otherwise schedules 32×32 ≈ 1k empty tasks (~17 s of
    # pure scheduling for a 0-row result — measured round 7)
    return spark.createDataFrame([], schema).coalesce(1)


def test_dedup_operators_on_empty_corpus(spark):
    docs = _empty(spark, DOCS_SCHEMA)
    assert exact_duplicates(docs).count() == 0
    assert minhash_lsh_pairs(docs, 0.5).count() == 0
    assert simhash_pairs(docs, 8).count() == 0


def test_similarity_on_empty_corpus(spark):
    emb = _empty(spark, EMB_SCHEMA)
    assert cosine_pairs_threshold(emb, 0.4).count() == 0
    assert quantized_cosine_pairs(emb, 0.4).count() == 0


def test_connected_components_on_empty_edges(spark):
    pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    assert connected_components(pairs).count() == 0


def test_quality_checks_on_empty_table(spark):
    df = _empty(spark, DOCS_SCHEMA)
    report = run_expectations([check_unique(df, "doc_id")]).collect()
    assert len(report) == 1 and report[0].passed


def test_profile_on_empty_table(spark):
    df = _empty(spark, DOCS_SCHEMA)
    row = column_profile(df, ["doc_id"]).first()
    assert row.n_rows == 0 and row.n_not_null == 0 and row.ndv == 0


def test_asof_join_empty_sides(spark):
    left = spark.createDataFrame([], "user_id long, ts timestamp, x long")
    right = spark.createDataFrame([], "user_id long, ts timestamp, y long")
    out = asof_join(
        left, right, on="user_id", left_ts="ts", right_ts="ts",
        right_value_cols=["y"],
    )
    assert out.count() == 0


def test_single_document_corpus(spark):
    docs = spark.createDataFrame([(1, "only one doc here")], DOCS_SCHEMA)
    assert exact_duplicates(docs).count() == 1
    assert minhash_lsh_pairs(docs, 0.5).count() == 0  # no pair with itself
