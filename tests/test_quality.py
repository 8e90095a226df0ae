"""Expectation-gate tests (pipeline/quality.py): the assert form must
pass on clean data and raise naming exactly the failed checks."""

from __future__ import annotations

import pytest

from etl_tpch_spark.pipeline.quality import (
    assert_expectations,
    check_foreign_key,
    check_key,
    check_not_null,
    check_unique,
    run_expectations,
)


@pytest.fixture()
def dirty(spark):
    parent = spark.createDataFrame([(1,), (2,)], "id long")
    child = spark.createDataFrame(
        [(1, 1), (1, 2), (2, 99), (3, None)],
        "k long, parent_id long",
    )
    return parent, child


def test_report_counts_violations(spark, dirty):
    parent, child = dirty
    report = {
        r.check_name: r
        for r in run_expectations(
            [
                check_not_null(child, "parent_id"),  # 1 null
                check_unique(child, "k"),  # k=1 twice → 1 dup key
                check_foreign_key(child, "parent_id", parent, "id"),
            ]
        ).collect()
    }
    assert report["not_null:parent_id"].n_violations == 1
    assert report["unique:k"].n_violations == 1
    # orphans: parent_id=99 and NULL (null keys never match a parent)
    assert report["fk:parent_id"].n_violations == 2
    assert not any(r.passed for r in report.values())


def test_assert_gate_passes_and_fails(spark, dirty):
    parent, child = dirty
    assert_expectations([check_not_null(child, "k")])  # clean column
    with pytest.raises(AssertionError, match="unique:k"):
        assert_expectations([check_unique(child, "k")])


@pytest.mark.parametrize("rows", ["dirty", "empty"])
def test_check_key_equals_the_three_checks(spark, rows):
    """The one-pass key gate reports what the three separate checks
    report — names, order, counts and ``passed`` — on a frame with two
    null keys (so also a duplicated null key), a duplicated key and
    null ``o_custkey`` values, and on an empty frame."""
    df = spark.createDataFrame(
        [("a", 1), ("a", None), ("b", 2), (None, 3), (None, None),
         ("c", None), ("d", 4)],
        "o_orderkey string, o_custkey long",
    )
    if rows == "empty":
        df = df.limit(0)
    got = check_key(df, "o_orderkey", "o_custkey").collect()
    want = run_expectations([
        check_not_null(df, "o_orderkey"),
        check_not_null(df, "o_custkey"),
        check_unique(df, "o_orderkey"),
    ]).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    counts = {r.check_name: r.n_violations for r in got}
    assert counts == (
        {"not_null:o_orderkey": 2, "not_null:o_custkey": 3,
         "unique:o_orderkey": 2}
        if rows == "dirty" else
        {"not_null:o_orderkey": 0, "not_null:o_custkey": 0,
         "unique:o_orderkey": 0}
    )
