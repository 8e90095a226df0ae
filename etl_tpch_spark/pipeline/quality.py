"""Data-quality expectations: declarative constraint checks over
tables, each one scan-shaped and cheap enough to run per ingest tick.

The reference trusts dbgen's output end to end — no null checks, no key
checks, nothing (its only "validation" is the dashboard waiting for
result files, dashboard.py:24-32).  A production lakehouse gates every
ingest on expectations (Delta Live Tables / Great Expectations shape):
violations are *counted and reported*, and the caller decides whether
to fail the pipeline, quarantine, or alert.

Every check returns a DataFrame of ``(check_name, n_violations,
passed)`` rows, so a suite is a unionByName and the report is itself a
DataFrame to store/alert on.  A union is not one pass: Spark plans each
branch's scan and aggregate on its own, so a suite of n single-table
checks scans the table n times.  :func:`check_key` is the one-pass
form of the key checks a tick gate runs on a fact table: the nulls of
the key, the nulls of other columns and the duplicated keys, all from
one scan and one groupBy on the key.  At 100 TB each check is a scan +
partial agg — no shuffles except the key checks (groupBy / anti join
on the key)."""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _report(name: str, n_violations: Column) -> Column:
    return F.struct(
        F.lit(name).alias("check_name"),
        n_violations.cast("long").alias("n_violations"),
        (n_violations == 0).alias("passed"),
    )


def check_not_null(df: DataFrame, col: str) -> DataFrame:
    """Violations = rows where ``col`` is NULL."""
    return df.agg(
        _report(
            f"not_null:{col}",
            F.count(F.lit(1)) - F.count(col),
        ).alias("r")
    ).select("r.*")


def check_unique(df: DataFrame, col: str) -> DataFrame:
    """Violations = number of key values held by more than one row."""
    dups = (
        df.groupBy(col)
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > 1)
    )
    return dups.agg(
        _report(f"unique:{col}", F.count(F.lit(1))).alias("r")
    ).select("r.*")


def check_key(df: DataFrame, key: str, not_null: str) -> DataFrame:
    """``not_null:<key>``, ``not_null:<not_null>`` and ``unique:<key>``
    in one pass: one scan, a groupBy on ``key`` that counts the rows
    and the non-null ``not_null`` values of each key, then one global
    aggregate over those groups.  The counts equal
    :func:`check_not_null` and :func:`check_unique` row for row: the
    null keys form one group, so several of them are also one
    duplicated key, as in :func:`check_unique`'s groupBy."""
    n = F.col("__n")
    total = lambda v: F.coalesce(F.sum(v), F.lit(0))  # noqa: E731
    return (
        df.groupBy(key)
        .agg(F.count(F.lit(1)).alias("__n"), F.count(not_null).alias("__nn"))
        .agg(
            _report(f"not_null:{key}", total(F.when(F.col(key).isNull(), n)))
            .alias("r0"),
            _report(f"not_null:{not_null}", total(n - F.col("__nn")))
            .alias("r1"),
            _report(f"unique:{key}", F.count(F.when(n > 1, 1))).alias("r2"),
        )
        .select(F.explode(F.array("r0", "r1", "r2")).alias("r"))
        .select("r.*")
    )


def check_in_range(df: DataFrame, col: str, lo: float, hi: float) -> DataFrame:
    """Violations = non-null values outside [lo, hi]."""
    out = F.col(col).isNotNull() & ~F.col(col).between(lo, hi)
    return df.agg(
        _report(
            f"in_range:{col}[{lo},{hi}]",
            F.count(F.when(out, 1)),
        ).alias("r")
    ).select("r.*")


def check_accepted_values(
    df: DataFrame, col: str, values: list[str]
) -> DataFrame:
    """Violations = non-null values outside the accepted set."""
    bad = F.col(col).isNotNull() & ~F.col(col).isin(values)
    return df.agg(
        _report(
            f"accepted:{col}",
            F.count(F.when(bad, 1)),
        ).alias("r")
    ).select("r.*")


def check_foreign_key(
    child: DataFrame, col: str, parent: DataFrame, parent_col: str
) -> DataFrame:
    """Violations = child rows whose key has no parent (anti join —
    the referential-integrity check; broadcast the parent key set when
    it is dimension-sized)."""
    orphans = child.select(F.col(col)).join(
        parent.select(F.col(parent_col).alias(col)), col, "left_anti"
    )
    return orphans.agg(
        _report(f"fk:{col}", F.count(F.lit(1))).alias("r")
    ).select("r.*")


def run_expectations(checks: list[DataFrame]) -> DataFrame:
    """Union a suite of checks into one report DataFrame."""
    return reduce(lambda a, b: a.unionByName(b), checks)


def assert_expectations(checks: list[DataFrame]) -> None:
    """Gate form: raise if any expectation fails (the fail-the-
    pipeline policy; callers wanting quarantine/alert read the report
    instead)."""
    failed = [
        r.check_name
        for r in run_expectations(checks).collect()
        if not r.passed
    ]
    if failed:
        raise AssertionError(f"expectations failed: {failed}")
