"""Column-profiling query registration (pipeline/stats.py surface).

The profile IS the statistics payload ANALYZE computes — registering it
as a hash-checked query proves the stats the optimizer would consume
are exactly right, not just present.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import Tables
from ..pipeline.stats import column_profile
from ..registry import query

_COLS = ["o_orderkey", "o_custkey", "o_totalprice"]


def _one(col: str) -> str:
    return f"""
        SELECT '{col}' AS "column",
               CAST(count(*) AS BIGINT)          AS n_rows,
               CAST(count({col}) AS BIGINT)      AS n_not_null,
               CAST(min({col}) AS DOUBLE)        AS min_value,
               CAST(max({col}) AS DOUBLE)        AS max_value,
               CAST(count(DISTINCT {col}) AS BIGINT) AS ndv
        FROM orders"""


@query(
    "profile_orders_columns",
    oracle=" UNION ALL ".join(_one(c) for c in _COLS),
)
def profile_orders_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling in ONE scan (pipeline/stats.py column_profile):
    count/nulls/min/max/exact-NDV per column, unpivoted from a single
    aggregate row with stack().  The same numbers ANALYZE TABLE ... FOR
    COLUMNS feeds the CBO; the oracle recomputes them per column."""
    t = Tables(spark, sf_dir)
    return column_profile(t.orders, _COLS)


@query(
    "quality_expectations",
    oracle="""
        SELECT 'not_null:o_custkey' AS check_name,
               CAST((SELECT count(*) FROM orders WHERE o_custkey IS NULL)
                    AS BIGINT) AS n_violations,
               (SELECT count(*) FROM orders WHERE o_custkey IS NULL) = 0
                 AS passed
        UNION ALL
        SELECT 'unique:o_orderkey',
               CAST((SELECT count(*) FROM (
                   SELECT o_orderkey FROM orders
                   GROUP BY o_orderkey HAVING count(*) > 1)) AS BIGINT),
               (SELECT count(*) FROM (
                   SELECT o_orderkey FROM orders
                   GROUP BY o_orderkey HAVING count(*) > 1)) = 0
        UNION ALL
        SELECT 'in_range:l_quantity[1.0,30.0]',
               CAST((SELECT count(*) FROM lineitem
                     WHERE l_quantity IS NOT NULL
                       AND l_quantity NOT BETWEEN 1 AND 30) AS BIGINT),
               (SELECT count(*) FROM lineitem
                WHERE l_quantity IS NOT NULL
                  AND l_quantity NOT BETWEEN 1 AND 30) = 0
        UNION ALL
        SELECT 'accepted:l_returnflag',
               CAST((SELECT count(*) FROM lineitem
                     WHERE l_returnflag IS NOT NULL
                       AND l_returnflag NOT IN ('A', 'N', 'R')) AS BIGINT),
               (SELECT count(*) FROM lineitem
                WHERE l_returnflag IS NOT NULL
                  AND l_returnflag NOT IN ('A', 'N', 'R')) = 0
        UNION ALL
        SELECT 'fk:l_orderkey',
               CAST((SELECT count(*) FROM lineitem l
                     WHERE NOT EXISTS (SELECT 1 FROM orders o
                                       WHERE o.o_orderkey = l.l_orderkey))
                    AS BIGINT),
               (SELECT count(*) FROM lineitem l
                WHERE NOT EXISTS (SELECT 1 FROM orders o
                                  WHERE o.o_orderkey = l.l_orderkey)) = 0
    """,
)
def quality_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectation suite (pipeline/quality.py) over the
    fact tables: null / uniqueness / range / accepted-set / referential
    -integrity checks, unioned into one report.  The range check on
    l_quantity is deliberately tighter than the data (real violations
    reported), the rest hold — proving both outcomes flow through.
    The two orders checks come from the tick gate's one-pass
    ``check_key``, so the oracle also checks that form."""
    from ..pipeline.quality import (
        check_accepted_values,
        check_foreign_key,
        check_in_range,
        check_key,
        run_expectations,
    )

    t = Tables(spark, sf_dir)
    return run_expectations(
        [
            check_key(t.orders, "o_orderkey", "o_custkey")
            .filter(F.col("check_name") != "not_null:o_orderkey"),
            check_in_range(t.lineitem, "l_quantity", 1.0, 30.0),
            check_accepted_values(t.lineitem, "l_returnflag", ["A", "N", "R"]),
            check_foreign_key(
                t.lineitem, "l_orderkey", t.orders, "o_orderkey"
            ),
        ]
    )
