"""Flagship query: "unshipped orders by revenue" (TPC-H Q3 variant).

Reference semantics (pipeline/reduce.py:24-78): for one market segment,
find orders placed before a cutoff whose lineitems ship after it, rank by
revenue = sum(l_extendedprice * (1 - l_discount)), keep top 50.  The
reference loops the whole query over 5 segments (reduce.py:81-86); the
Spark-idiomatic single-pass window form lives in
:func:`top_unshipped_per_segment`.

Adaptations for driver testdata (FIXTURES.md gotchas): timestamp columns
keep classic names (``o_orderdate``/``l_shipdate``), keys are int64, and
``o_shippriority`` doesn't exist → group by ``o_orderpriority``.  The
cutoff is an explicit parameter (reference used ``pd.Timestamp.now()``,
reduce.py:56-58 — nondeterministic, so the engine takes it as an arg).

Scale notes (100 TB): customer is a dimension → broadcast-hash join, no
shuffle of the fact side on c_custkey.  orders⋈lineitem is fact⋈fact →
shuffle (sort-merge or AQE-chosen); both sides are pre-filtered before
the join so the shuffle carries only matching rows — Catalyst pushes the
date predicates into the parquet scans (check: PushedFilters in
.explain).  Top-50 uses TakeOrderedAndProject: per-partition heaps, no
global sort materialization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..catalog import Tables
from ..functions.agg import dsum, rev_dec
from ..registry import query

CUTOFF = "1998-01-01 00:00:00"
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")


def unshipped_orders_by_revenue(
    spark: SparkSession,
    sf_dir: str,
    segment: str = "BUILDING",
    cutoff: str = CUTOFF,
    k: int = 50,
) -> DataFrame:
    """One-segment flagship (reference reduce.py:43-78, Dask → Spark)."""
    t = Tables(spark, sf_dir)
    cut = F.lit(cutoff).cast("timestamp")

    fcust = t.customer.filter(F.col("c_mktsegment") == segment.upper()).select(
        "c_custkey"
    )
    forders = t.orders.filter(F.col("o_orderdate") < cut).select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
    )
    fline = t.lineitem.filter(F.col("l_shipdate") > cut).select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )

    joined = (
        forders.join(F.broadcast(fcust), forders.o_custkey == fcust.c_custkey)
        .join(fline, forders.o_orderkey == fline.l_orderkey)
        .withColumn("revenue", rev_dec())
    )
    return (
        joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(F.col("revenue"), "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(k)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


def _flagship_oracle(segment: str, cutoff: str = CUTOFF, k: int = 50) -> str:
    return f"""
        SELECT l_orderkey,
               CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue,
               o_orderdate,
               o_orderpriority
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = '{segment}'
          AND o_orderdate < TIMESTAMP '{cutoff}'
          AND l_shipdate  > TIMESTAMP '{cutoff}'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey
        LIMIT {k}
    """


@query("flagship_unshipped_orders", oracle=_flagship_oracle("BUILDING"))
def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference reduce.py:24-78 for segment BUILDING at a fixed cutoff."""
    return unshipped_orders_by_revenue(spark, sf_dir, "BUILDING")


@query(
    "flagship_all_segments_union",
    oracle="\nUNION ALL\n".join(
        f"SELECT * FROM ({_flagship_oracle(s)})" for s in SEGMENTS
    ),
)
def flagship_all_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's 5-segment loop (reduce.py:81-86), shared-scan:
    one branch plan per segment would scan orders/lineitem five times
    and pay the fact⋈fact shuffle five times (1.7× slower end-to-end,
    A/B at the 10× fixture), so the union is computed as ONE pass — customer
    keeps its segment through the joins, the aggregate groups by
    (segment, order), and a per-segment row_number window with the
    branch ordering (revenue desc, orderkey) takes each segment's top
    k.  Exactly the union of the five branches: an order belongs to
    one customer hence one segment, so every (segment, order) group
    holds precisely the branch's rows.  pipeline/reduce.py
    ``query_reduce`` ranks the live tables in the same one pass before
    it writes the five gold files."""
    t = Tables(spark, sf_dir)
    cut = F.lit(CUTOFF).cast("timestamp")
    fcust = t.customer.filter(
        F.col("c_mktsegment").isin(*SEGMENTS)
    ).select("c_custkey", "c_mktsegment")
    forders = t.orders.filter(F.col("o_orderdate") < cut).select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
    )
    fline = t.lineitem.filter(F.col("l_shipdate") > cut).select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    joined = (
        forders.join(
            F.broadcast(fcust), forders.o_custkey == fcust.c_custkey
        )
        .join(fline, forders.o_orderkey == fline.l_orderkey)
        .withColumn("revenue", rev_dec())
    )
    ranked = (
        joined.groupBy(
            "c_mktsegment", "l_orderkey", "o_orderdate", "o_orderpriority"
        )
        .agg(dsum(F.col("revenue"), "revenue"))
        .withColumn(
            "rnk",
            F.row_number().over(
                W.partitionBy("c_mktsegment").orderBy(
                    F.col("revenue").desc(), F.col("l_orderkey")
                )
            ),
        )
        .filter(F.col("rnk") <= 50)
    )
    return ranked.select(
        "l_orderkey", "revenue", "o_orderdate", "o_orderpriority"
    )


@query(
    "topk_per_segment_window",
    oracle=f"""
        WITH order_rev AS (
            SELECT c_mktsegment,
                   l_orderkey,
                   CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue
            FROM customer
            JOIN orders   ON c_custkey = o_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
            WHERE o_orderdate < TIMESTAMP '{CUTOFF}'
              AND l_shipdate  > TIMESTAMP '{CUTOFF}'
            GROUP BY c_mktsegment, l_orderkey
        )
        SELECT c_mktsegment, l_orderkey, revenue, rnk
        FROM (
            SELECT *,
                   row_number() OVER (
                       PARTITION BY c_mktsegment
                       ORDER BY revenue DESC, l_orderkey
                   ) AS rnk
            FROM order_rev
        )
        WHERE rnk <= 10
    """,
)
def top_unshipped_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-idiomatic single-pass form of the 5-segment loop (SURVEY.md
    §2.7): one shuffle + window instead of 5 full query executions.  At
    100 TB this reads lineitem once instead of five times."""
    t = Tables(spark, sf_dir)
    cut = F.lit(CUTOFF).cast("timestamp")

    order_rev = (
        t.orders.filter(F.col("o_orderdate") < cut)
        .select("o_orderkey", "o_custkey")
        .join(
            F.broadcast(t.customer.select("c_custkey", "c_mktsegment")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            t.lineitem.filter(F.col("l_shipdate") > cut).select(
                "l_orderkey", "l_extendedprice", "l_discount"
            ),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .groupBy("c_mktsegment", "l_orderkey")
        .agg(
            dsum(rev_dec(), "revenue")
        )
    )
    w = W.partitionBy("c_mktsegment").orderBy(
        F.col("revenue").desc(), F.col("l_orderkey")
    )
    return (
        order_rev.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 10)
        .select("c_mktsegment", "l_orderkey", "revenue", "rnk")
    )


@query(
    "serving_top_orders_display",
    oracle=f"""
        SELECT printf('%09d', l_orderkey) AS order_id,
               '$' || format('{{:,}}', CAST(floor(revenue) AS BIGINT))
                   || '.'
                   || lpad(CAST(CAST(round((revenue - floor(revenue))
                                           * 100) AS BIGINT) AS VARCHAR),
                           2, '0') AS revenue_display,
               strftime(o_orderdate, '%m/%d/%Y') AS order_date,
               o_orderpriority AS priority
        FROM ({_flagship_oracle("BUILDING")})
    """,
)
def serving_display(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's dashboard display layer (dashboard.py:40-69) as
    a hash-checked transform over the flagship result: zero-padded ids,
    $-grouped 2-decimal revenue, MM/DD/YYYY dates — every format
    string computed JVM-side (pipeline/serving.py), proven equal to
    DuckDB's printf/format/strftime."""
    from ..pipeline.serving import format_for_display

    return format_for_display(
        unshipped_orders_by_revenue(spark, sf_dir, "BUILDING")
    )
