"""Reduce stage: the flagship query over the *live* processed tables.

Reference semantics (pipeline/reduce.py:24-86): daily, for each of the 5
market segments, compute "unshipped orders by revenue" (TPC-H Q3
variant) over the Delta tables and write one snappy parquet per segment
to ``results/`` (SURVEY.md §3.1, S8).

This module is the live-schema twin of ``queries/flagship.py`` (which
targets driver testdata): the processed tables use the reference's
renamed columns (``o_order_time``/``l_ship_time``, data.py:100-108) and
*string* uuid order keys (data.py:74-93) — join logic is identical
because Spark equi-joins are key-type agnostic (SURVEY.md §7 risk c).
Column naming is resolved at runtime so the same function also accepts
testdata-named tables.

One definition of the query, :func:`_unshipped_revenue`: broadcast the
filtered customer dim (keeping ``c_mktsegment``), shuffle-join the two
pre-filtered facts, aggregate revenue per (segment, order).
:func:`unshipped_orders_live` takes one segment's top k from it
(TakeOrderedAndProject); :func:`query_reduce` ranks every segment in
the same pass with a ``row_number`` window and then writes the five
gold files.  The cutoff is an explicit parameter; the reference's
``pd.Timestamp.now()`` (reduce.py:56) is the caller's choice, not baked
in.
"""

from __future__ import annotations

import os
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")


def _col(df: DataFrame, *candidates: str) -> str:
    for c in candidates:
        if c in df.columns:
            return c
    raise ValueError(f"none of {candidates} in {df.columns}")


def _unshipped_revenue(
    orders: DataFrame,
    lineitem: DataFrame,
    customer: DataFrame,
    *,
    segments: tuple[str, ...],
    cutoff: datetime | str,
) -> DataFrame:
    """Reference reduce.py:43-70 for every segment in ``segments``: the
    filter, join and revenue aggregate.  Columns: ``c_mktsegment,
    l_orderkey, revenue, <order time>, o_orderpriority``.  An order has
    one customer, hence one segment, so each (segment, order) group
    holds exactly the rows of that segment's own query."""
    o_time = _col(orders, "o_order_time", "o_orderdate")
    l_time = _col(lineitem, "l_ship_time", "l_shipdate")
    cut = F.lit(cutoff).cast("timestamp")

    fcust = customer.filter(
        F.col("c_mktsegment").isin(*(s.upper() for s in segments))
    ).select("c_custkey", "c_mktsegment")
    forders = orders.filter(F.col(o_time) < cut).select(
        "o_orderkey", "o_custkey", o_time, "o_orderpriority"
    )
    fline = lineitem.filter(F.col(l_time) > cut).select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    return (
        forders.join(F.broadcast(fcust), forders.o_custkey == fcust.c_custkey)
        .join(fline, forders.o_orderkey == fline.l_orderkey)
        .withColumn(
            "revenue", F.col("l_extendedprice") * (1 - F.col("l_discount"))
        )
        .groupBy("c_mktsegment", "l_orderkey", o_time, "o_orderpriority")
        .agg(F.sum("revenue").alias("revenue"))
        .select("c_mktsegment", "l_orderkey", "revenue", o_time,
                "o_orderpriority")
    )


def unshipped_orders_live(
    orders: DataFrame,
    lineitem: DataFrame,
    customer: DataFrame,
    *,
    segment: str,
    cutoff: datetime | str,
    k: int = 50,
) -> DataFrame:
    """Reference reduce.py:43-78 against live-schema DataFrames.

    Output columns follow the reference result (reduce.py:72-74):
    ``l_orderkey, revenue, <order time>, o_orderpriority``.
    """
    return (
        _unshipped_revenue(
            orders, lineitem, customer, segments=(segment,), cutoff=cutoff
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(k)
        .drop("c_mktsegment")
    )


def query_reduce(
    spark: SparkSession,
    processed_dir: str,
    results_dir: str,
    *,
    cutoff: datetime | str,
    segments: tuple[str, ...] = SEGMENTS,
    k: int = 50,
) -> dict[str, str]:
    """Flow ``query_reduce`` (reduce.py:81-86): one snappy parquet
    result per segment, ``results/<seg.lower()>.snappy.parquet``.
    Returns {segment: result_path}, keyed by the caller's spelling.

    One pass ranks every segment: the orders⋈lineitem join and the
    revenue aggregate run once, not once per segment.  The ranked rows
    (at most k per segment) are materialized, then each segment is
    written with its rows in rank order — the same path, single part
    file, columns, dtypes and row order as the reference's per-segment
    query, so the dashboard and ``results_ready`` read it unchanged.
    The five files are kept because they are the reference's gold
    contract: one served result per segment.

    All segments are ranked before the first gold file is overwritten,
    so a failure in the join (a missing or unreadable table) leaves
    every previous gold file intact rather than a mix of ticks.  The
    materialized rows are released before returning.
    """
    load = lambda t: spark.read.parquet(  # noqa: E731
        os.path.join(processed_dir, t)
    )
    per_segment = W.partitionBy("c_mktsegment").orderBy(
        F.col("revenue").desc(), F.col("l_orderkey")
    )
    ranked = (
        _unshipped_revenue(
            load("orders"), load("lineitem"), load("customer"),
            segments=segments, cutoff=cutoff,
        )
        .withColumn("rnk", F.row_number().over(per_segment))
        .filter(F.col("rnk") <= k)
        .cache()
    )
    try:
        ranked.count()  # every segment ranked before any file is touched
        out: dict[str, str] = {}
        for seg in segments:
            path = os.path.join(results_dir, f"{seg.lower()}.snappy.parquet")
            # ≤ k rows → one file, like the reference's single parquet
            # (reduce.py:76-78); snappy is Spark's default parquet codec.
            (
                ranked.filter(F.col("c_mktsegment") == seg.upper())
                .coalesce(1)
                .sortWithinPartitions("rnk")
                .drop("c_mktsegment", "rnk")
                .write.mode("overwrite")
                .parquet(path)
            )
            out[seg] = path
    finally:
        ranked.unpersist()
    return out
