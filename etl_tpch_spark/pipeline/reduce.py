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
filtered customer dim (keeping ``c_mktsegment``), sort-merge-join the
two pre-filtered facts on the order key, aggregate revenue per
(segment, order).
:func:`unshipped_orders_live` takes one segment's top k from it
(TakeOrderedAndProject); :func:`query_reduce` ranks every segment in
the same pass with a ``row_number`` window, writes the five gold files
in one partitioned write to a new generation directory and publishes
it by flipping the ``results`` symlink (:func:`_flip`), so readers
never see a partial gold zone.  The cutoff is an explicit parameter;
the reference's ``pd.Timestamp.now()`` (reduce.py:56) is the caller's
choice, not baked in.
"""

from __future__ import annotations

import os
import shutil
import uuid
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..schemas import LIVE

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
    holds exactly the rows of that segment's own query.

    The facts join by sort-merge on the order key, never by broadcast:
    every live lineitem ships after the cutoff (ship times lie in
    ``[now, now + 3 d]``), so the filtered lineitem is the whole fact
    table, which grows every tick.  Broadcasting it collected it to
    the driver once per call; the ``merge`` hint shuffles both facts
    in parallel map stages, spills instead, and is the plan the lake
    reaches anyway once lineitem outgrows the broadcast threshold.
    The join's order-key partitioning also satisfies the aggregate,
    whose keys include ``l_orderkey``, so no exchange sits between
    them."""
    o_time = _col(orders, "o_order_time", "o_orderdate")
    l_time = _col(lineitem, "l_ship_time", "l_shipdate")
    cut = F.lit(cutoff).cast("timestamp")

    fcust = customer.filter(
        F.col("c_mktsegment").isin(*(s.upper() for s in segments))
    ).select("c_custkey", "c_mktsegment")
    forders = orders.filter(F.col(o_time) < cut).select(
        "o_orderkey", "o_custkey", o_time, "o_orderpriority"
    )
    fline = (
        lineitem.filter(F.col(l_time) > cut)
        .select("l_orderkey", "l_extendedprice", "l_discount")
        .hint("merge")
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


def _ranked(
    spark: SparkSession,
    processed_dir: str,
    *,
    segments: tuple[str, ...],
    cutoff: datetime | str,
    k: int,
) -> DataFrame:
    """The ranking pass of :func:`query_reduce`: each segment's top
    ``k`` rows with their rank ``rnk``, over the live tables read with
    the schemas the ingest stream writes (``schemas.LIVE``)."""
    load = lambda t: spark.read.schema(LIVE[t]).parquet(  # noqa: E731
        os.path.join(processed_dir, t)
    )
    per_segment = W.partitionBy("c_mktsegment").orderBy(
        F.col("revenue").desc(), F.col("l_orderkey")
    )
    return (
        _unshipped_revenue(
            load("orders"), load("lineitem"), load("customer"),
            segments=segments, cutoff=cutoff,
        )
        .withColumn("rnk", F.row_number().over(per_segment))
        .filter(F.col("rnk") <= k)
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
    revenue aggregate run once, not once per segment.  The tables are
    read with the schemas the ingest stream writes (``schemas.LIVE``),
    so no job infers them.  One write stores the ranked rows (at most
    k per segment), partitioned by segment, each segment's rows in
    rank order in a single part file — the same part-file count,
    columns, dtypes and row order as the reference's per-segment
    query.  A segment with no rows gets a schema-bearing empty part
    file from one more small write.  The five files are kept because
    they are the reference's gold contract: one served result per
    segment.

    The rows land in a new generation directory beside the gold zone,
    ``.results-<uuid>/``, which :func:`_flip` makes current by
    pointing the ``results`` symlink at it: a reader that resolves the
    link once sees all five segments of one tick, never a mix, a
    missing segment or a half-written file.  The replaced generation
    is kept, so such a reader survives one more publish; older ones
    are deleted.  A failure before the flip (a missing or unreadable
    table, a failed write) deletes the new generation and leaves the
    previous gold untouched.  One reducer at a time per gold zone.
    A generation replaces the whole gold zone, so ``segments`` must
    name the five segments (any spelling, any order); anything else
    raises ``ValueError`` before a job runs.
    """
    if sorted(s.upper() for s in segments) != sorted(SEGMENTS):
        raise ValueError(
            f"query_reduce publishes all of {SEGMENTS}, got {segments}"
        )
    ranked = _ranked(spark, processed_dir, segments=segments,
                     cutoff=cutoff, k=k)
    link = os.path.abspath(results_dir)
    parent, name = os.path.split(link)
    gen = os.path.join(parent, f".{name}-{uuid.uuid4().hex}")
    try:
        # ≤ 5·k rows → one task, one part file per segment directory
        # (reduce.py:76-78); snappy is Spark's default parquet codec.
        (
            ranked.repartition(1)
            .sortWithinPartitions("c_mktsegment", "rnk")
            .drop("rnk")
            .write.partitionBy("c_mktsegment")
            .parquet(gen)
        )
        os.remove(os.path.join(gen, "_SUCCESS"))
        empty = []
        for seg in segments:
            part = os.path.join(gen, f"c_mktsegment={seg.upper()}")
            dst = os.path.join(gen, f"{seg.lower()}.snappy.parquet")
            if os.path.isdir(part):
                os.rename(part, dst)
                open(os.path.join(dst, "_SUCCESS"), "w").close()
            else:
                empty.append(dst)
        if empty:  # partitionBy writes nothing for a segment with no rows
            (
                ranked.limit(0)
                .drop("c_mktsegment", "rnk")
                .coalesce(1)
                .write.parquet(empty[0])
            )
            for dst in empty[1:]:
                shutil.copytree(empty[0], dst)
        previous = _flip(gen, link)
    except BaseException:
        shutil.rmtree(gen, ignore_errors=True)
        raise
    # keep the replaced generation for readers that resolved the link
    # before the flip; delete the older ones
    keep = {os.path.basename(gen), previous}
    for entry in os.listdir(parent):
        if entry.startswith(f".{name}-") and entry not in keep:
            shutil.rmtree(os.path.join(parent, entry), ignore_errors=True)
    return {
        seg: os.path.join(results_dir, f"{seg.lower()}.snappy.parquet")
        for seg in segments
    }


def _flip(gen: str, link: str) -> str | None:
    """Atomically point the symlink ``link`` at generation ``gen``: a
    new symlink renamed over the old one, so a reader resolves either
    the old generation or the new one, never neither.  Returns the
    name of the generation it replaced.  A real directory at ``link``
    (gold written before publishing by symlink) is moved aside as that
    previous generation once the new symlink exists, and moved back if
    the rename fails.
    POSIX only: it relies on rename(2) replacing a symlink atomically."""
    parent, name = os.path.split(link)
    tmp = os.path.join(parent, f".{name}.link-{uuid.uuid4().hex}")
    # a relative target, so the lake root can be moved or copied
    os.symlink(os.path.basename(gen), tmp)
    moved = None
    try:
        if os.path.islink(link):
            previous = os.path.basename(os.readlink(link))
        elif os.path.isdir(link):
            previous = f".{name}-{uuid.uuid4().hex}"
            moved = os.path.join(parent, previous)
            os.rename(link, moved)
        else:
            previous = None
        os.replace(tmp, link)
    except BaseException:
        os.remove(tmp)
        if moved and not os.path.lexists(link):
            os.rename(moved, link)
        raise
    return previous
