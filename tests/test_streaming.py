"""Structured Streaming tests: exactly-once ingest, stream≡batch window
aggregations, custom stateful operator (SURVEY.md §2.9, T1-T5).

All checkpoints live in pytest tmpdirs (SURVEY.md §7 risk e).
"""

from __future__ import annotations

import json
import os
from datetime import datetime

import pytest

from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from etl_tpch_spark.catalog import load_table
from etl_tpch_spark.pipeline import incrementalize, list_staged_files
from etl_tpch_spark.pipeline.ingest import ALL_TABLES
from etl_tpch_spark.streaming import (
    running_user_stats,
    session_window_stats,
    sliding_window_avg,
    stream_ingest_all,
    stream_ingest_table,
    streaming_events_source,
    tumbling_window_counts,
)
from etl_tpch_spark.streaming.windows import run_to_memory_sink

from .conftest import TEST_SF_DIR

NOW = datetime(2026, 2, 1, 9, 0, 0)


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """Events re-written as a µs-timestamp parquet *directory* (file
    streaming sources read dirs; testdata is a single nanos file)."""
    d = str(tmp_path_factory.mktemp("events_src") / "events")
    load_table(spark, TEST_SF_DIR, "events").repartition(4).write.parquet(d)
    return d


@pytest.fixture(scope="module")
def ckpt(tmp_path_factory):
    return str(tmp_path_factory.mktemp("ckpt"))


def test_stream_ingest_exactly_once(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("stream_ingest")
    staging, processed, ckpt = (
        str(root / z) for z in ("staging", "processed", "ckpt")
    )
    incrementalize(spark, TEST_SF_DIR, staging, now=NOW, key_fn="hash")
    n_orders = spark.read.json(
        list_staged_files(staging, "orders")
    ).count()

    stream_ingest_table(spark, staging, processed, ckpt, "orders")
    out = os.path.join(processed, "orders")
    assert spark.read.parquet(out).count() == n_orders

    # re-run with the same checkpoint: nothing re-ingested (the
    # reference needs delete-after-write + locks for this, T3)
    stream_ingest_table(spark, staging, processed, ckpt, "orders")
    assert spark.read.parquet(out).count() == n_orders

    # a second staged cycle is picked up incrementally
    incrementalize(
        spark, TEST_SF_DIR, staging, now=datetime(2026, 2, 1, 9, 15), key_fn="hash"
    )
    stream_ingest_table(spark, staging, processed, ckpt, "orders")
    assert spark.read.parquet(out).count() == 2 * n_orders


def test_stream_ingest_all_failure_waits_for_other_drains(spark, tmp_path):
    """A drain whose sink cannot be written fails the call (at start,
    when the sink's log cannot be created), but only after the other
    table's drain has committed; no query is left running."""
    staging, processed, ckpt = (
        str(tmp_path / z) for z in ("staging", "processed", "ckpt")
    )
    incrementalize(spark, TEST_SF_DIR, staging, now=NOW, key_fn="hash")
    os.makedirs(processed)
    open(os.path.join(processed, "orders"), "w").close()  # not a dir
    with pytest.raises(Py4JJavaError, match="orders"):
        stream_ingest_all(spark, staging, processed, ckpt,
                          tables=("orders", "lineitem"))
    assert spark.streams.active == []
    assert os.path.isfile(os.path.join(ckpt, "lineitem", "commits", "0"))
    n_line = spark.read.json(list_staged_files(staging, "lineitem")).count()
    assert spark.read.parquet(
        os.path.join(processed, "lineitem")).count() == n_line


def _offsets(ckpt, table):
    """Per batch: the source offsets (metadata line dropped) and the
    staged files the source consumed."""
    out = {}
    for d in ("offsets", os.path.join("sources", "0")):
        path = os.path.join(ckpt, table, d)
        for name in sorted(os.listdir(path)):
            if name.startswith("."):  # checksum files
                continue
            with open(os.path.join(path, name)) as f:
                lines = f.read().splitlines()
            entries = lines[2:] if d == "offsets" else sorted(
                json.loads(x)["path"] for x in lines[1:])
            out[(d, name)] = entries
    return out


def test_stream_ingest_all_equals_one_table_at_a_time(spark, tmp_path):
    """Concurrent drains ingest exactly what one-at-a-time drains of
    the same staging do: per-table row counts and checkpoint offsets."""
    staging = str(tmp_path / "staging")
    for now in (NOW, datetime(2026, 2, 1, 9, 15)):  # orders: 2 batches
        incrementalize(spark, TEST_SF_DIR, staging, now=now, key_fn="hash")
    together, alone = (
        {z: str(tmp_path / side / z) for z in ("processed", "ckpt")}
        for side in ("together", "alone")
    )
    drained = stream_ingest_all(
        spark, staging, together["processed"], together["ckpt"])
    tables = [t for t in ALL_TABLES if list_staged_files(staging, t)]
    assert sorted(drained) == sorted(tables) and len(tables) == 7
    for t in tables:
        stream_ingest_table(
            spark, staging, alone["processed"], alone["ckpt"], t)
    for t in tables:
        counts = [
            spark.read.parquet(os.path.join(z["processed"], t)).count()
            for z in (together, alone)
        ]
        assert counts[0] == counts[1] > 0, t
        assert _offsets(together["ckpt"], t) == _offsets(alone["ckpt"], t)


@pytest.mark.parametrize(
    "op,kwargs",
    [
        (tumbling_window_counts, {}),
        (sliding_window_avg, {}),
        # session merge is watermark-sensitive and the replayed files are
        # not time-ordered → disable late-data dropping for equivalence
        (session_window_stats, {"watermark": None}),
    ],
    ids=["tumbling", "sliding", "session"],
)
def test_stream_equals_batch(spark, events_dir, ckpt, op, kwargs):
    """The same operator body over readStream must equal its batch run —
    the point of writing windows against plain DataFrames."""
    batch = op(spark.read.parquet(events_dir), **kwargs).toPandas()
    stream = run_to_memory_sink(
        op(streaming_events_source(spark, events_dir), **kwargs),
        f"t_{op.__name__}",
        checkpoint_dir=ckpt,
    ).toPandas()
    cols = sorted(batch.columns)
    assert sorted(stream.columns) == cols
    # float aggregates (avg/sum) accumulate in a different order across
    # micro-batches than in one batch pass → compare those within 1e-3
    # (they are rounded to 4 decimals), everything else exactly
    float_cols = [c for c in cols if batch[c].dtype.kind == "f"]
    key_cols = [c for c in cols if c not in float_cols]
    b = batch.sort_values(key_cols).reset_index(drop=True)
    s = stream.sort_values(key_cols).reset_index(drop=True)
    assert len(b) > 0 and len(b) == len(s)
    assert b[key_cols].equals(s[key_cols])
    for c in float_cols:
        assert (b[c] - s[c]).abs().max() <= 1e-3


def test_stateful_running_user_stats(spark, events_dir, ckpt):
    """applyInPandasWithState totals after draining the stream must
    match a plain batch aggregation (update mode ⇒ keep each user's
    last emitted row)."""
    stream = run_to_memory_sink(
        running_user_stats(streaming_events_source(spark, events_dir)),
        "t_user_stats",
        checkpoint_dir=ckpt,
        output_mode="update",
    ).toPandas()
    # update mode re-emits a user on every batch they appear in → the
    # final state is the row with the max n_events per user
    got = (
        stream.sort_values("n_events")
        .groupby("user_id", as_index=False)
        .last()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    import pandas as pd

    pdf = spark.read.parquet(events_dir).toPandas()
    exp = (
        pdf.groupby("user_id")
        .agg(
            n_events=("value", "size"),
            total_value=("value", "sum"),
            last_seen=("ts", "max"),
        )
        .reset_index()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    exp["total_value"] = exp["total_value"].round(4)
    assert len(got) == len(exp)
    pd.testing.assert_frame_equal(
        got[["user_id", "n_events", "last_seen"]],
        exp[["user_id", "n_events", "last_seen"]],
    )
    assert (got.total_value - exp.total_value).abs().max() < 1e-6


def test_stream_stream_join_equals_batch(spark, tmp_path_factory):
    """Stream-stream orders⋈lineitem (watermarked, time-range-bounded)
    must produce exactly the batch join of the same data."""
    from etl_tpch_spark.pipeline import incrementalize, list_staged_files
    from etl_tpch_spark.schemas import LIVE
    from etl_tpch_spark.streaming import stream_orders_lineitem_join

    root = tmp_path_factory.mktemp("ssj")
    staging = str(root / "staging")
    incrementalize(spark, TEST_SF_DIR, staging, now=NOW, key_fn="hash")
    o_dir = os.path.dirname(list_staged_files(staging, "orders")[0])
    l_dir = os.path.dirname(list_staged_files(staging, "lineitem")[0])

    def src(d, table):
        return (
            spark.readStream.schema(LIVE[table])
            .option("pathGlobFilter", "*.json")
            .option("recursiveFileLookup", "true")
            .option("maxFilesPerTrigger", "2")
            .json(d)
        )

    joined = stream_orders_lineitem_join(
        src(o_dir, "orders"), src(l_dir, "lineitem")
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_out")
        .outputMode("append")
        .option("checkpointLocation", str(root / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("ssj_out").toPandas()

    def batch_src(d, table):
        return (
            spark.read.schema(LIVE[table])
            .option("pathGlobFilter", "*.json")
            .option("recursiveFileLookup", "true")
            .json(d)
        )

    bo = batch_src(o_dir, "orders")
    bl = batch_src(l_dir, "lineitem")
    exp = stream_orders_lineitem_join(bo, bl).toPandas()

    assert len(got) == len(exp) > 0
    cols = ["o_orderkey", "l_ship_time", "revenue"]
    g = got[cols].sort_values(cols).reset_index(drop=True)
    x = exp[cols].sort_values(cols).reset_index(drop=True)
    assert g.equals(x)


def test_streaming_dedup(spark, events_dir, ckpt, tmp_path_factory):
    """dropDuplicatesWithinWatermark over a replayed stream with
    duplicated input files must emit each event_id once."""
    from etl_tpch_spark.streaming.ingest import dedup_stream

    # duplicate the events dir: same rows twice → 2× input, 1× output
    dup_dir = str(tmp_path_factory.mktemp("dup") / "events")
    base = spark.read.parquet(events_dir)
    base.write.parquet(dup_dir)
    base.write.mode("append").parquet(dup_dir)

    src = (
        spark.readStream.schema(base.schema)
        .option("maxFilesPerTrigger", "3")
        .parquet(dup_dir)
    )
    out = dedup_stream(src, watermark="365 days")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path_factory.mktemp("ck")))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("dedup_out").toPandas()
    assert len(got) == base.count()
    assert got.event_id.is_unique


def test_stream_static_enrichment_equals_batch(spark, events_dir, ckpt):
    """Stream-static dim join: streaming events enriched with the
    customer dimension must equal the batch join, and the streaming
    side must not shuffle (broadcast dim)."""
    from etl_tpch_spark.streaming.joins import enrich_stream

    dim = load_table(spark, TEST_SF_DIR, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment", "c_nationkey"
    )
    src = spark.readStream.schema(
        spark.read.parquet(events_dir).schema
    ).parquet(events_dir)

    enriched = enrich_stream(src, dim, on="user_id").groupBy(
        "c_mktsegment"
    ).agg(F.count(F.lit(1)).alias("n"))
    got = run_to_memory_sink(
        enriched, "enriched_events", checkpoint_dir=ckpt
    )

    want = (
        spark.read.parquet(events_dir)
        .join(dim, "user_id")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert {(r.c_mktsegment, r.n) for r in got.collect()} == {
        (r.c_mktsegment, r.n) for r in want.collect()
    }


@pytest.mark.skipif(
    not __import__("importlib").util.find_spec("google"),
    reason="transformWithStateInPandas state protocol needs protobuf "
    "(absent in this container; the operator is import-gated)",
)
def test_transform_with_state_running_stats(spark, events_dir, ckpt):
    """Spark 4 StatefulProcessor (transformWithStateInPandas): final
    per-user stats must equal the batch aggregation — same contract as
    the applyInPandasWithState form."""
    from etl_tpch_spark.streaming.stateful import running_user_stats_v2

    src = spark.readStream.schema(
        spark.read.parquet(events_dir).schema
    ).parquet(events_dir)
    got = run_to_memory_sink(
        running_user_stats_v2(src),
        "tws_user_stats",
        checkpoint_dir=ckpt,
        output_mode="update",
    )
    # update mode: keep the LAST emission per user
    latest = {
        r.user_id: (r.n_events, r.total_value) for r in got.collect()
    }
    want = {
        r.user_id: (r.n, round(r.total, 4))
        for r in spark.read.parquet(events_dir)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"), F.sum("value").alias("total")
        )
        .collect()
    }
    assert {u: latest[u][0] for u in latest} == {
        u: want[u][0] for u in want
    }
    for u in want:
        assert abs(latest[u][1] - want[u][1]) < 1e-6


def test_stream_stream_left_outer_join_flushes_unmatched(
    spark, tmp_path_factory
):
    """Watermarked LEFT OUTER stream-stream join: orders whose
    lineitems never arrive must surface as null-padded rows — but only
    once the joint watermark proves no match can still come.  A
    far-future sentinel row on each side raises the watermark in the
    final data batch; the trailing no-data micro-batch then evicts the
    buffered state and emits the unmatched rows (the cross-run path is
    NOT usable here: a restarted query restores the watermark from the
    offset log, and the last batch's event-time stats die with the old
    run — so the flush must happen inside one trigger run)."""
    import json as _json

    from etl_tpch_spark.pipeline import incrementalize, list_staged_files
    from etl_tpch_spark.schemas import LIVE
    from etl_tpch_spark.streaming import stream_orders_lineitem_join
    from pyspark.sql import functions as F

    root = tmp_path_factory.mktemp("ssoj")
    staging = str(root / "staging")
    incrementalize(spark, TEST_SF_DIR, staging, now=NOW, key_fn="hash")
    o_dir = os.path.dirname(list_staged_files(staging, "orders")[0])
    l_dir = os.path.dirname(list_staged_files(staging, "lineitem")[0])

    # drop ~1/3 of orders' lineitems entirely (hash on the shared join
    # key ⇒ whole orders lose every line and must surface unmatched).
    # The sentinel must survive the filter: it is each side's watermark
    # driver, and a filter runs BEFORE the watermark operator
    keep = (F.xxhash64("l_orderkey") % 3 != 0) | (
        F.col("l_orderkey") == "sentinel-l"
    )

    # sentinel rows on BOTH sides (joint watermark = min of sides),
    # far enough ahead that every buffered row's eviction time passes
    far = "2031-01-01T00:00:00.000Z"
    with open(os.path.join(o_dir, "zz_sentinel.json"), "w") as f:
        f.write(_json.dumps({
            "o_orderkey": "sentinel-o", "o_custkey": "c0",
            "o_order_time": far, "o_orderpriority": "1-URGENT",
            "o_orderstatus": "O", "o_totalprice": 1.0,
        }) + "\n")
    with open(os.path.join(l_dir, "zz_sentinel.json"), "w") as f:
        f.write(_json.dumps({
            "l_orderkey": "sentinel-l", "l_extendedprice": 1.0,
            "l_discount": 0.0, "l_ship_time": far,
        }) + "\n")

    def src(d, table):
        return (
            spark.readStream.schema(LIVE[table])
            .option("pathGlobFilter", "*.json")
            .option("recursiveFileLookup", "true")
            .json(d)
        )

    out_dir = str(root / "out")
    joined = stream_orders_lineitem_join(
        src(o_dir, "orders"),
        src(l_dir, "lineitem").filter(keep),
        how="left_outer",
    )
    q = (
        joined.writeStream.format("parquet")
        .option("path", out_dir)
        .outputMode("append")
        .option("checkpointLocation", str(root / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # the run must contain a trailing no-data batch (the eviction one)
    assert any(
        p.get("eventTime", {}).get("avg") is None for p in q.recentProgress
    ), [p.get("batchId") for p in q.recentProgress]

    got = (
        spark.read.parquet(out_dir)
        .filter(F.col("o_orderkey") != "sentinel-o")
        .toPandas()
    )

    def batch_src(d, table):
        return (
            spark.read.schema(LIVE[table])
            .option("pathGlobFilter", "*.json")
            .option("recursiveFileLookup", "true")
            .json(d)
        )

    exp = stream_orders_lineitem_join(
        batch_src(o_dir, "orders").filter(F.col("o_orderkey") != "sentinel-o"),
        batch_src(l_dir, "lineitem").filter(keep),
        how="left_outer",
    ).toPandas()

    assert got.revenue.isna().sum() > 0, "some orders must be unmatched"
    assert len(got) == len(exp)
    cols = ["o_orderkey", "l_ship_time", "revenue"]
    g = got[cols].sort_values(cols).reset_index(drop=True)
    x = exp[cols].sort_values(cols).reset_index(drop=True)
    assert g.equals(x)


def test_ingest_observe_metrics(spark, tmp_path_factory):
    """Dataset.observe counters ride the ingest stream's progress
    events — per-batch row and null-key counts with zero extra scans,
    and they must sum to the true totals."""
    from etl_tpch_spark.pipeline import incrementalize
    from etl_tpch_spark.streaming.ingest import stream_ingest_table

    root = tmp_path_factory.mktemp("obs")
    staging = str(root / "staging")
    incrementalize(spark, TEST_SF_DIR, staging, now=NOW, key_fn="hash")

    q = stream_ingest_table(
        spark,
        staging,
        str(root / "processed"),
        str(root / "ckpt"),
        "orders",
        observe_metrics=True,
    )
    seen = [
        p["observedMetrics"]["ingest_quality"]
        for p in q.recentProgress
        if "ingest_quality" in (p.get("observedMetrics") or {})
    ]
    assert seen, "at least one batch must report observed metrics"
    total = sum(m["n_rows"] for m in seen)
    nulls = sum(m["n_null_key"] for m in seen)
    stored = spark.read.parquet(str(root / "processed" / "orders"))
    assert total == stored.count() > 0
    assert nulls == stored.filter(F.col("o_orderkey").isNull()).count() == 0
