"""End-to-end micro-batch pipeline test (SURVEY.md §5 item 4).

Reproduces one full reference cycle (workflow.py:12-31) in a tmpdir:
generate (incrementalize sf0.001) → staging JSON → ingest → processed
parquet → compact → reduce → gold parquet; asserts revenue totals against
an independently-computed pandas expectation, then re-runs stages to
prove idempotence / append semantics.
"""

from __future__ import annotations

import os
import re
import shutil
import threading
import uuid
from datetime import datetime, timedelta

import numpy as np
import pandas as pd
import pytest
from pyspark.errors import AnalysisException

from etl_tpch_spark.pipeline import (
    compact_all,
    incrementalize,
    ingest_all,
    list_staged_files,
    query_reduce,
    unshipped_orders_live,
)
from etl_tpch_spark.pipeline import workflow
from etl_tpch_spark.pipeline.reduce import SEGMENTS, _ranked
from etl_tpch_spark.pipeline.workflow import results_ready, run_cycle

from .conftest import TEST_SF_DIR

NOW = datetime(2026, 1, 1, 12, 0, 0)


@pytest.fixture(scope="module")
def zones(tmp_path_factory):
    root = tmp_path_factory.mktemp("pipeline")
    return {
        "staging": str(root / "staging"),
        "processed": str(root / "processed"),
        "results": str(root / "results"),
    }


@pytest.fixture(scope="module")
def staged(spark, zones):
    written = incrementalize(
        spark, TEST_SF_DIR, zones["staging"], now=NOW, key_fn="hash"
    )
    return written


def test_generate_layout_and_write_once(spark, zones, staged):
    # 5 static + 2 dynamic staging dirs, ISO-stamped names
    assert len(staged) == 7
    assert list_staged_files(zones["staging"], "orders"), "orders staged"
    # second cycle: static tables skipped, dynamics re-emitted
    again = incrementalize(
        spark,
        TEST_SF_DIR,
        zones["staging"],
        now=NOW + timedelta(minutes=15),
        key_fn="hash",
    )
    assert len(again) == 2
    assert len(list_staged_files(zones["staging"], "orders")) == 2


def test_generate_rekey_consistency(spark, zones, staged):
    """uuid rekey must keep orders⋈lineitem joinable (data.py:74-93)."""
    o = spark.read.json(list_staged_files(zones["staging"], "orders")[0])
    l = spark.read.json(list_staged_files(zones["staging"], "lineitem")[0])
    n_line = l.count()
    assert o.select("o_orderkey").distinct().count() == o.count()
    # every lineitem joins back to exactly one order
    joined = l.join(
        o.select("o_orderkey"), l.l_orderkey == o.o_orderkey
    ).count()
    assert joined == n_line
    # keys are 32-hex strings
    row = o.select("o_orderkey").first()
    assert len(row.o_orderkey) == 32


def test_ingest_append_and_consume(spark, zones, staged):
    counts = ingest_all(
        spark, zones["staging"], zones["processed"], delete_after=True
    )
    # both cycles of orders/lineitem ingested in one shot
    assert counts["orders"] == 2 and counts["lineitem"] == 2
    assert counts["customer"] == 1
    # consume-and-delete: staging drained → re-ingest is a no-op
    assert ingest_all(
        spark, zones["staging"], zones["processed"], delete_after=True
    ) == {}
    orders = spark.read.parquet(os.path.join(zones["processed"], "orders"))
    base = pd.read_parquet(os.path.join(TEST_SF_DIR, "orders.parquet"))
    assert orders.count() == 2 * len(base)  # two appended cycles
    assert dict(orders.dtypes)["o_orderkey"] == "string"
    assert dict(orders.dtypes)["o_order_time"] == "timestamp"


def test_compact_preserves_rows(spark, zones, staged):
    pre = spark.read.parquet(
        os.path.join(zones["processed"], "lineitem")
    ).count()
    n_files = compact_all(spark, zones["processed"])
    assert n_files["lineitem"] == 1  # tiny table → one target file
    post_dir = os.path.join(zones["processed"], "lineitem")
    parts = [f for f in os.listdir(post_dir) if f.endswith(".parquet")]
    assert len(parts) == 1
    assert spark.read.parquet(post_dir).count() == pre


def test_reduce_matches_pandas(spark, zones, staged):
    """Gold outputs match an independent pandas computation of the same
    query over the processed tables (reference reduce.py:43-78)."""
    cutoff = NOW  # orders stamped ≤ NOW, ship times ≥ NOW-15m..+3d
    paths = query_reduce(
        spark,
        zones["processed"],
        zones["results"],
        cutoff=cutoff,
        k=10,
    )
    assert set(paths) == {
        "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY",
    }

    proc = zones["processed"]
    po = pd.read_parquet(os.path.join(proc, "orders"))
    pl = pd.read_parquet(os.path.join(proc, "lineitem"))
    pc = pd.read_parquet(os.path.join(proc, "customer"))

    for seg, path in paths.items():
        got = pd.read_parquet(path)
        cust = pc[pc.c_mktsegment == seg][["c_custkey"]]
        orders = po[po.o_order_time < cutoff]
        line = pl[pl.l_ship_time > cutoff]
        jn = orders.merge(cust, left_on="o_custkey", right_on="c_custkey")
        jn = jn.merge(line, left_on="o_orderkey", right_on="l_orderkey")
        jn["revenue"] = jn.l_extendedprice * (1 - jn.l_discount)
        exp = (
            jn.groupby(["l_orderkey", "o_order_time", "o_orderpriority"])[
                "revenue"
            ]
            .sum()
            .reset_index()
            .sort_values(["revenue", "l_orderkey"], ascending=[False, True])
            .head(10)
        )
        assert len(got) == len(exp)
        pd.testing.assert_frame_equal(
            got[["l_orderkey", "revenue"]].reset_index(drop=True),
            exp[["l_orderkey", "revenue"]].reset_index(drop=True),
            check_exact=False,
            rtol=1e-9,
        )


def test_reduce_accepts_testdata_naming(spark):
    """Column-map tolerance: the same reduce runs on testdata-named
    tables (o_orderdate/l_shipdate, int keys — SURVEY.md §7 risk c)."""
    o = spark.read.parquet(os.path.join(TEST_SF_DIR, "orders.parquet"))
    l = spark.read.parquet(os.path.join(TEST_SF_DIR, "lineitem.parquet"))
    c = spark.read.parquet(os.path.join(TEST_SF_DIR, "customer.parquet"))
    out = unshipped_orders_live(
        o, l, c, segment="BUILDING", cutoff="1998-01-01", k=5
    )
    rows = out.collect()
    assert 0 < len(rows) <= 5
    assert out.columns == [
        "l_orderkey", "revenue", "o_orderdate", "o_orderpriority",
    ]


def test_run_cycle_full_tick(spark, tmp_path_factory):
    """workflow.run_cycle: two ticks with streaming ingest — second tick
    ingests only its own new batch (checkpoint), reduce sees both."""
    from etl_tpch_spark.pipeline.workflow import run_cycle

    root = str(tmp_path_factory.mktemp("cycle"))
    r1 = run_cycle(
        spark, TEST_SF_DIR, root, now=NOW, compact=True, reduce=True, k=5
    )
    assert set(r1) == {"generate", "ingest", "compact", "reduce"}
    assert len(r1["generate"]) == 7 and len(r1["reduce"]) == 5
    # every table was stream-ingested → sink-managed (_spark_metadata)
    # → compaction must skip all of them to keep exactly-once intact
    assert all(v == 0 for v in r1["compact"].values())

    orders_dir = os.path.join(root, "processed", "orders")
    n1 = spark.read.parquet(orders_dir).count()
    r2 = run_cycle(
        spark, TEST_SF_DIR, root, now=NOW + timedelta(minutes=15),
        quality_gate=True,
    )
    assert len(r2["generate"]) == 2  # static tables skipped
    assert spark.read.parquet(orders_dir).count() == 2 * n1
    # post-ingest expectations ran and the feed is clean
    assert all(passed for _, passed in r2["quality"].values())
    assert "unique:o_orderkey" in r2["quality"]


# --- one-pass reduce vs the per-segment query it replaces ---------------

LAKE_TICKS = 3
LAKE_CUTOFF = NOW + timedelta(minutes=15 * (LAKE_TICKS - 1))


@pytest.fixture(scope="module")
def lake(spark, tmp_path_factory):
    """A lake grown by ``run_cycle`` over three 15-min ticks; the last
    tick's reduce leaves gold files (and warms the reduce)."""
    root = str(tmp_path_factory.mktemp("lake"))
    for tick in range(LAKE_TICKS):
        run_cycle(spark, TEST_SF_DIR, root,
                  now=NOW + timedelta(minutes=15 * tick),
                  reduce=tick == LAKE_TICKS - 1)
    return os.path.join(root, "processed")


def _load(spark, processed):
    return [spark.read.parquet(os.path.join(processed, t))
            for t in ("orders", "lineitem", "customer")]


def _reference(tables, seg, cutoff, k):
    """The per-segment pipeline: one full query per segment."""
    return unshipped_orders_live(
        *tables, segment=seg, cutoff=cutoff, k=k
    ).coalesce(1)


def _parts(path):
    return [f for f in os.listdir(path) if f.endswith(".parquet")]


def _assert_same_gold(spark, got_path, want_path):
    """Same single part file, columns, dtypes, row order and values
    (revenue to rtol 1e-12)."""
    assert len(_parts(got_path)) == 1 and len(_parts(want_path)) == 1
    got, want = spark.read.parquet(got_path), spark.read.parquet(want_path)
    assert got.dtypes == want.dtypes
    g, w = got.collect(), want.collect()  # one file: file order
    assert len(g) == len(w)
    assert [r.l_orderkey for r in g] == [r.l_orderkey for r in w]
    np.testing.assert_allclose(
        [r.revenue for r in g], [r.revenue for r in w], rtol=1e-12
    )
    rest = [c for c in got.columns if c != "revenue"]
    assert [[r[c] for c in rest] for r in g] == [
        [r[c] for c in rest] for r in w
    ]


@pytest.mark.parametrize(
    "k, segments, cutoff",
    [
        (50, SEGMENTS, LAKE_CUTOFF),
        (3, SEGMENTS, LAKE_CUTOFF),
        (5, ("automobile", "Building", "FURNITURE", "household",
             "machinery"), LAKE_CUTOFF),
        (50, SEGMENTS, datetime(2000, 1, 1)),  # before every order
    ],
    ids=["k50", "k3", "lowercase", "empty"],
)
def test_reduce_one_pass_matches_per_segment(
    spark, lake, tmp_path, k, segments, cutoff
):
    """Every gold file equals the per-segment query's own coalesce(1)
    output on a multi-tick lake — including when every segment is
    empty, where each still gets one schema-bearing part file."""
    gold, ref = str(tmp_path / "results"), str(tmp_path / "ref")
    paths = query_reduce(spark, lake, gold, cutoff=cutoff, k=k,
                         segments=segments)
    assert list(paths) == list(segments)  # the caller's spelling
    tables = _load(spark, lake)
    rows = 0
    for seg, path in paths.items():
        assert path == os.path.join(gold, f"{seg.lower()}.snappy.parquet")
        want = os.path.join(ref, seg.lower())
        _reference(tables, seg, cutoff, k).write.parquet(want)
        _assert_same_gold(spark, path, want)
        rows += spark.read.parquet(path).count()
    assert (rows == 0) == (cutoff < NOW)
    assert results_ready(gold)


def _jobs_in_group(spark, fn) -> int:
    sc = spark.sparkContext
    group = f"reduce-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_reduce_one_pass_job_shape_and_release(spark, lake, tmp_path):
    """A warm one-pass reduce runs fewer Spark jobs than the five
    per-segment pipelines on the same lake — exactly 6 — and leaves no
    persisted RDD behind."""
    ref = str(tmp_path / "ref")

    def per_segment():
        tables = _load(spark, lake)
        for seg in SEGMENTS:
            _reference(tables, seg, LAKE_CUTOFF, 50).write.mode(
                "overwrite").parquet(os.path.join(ref, seg.lower()))

    def one_pass():
        query_reduce(spark, lake, str(tmp_path / "results"),
                     cutoff=LAKE_CUTOFF)

    per_segment()  # warm both paths
    one_pass()
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    n_one_pass = _jobs_in_group(spark, one_pass)
    assert set(jsc.getPersistentRDDs().keys()) <= before
    n_per_segment = _jobs_in_group(spark, per_segment)
    assert 0 < n_one_pass < n_per_segment
    # one ranking pass and one partitioned write over declared schemas;
    # schema inference per table, a cache + count and one write per
    # segment took 15 jobs here
    assert n_one_pass == 6


def _subtrees(plan: str, node: str) -> list[str]:
    """The text of every subtree of a plan's final form whose root
    line names ``node``: the root line and the deeper lines below it."""
    lines = plan.split("== Initial Plan ==")[0].splitlines()
    depth = lambda line: len(line) - len(line.lstrip(" :+-"))  # noqa: E731
    out = []
    for i, line in enumerate(lines):
        if node in line:
            j = i + 1
            while j < len(lines) and depth(lines[j]) > depth(line):
                j += 1
            out.append("\n".join(lines[i:j]))
    return out


def test_reduce_ranking_pass_sort_merge_joins_the_facts(spark, lake):
    """The ranking pass joins orders and lineitem by sort-merge on the
    order key and broadcasts only the customer dimension, never the
    lineitem table that grows every tick; the join's order-key
    partitioning feeds the revenue aggregate with no exchange between
    them (checked in the final adaptive plan)."""
    ranked = _ranked(spark, lake, segments=SEGMENTS, cutoff=LAKE_CUTOFF,
                     k=50)
    assert ranked.collect()
    plan = ranked._jdf.queryExecution().executedPlan().toString()
    broadcasts = _subtrees(plan, "BroadcastExchange")
    assert broadcasts and all("/processed/customer]" in b
                              for b in broadcasts)
    assert not any("/processed/lineitem]" in b for b in broadcasts)
    (smj,) = _subtrees(plan, "SortMergeJoin")
    assert re.search(r"SortMergeJoin \[o_orderkey#\d+\], \[l_orderkey#\d+\]",
                     smj)
    (agg,) = [t for t in _subtrees(plan, "HashAggregate")
              if "partial_sum(revenue" in t.splitlines()[0]]
    assert "SortMergeJoin" in agg
    assert "Exchange" not in agg.split("SortMergeJoin")[0]


# --- the quality gate beside the reduce ---------------------------------

@pytest.fixture()
def gated(spark, tmp_path):
    """A lake after one ``run_cycle`` tick with the gate and the
    reduce; the root directory."""
    root = str(tmp_path / "lake")
    run_cycle(spark, TEST_SF_DIR, root, now=NOW, quality_gate=True,
              reduce=True, k=5)
    return root


def _gate_threads():
    return [t for t in threading.enumerate()
            if isinstance(t, workflow._Background)]


def _corrupt_orders(root) -> str:
    """Overwrite one orders part file with garbage; its name."""
    orders = os.path.join(root, "processed", "orders")
    part = sorted(_parts(orders))[0]
    with open(os.path.join(orders, part), "wb") as f:
        f.write(b"not a parquet file")
    return part


def _last_job_id(spark) -> int:
    """The id of a new one-task probe job: Spark numbers every job of
    the context in order, the stream drains' too, whatever their job
    group."""
    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        sc.parallelize([0], 1).count()
    finally:
        sc._jsc.clearJobGroup()
    (job,) = sc.statusTracker().getJobIdsForGroup(group)
    return job


def test_run_cycle_warm_tick_job_count(spark, gated):
    """A warm tick (two staged tables drained, the one-pass gate beside
    the reduce) runs 11 Spark jobs in all."""
    for i in (1, 2):  # the first warm tick warms every stage
        tick = NOW + timedelta(minutes=15 * i)
        incrementalize(spark, TEST_SF_DIR,
                       os.path.join(gated, "staging"), now=tick)
        before = _last_job_id(spark)
        out = run_cycle(spark, TEST_SF_DIR, gated, now=tick,
                        generate=False, quality_gate=True, reduce=True,
                        k=5)
        n = _last_job_id(spark) - before - 1
    assert all(passed for _, passed in out["quality"].values())
    # 2 drains + the gate's 3 + the reduce's 6; 13 with the five-job
    # gate (two null counts and a uniqueness check in a union) that
    # ran before the reduce
    assert n == 11


def test_gate_jobs_run_in_the_callers_job_group(spark, gated, monkeypatch):
    """The gate runs its 3 jobs in the caller's job group: inline on a
    tick without a reduce (as on most serve_loop ticks), and from a
    thread that inherits the group beside a reduce (stubbed here to
    run no job)."""
    def tick(**kwargs):
        out = run_cycle(spark, TEST_SF_DIR, gated, now=NOW, generate=False,
                        ingest=False, quality_gate=True, **kwargs)
        assert set(out["quality"]) == {
            "not_null:o_orderkey", "not_null:o_custkey",
            "unique:o_orderkey"}

    def no_thread(*args, **kwargs):
        raise AssertionError("a gate alone needs no thread")

    with monkeypatch.context() as m:
        m.setattr(workflow, "_Background", no_thread)
        assert _jobs_in_group(spark, tick) == 3
    monkeypatch.setattr(workflow, "query_reduce", lambda *a, **k: {})
    assert _jobs_in_group(spark, lambda: tick(reduce=True)) == 3
    assert not _gate_threads()


def test_gate_error_is_raised_after_the_reduce(spark, gated, monkeypatch):
    """A gate that fails (a corrupt orders part file) does not stop
    the reduce: its error is raised only once the reduce has
    returned, and no gate thread is left alive."""
    part = _corrupt_orders(gated)
    events = []

    def reduce_after_gate(*args, **kwargs):
        # finish only after the gate has failed
        for t in _gate_threads():
            t.join(timeout=60)
        events.append("reduced")
        return {}

    monkeypatch.setattr(workflow, "query_reduce", reduce_after_gate)
    with pytest.raises(Exception) as exc:
        run_cycle(spark, TEST_SF_DIR, gated, now=NOW, generate=False,
                  ingest=False, quality_gate=True, reduce=True)
    assert events == ["reduced"]
    assert part in str(exc.value)  # the gate's read error
    assert not _gate_threads()


def test_reduce_error_wins_over_the_gate(spark, gated, monkeypatch):
    """When the reduce and the gate both fail, the reduce's error is
    raised, and the gate thread has been joined."""
    _corrupt_orders(gated)

    def failing_reduce(*args, **kwargs):
        for t in _gate_threads():
            t.join(timeout=60)
        raise RuntimeError("the reduce failed")

    monkeypatch.setattr(workflow, "query_reduce", failing_reduce)
    with pytest.raises(RuntimeError, match="the reduce failed"):
        run_cycle(spark, TEST_SF_DIR, gated, now=NOW, generate=False,
                  ingest=False, quality_gate=True, reduce=True)
    assert not _gate_threads()


def _gold_rows(spark, results):
    return {
        seg: [tuple(r) for r in spark.read.parquet(
            os.path.join(results, f"{seg.lower()}.snappy.parquet")
        ).collect()]
        for seg in SEGMENTS
    }


def test_reduce_failure_keeps_previous_gold(spark, tmp_path):
    """Every segment is ranked before the first gold file is
    overwritten: a reduce that fails — in the ranking job or at load —
    leaves all five previous gold files intact."""
    root = str(tmp_path)
    run_cycle(spark, TEST_SF_DIR, root, now=NOW, reduce=True, k=5)
    results = os.path.join(root, "results")
    lineitem = os.path.join(root, "processed", "lineitem")
    old = _gold_rows(spark, results)
    assert all(old.values())

    # a data file vanishes: the load succeeds (the sink's log lists
    # it), the ranking job fails
    os.remove(os.path.join(lineitem, sorted(_parts(lineitem))[-1]))
    with pytest.raises(Exception):
        query_reduce(spark, os.path.join(root, "processed"), results,
                     cutoff=NOW, k=5)
    assert results_ready(results) and _gold_rows(spark, results) == old

    shutil.rmtree(lineitem)
    with pytest.raises(AnalysisException):
        query_reduce(spark, os.path.join(root, "processed"), results,
                     cutoff=NOW, k=5)
    assert results_ready(results) and _gold_rows(spark, results) == old


# --- atomic gold publish: ``results`` -> ``.results-<uuid>`` ------------

def _generations(results):
    parent = os.path.dirname(results)
    return sorted(e for e in os.listdir(parent) if e.startswith(".results-"))


def test_publish_reader_never_sees_partial_gold(spark, lake, tmp_path):
    """A reader that resolves the gold zone once per poll and reads all
    five segments from that generation never sees a missing segment,
    a partial one or a read error while 20 reduces publish."""
    results = str(tmp_path / "results")
    paths = query_reduce(spark, lake, results, cutoff=LAKE_CUTOFF, k=5)
    want = {seg: pd.read_parquet(p) for seg, p in paths.items()}
    assert all(len(df) == 5 for df in want.values())
    stop, problems, polls = threading.Event(), [], [0]

    def reader():
        while not stop.is_set():
            try:
                if not results_ready(results):
                    problems.append("not ready")
                    continue
                gen = os.path.realpath(results)
                for seg in SEGMENTS:
                    got = pd.read_parquet(os.path.join(
                        gen, f"{seg.lower()}.snappy.parquet"))
                    if not got.equals(want[seg]):
                        problems.append(f"{seg}: {len(got)} rows differ")
                polls[0] += 1
            except Exception as exc:  # every read error is a finding
                problems.append(repr(exc))

    t = threading.Thread(target=reader, daemon=True)
    t.start()
    try:
        for _ in range(19):
            query_reduce(spark, lake, results, cutoff=LAKE_CUTOFF, k=5)
    finally:
        stop.set()
        t.join(timeout=60)
    assert not t.is_alive()
    assert polls[0] > 0 and problems == []
    assert os.path.islink(results) and len(_generations(results)) == 2


def test_publish_fault_before_flip_keeps_previous_gold(
    spark, lake, tmp_path, monkeypatch
):
    """A fault between the generation write and the symlink flip
    leaves the previous gold readable and unchanged, and deletes the
    new generation."""
    results = str(tmp_path / "results")
    query_reduce(spark, lake, results, cutoff=LAKE_CUTOFF, k=5)
    old, gens = _gold_rows(spark, results), _generations(results)

    def fail(*args, **kwargs):
        raise OSError("fault before the flip")

    monkeypatch.setattr(os, "replace", fail)
    with pytest.raises(OSError, match="before the flip"):
        query_reduce(spark, lake, results, cutoff=LAKE_CUTOFF, k=3)
    monkeypatch.undo()
    assert results_ready(results) and _gold_rows(spark, results) == old
    assert _generations(results) == gens
    assert sorted(os.listdir(tmp_path)) == [*gens, "results"]


def test_publish_migrates_real_results_dir(
    spark, lake, tmp_path, monkeypatch
):
    """A gold zone that is a real directory (written before publishing
    by symlink) is moved aside on the first publish, kept as the
    previous generation, and deleted by the next publish.  A publish
    that fails to make its symlink leaves that directory in place."""
    results = str(tmp_path / "results")
    os.makedirs(os.path.join(results, "automobile.snappy.parquet"))

    def fail(*args, **kwargs):
        raise OSError("no symlinks here")

    monkeypatch.setattr(os, "symlink", fail)
    with pytest.raises(OSError, match="no symlinks"):
        query_reduce(spark, lake, results, cutoff=LAKE_CUTOFF, k=5)
    monkeypatch.undo()
    assert not os.path.islink(results)
    assert os.listdir(results) == ["automobile.snappy.parquet"]
    assert os.listdir(tmp_path) == ["results"]

    query_reduce(spark, lake, results, cutoff=LAKE_CUTOFF, k=5)
    assert os.path.islink(results) and results_ready(results)
    current = os.path.basename(os.path.realpath(results))
    (moved,) = set(_generations(results)) - {current}
    assert os.listdir(tmp_path / moved) == ["automobile.snappy.parquet"]
    query_reduce(spark, lake, results, cutoff=LAKE_CUTOFF, k=5)
    assert _generations(results) == sorted(
        [current, os.path.basename(os.path.realpath(results))])


def test_reduce_rejects_a_segment_subset(spark, lake, tmp_path):
    """A generation replaces the whole gold zone, so a call naming
    fewer than the five segments is refused and the served gold stays
    as it was."""
    results = str(tmp_path / "results")
    query_reduce(spark, lake, results, cutoff=LAKE_CUTOFF, k=5)
    old, gens = _gold_rows(spark, results), _generations(results)
    for segments in (SEGMENTS[:2], (*SEGMENTS, "AUTOMOBILE")):
        with pytest.raises(ValueError, match="publishes all of"):
            query_reduce(spark, lake, results, cutoff=LAKE_CUTOFF, k=3,
                         segments=segments)
    assert results_ready(results) and _gold_rows(spark, results) == old
    assert _generations(results) == gens


def test_publish_keeps_at_most_two_generations(spark, lake, tmp_path):
    """Each publish keeps the new generation and the one it replaced;
    older generations are deleted."""
    results = str(tmp_path / "results")
    previous = None
    for n in range(1, 5):
        query_reduce(spark, lake, results, cutoff=LAKE_CUTOFF, k=5)
        current = os.path.basename(os.path.realpath(results))
        assert _generations(results) == sorted(
            g for g in (current, previous) if g)
        assert len(_generations(results)) == min(n, 2)
        previous = current


@pytest.mark.slow
def test_serve_loop_cadences(spark, tmp_path_factory):
    """workflow.serve_loop (reference workflow.py:12-39 deployment
    cadences): ≥3 ticks advance the clock 15 min apart; compact fires on
    tick multiples only, reduce on its own multiples, and the health
    check (results_ready ≙ reference dashboard.py:24-32) flips true
    once the first reduce lands."""
    from etl_tpch_spark.pipeline.workflow import serve_loop

    root = str(tmp_path_factory.mktemp("serve"))
    clock = iter(NOW + timedelta(minutes=15 * i) for i in range(10))
    outs = serve_loop(
        spark, TEST_SF_DIR, root,
        ticks=4, compact_every=2, reduce_every=3,
        now_fn=lambda: next(clock), k=5,
    )
    assert [o["tick"] for o in outs] == [0, 1, 2, 3]
    assert [("compact" in o) for o in outs] == [True, False, True, False]
    assert [("reduce" in o) for o in outs] == [True, False, False, True]
    # all five segment results exist from tick 0's reduce onward
    assert all(o["ready"] for o in outs)
    # every tick generated + ingested (the 15-min cadence stages)
    assert all("generate" in o and "ingest" in o for o in outs)


@pytest.mark.slow  # r9 tier rebalance (VERDICT r8 #5): ~8 s lifecycle e2e
def test_dashboard_html_export(spark, tmp_path_factory):
    """render_dashboard_html (the reference's web dashboard as a
    static gold-zone artifact): one self-contained page with every
    segment's formatted top orders — the same hash-checked
    format_for_display values the terminal form prints."""
    import re

    from etl_tpch_spark.pipeline.serving import (
        format_for_display,
        render_dashboard_html,
    )
    from etl_tpch_spark.pipeline.workflow import run_cycle

    root = str(tmp_path_factory.mktemp("dash"))
    run_cycle(spark, TEST_SF_DIR, root, now=NOW, reduce=True, k=5)
    results = os.path.join(root, "results")
    out = render_dashboard_html(
        spark, results, os.path.join(root, "dash.html"), limit=5
    )
    page = open(out).read()
    # all five segment sections + anchors are present
    for seg in ("automobile", "building", "furniture",
                "household", "machinery"):
        assert f'id="{seg}"' in page, seg
        assert f'href="#{seg}"' in page
    # the rows are the display transform's values, verbatim
    seg_path = os.path.join(results, "building.snappy.parquet")
    want = format_for_display(spark.read.parquet(seg_path)).limit(5)
    for r in want.collect():
        assert str(r["order_id"]) in page
        assert r["revenue_display"] in page
        assert r["order_date"] in page
    # self-contained: no external resources requested
    assert not re.search(r'src=|link rel|https?://', page)
