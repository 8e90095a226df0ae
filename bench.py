"""Benchmark harness — the driver runs this per-round → BENCH_r{N}.json.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ..., "calibration": {...},
"anomalies": [...]}.

Timing protocol: warm-engine measurement — each headline query first
runs once at sf0.001 (same plans/codegen, negligible data) so JVM JIT,
whole-stage-codegen compilation and catalog setup are paid outside the
timed region; then each query is timed at the target SF as plan-build +
execute-to-count (results are small; count forces full execution of
every operator).  This isolates per-query execution cost — the number
that scales with data — from fixed session startup, which at 100 TB is
amortized over hours of queries.  Each query then reports its best of
SPARK_GRAFT_BENCH_REPEAT (default 3) executions — the standard warm-run
protocol, robust to background load (queries that cache an internal
relation, e.g. LSH signatures, report their warm-cache cost, which is
their steady-state cost in a long-lived session).

Box-drift calibration (VERDICT r8 #4, interleaved r11 per VERDICT r10
#3): this box's wall clock swings ±35% across sessions on UNCHANGED
code (measured by interleaved snapshot-vs-HEAD A/B in rounds 4-8), so
cross-round nominal deltas bundle box state with code effects — and
BENCH_r10 proved a pre/post probe pair alone can MISS a phase change
that starts and ends inside the timed region.  A fixed Spark
shuffle-agg probe (no engine code under test) therefore runs before
the timed set, after it, AND every SPARK_GRAFT_BENCH_PROBE_EVERY
(default 5) timed queries; the JSON carries the full `probe_series`
(position, wall, drift vs the fixed round-9 anchor), the global
`drift` (min over all probes — unchanged r8 semantics), a
`drift_band` (max/min probe drift; >1.25x appends a non-fatal
`calibration` anomaly so a recorded bench self-declares "box moved
mid-run"), and per-query bracket-normalized walls
(`queries_drift_normalized`, see bracketing_drift).
`value_drift_normalized` = sum of the per-query normalized walls.
Probe drift measures the box, not the engine: the probe touches no
registry code or test data.  A DuckDB probe pair still brackets the
run so oracle-ratio artifacts can normalize their denominator.

Error surface (VERDICT r8 #6): a timed-query exception is recorded in
`anomalies` (query, stage, error) and forces exit code 1 — it can
never hide in the stderr tail; conversely a WARN-level stack fragment
in stderr with `anomalies: []` and rc=0 is affirmatively NOT a
failure.  Headline names missing from the registry abort immediately
(no silent truncation).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from etl_tpch_spark import registry  # noqa: E402
from etl_tpch_spark.session import get_spark  # noqa: E402

# Headline set: the flagship + representative heavy operators per family,
# including the LLM-data-pipeline ops (dedup/similarity/inference) so the
# bench tracks the whole engine, not just the relational core.
HEADLINE = [
    "flagship_unshipped_orders",
    "topk_per_segment_window",
    "q1_pricing_summary",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q9_product_type_profit",
    "q13_customer_distribution",
    "q18_large_orders",
    "q21_waiting_orders",
    "dedup_minhash_lsh",
    "graph_pagerank",
    "sim_ann_topk_ivf",
    "sim_kmeans_clusters",
    "text_quality_score",
    "sample_hash_split",
    "text_chunking",
    "text_contamination",
    "events_session_window",
    "inference_batch_scores",
    "multimodal_decode_lengths",
    "corpus_curation",
    "agg_hll_distinct_customers",
    "join_bloom_semi_orders",
    "text_bm25_topk",
    "sim_ann_topk_pq",
    "text_duplicate_spans",
    # BPE perf surface = the production trainer path (one word-count
    # job + driver merge loop + corpus join).  The K-round relational
    # mechanism demo text_bpe_merges is registered and hash-checked but
    # re-scoped out of the headline set (round 8, VERDICT r7 #2): its
    # named floor — K sequential count-shuffle rounds whose per-round
    # job overhead cannot amortize against DuckDB's in-process loop at
    # any scale the demo is runnable — is a property of the demo's
    # round structure, not of the engine's tokenizer path (SCALING.md
    # "BPE tokenizer training").
    "text_bpe_token_counts",
    "sim_contrastive_negatives_indexed",
    "join_bloom_semi_orders_unbounded",
    "search_hybrid_rrf",
    "search_hybrid_rrf_indexed",
    "text_bm25_topk_indexed",
    "sim_quantized_cosine_pairs_cells",
    "inference_gbtree_scores",
    "multimodal_near_dup_pairs",
    "text_bigram_lm_indexed",
    # round 8: the in-engine quality classifier's production shape
    # (stored-weights scoring; the trainer demo is oracle-gated)
    "text_quality_classifier_indexed",
    # round 11: the semi-structured tier gets a headline row (the
    # VARIANT path crossed below the oracle at 100x — SCALING.md
    # round-11; cross-round totals compare on common queries, so a
    # new name extends the series without breaking it)
    "events_variant_extract",
]

# Calibration anchors: warm best-of-3 probe walls measured INSIDE a
# full bench run (post-warmup-pass, fully hot JVM) on this box, round 9
# (2026-08-16).  The anchor is an arbitrary-but-FIXED reference point —
# what matters is that every round divides by the same constants,
# making drift-normalized walls comparable across rounds.  Do not
# re-measure these per round; that would erase the signal they exist
# to carry.
SPARK_PROBE_ANCHOR_SEC = 0.277
DUCKDB_PROBE_ANCHOR_SEC = 0.67


def _spark_probe(spark, reps: int = 5) -> float:
    """Fixed shuffle-agg over a constant synthetic range (no engine
    code, no test data): warm best-of-``reps`` wall in seconds."""
    best = None
    for _ in range(max(1, reps)):
        t0 = time.perf_counter()
        (
            spark.range(0, 60_000_000)
            .selectExpr("id % 997 AS g", "id * 31 AS v")
            .groupBy("g")
            .agg({"v": "sum"})
            .orderBy("g")
            .collect()
        )
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return round(best, 4)


def bracketing_drift(n_items: int, probes: list[tuple[int, float]]) -> list[float]:
    """Per-item drift factors from an interleaved probe series
    (VERDICT r10 #3 — BENCH_r10's end-only probes missed a mid-run box
    phase change that moved untouched queries 1.2-1.6x).

    ``probes`` is ``[(pos, drift)]`` where ``pos`` = number of timed
    items completed before that probe ran (0 = before the first item,
    ``n_items`` = after the last) and ``drift`` = probe wall / anchor.
    Item ``i`` (0-based) takes ``min(drift of the nearest probe at
    pos <= i, drift of the nearest probe at pos >= i+1)`` — the same
    best-of statistic as the per-query timings and the old global
    ``min(pre, post)``, applied per bracket: a transient load spike AT
    a probe point can deflate at most its own bracket's candidates,
    never inflate a normalized wall (normalized = wall / drift, so
    picking the SMALLER bracketing drift is the conservative,
    can't-overclaim-speedup direction), while a genuine phase change
    between two probes reaches every item on its own side of the
    boundary.  The full series is emitted in the JSON so any consumer
    can recompute a different statistic."""
    if not probes:
        return [1.0] * n_items
    by_pos = sorted(probes)
    factors = []
    for i in range(n_items):
        left = [d for p, d in by_pos if p <= i]
        right = [d for p, d in by_pos if p >= i + 1]
        cands = ([left[-1]] if left else []) + ([right[0]] if right else [])
        factors.append(min(cands))
    return factors


def _duckdb_probe() -> float:
    """Fixed group-agg over a constant synthetic range in DuckDB
    (the oracle engine's side of the ratio): warm best-of-5 wall."""
    try:
        import duckdb
    except ImportError:
        return float("nan")
    con = duckdb.connect()
    q = (
        "SELECT g, sum(v) FROM (SELECT range % 997 AS g, "
        "range * 31 AS v FROM range(30000000)) GROUP BY g ORDER BY g"
    )
    best = None
    for _ in range(5):
        t0 = time.perf_counter()
        con.execute(q).fetchall()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    con.close()
    return round(best, 4)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("etl_tpch_spark-bench")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warmup JVM

    all_queries = registry.load_all()
    missing = sorted(set(HEADLINE) - set(all_queries))
    if missing:
        # no-silent-truncation convention: a renamed or unregistered
        # headline query must not quietly vanish from the total.
        raise SystemExit(
            f"bench: headline queries missing from registry: {missing}"
        )
    names = list(HEADLINE)
    extra = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    if extra:
        names = [n for n in extra.split(",") if n]
        unknown = sorted(set(names) - set(all_queries))
        if unknown:
            raise SystemExit(
                f"bench: requested queries not in registry: {unknown}"
            )
    # rc-propagation self-test hook (tests/test_bench_contract.py):
    # named queries raise deliberately inside the timed loop, proving
    # a real exception reaches `anomalies` and exit code 1.
    force_error = {
        n
        for n in os.environ.get("SPARK_GRAFT_BENCH_FORCE_ERROR", "").split(
            ","
        )
        if n
    }

    anomalies: list[dict[str, str]] = []

    warm_dir = os.environ.get(
        "SPARK_GRAFT_WARMUP_SF_DIR", "/root/testdata/sf0.001"
    )
    if os.path.exists(warm_dir) and warm_dir != sf_dir:
        for name in names:  # compile codegen paths outside timed region
            try:
                all_queries[name].fn(spark, warm_dir).count()
            except Exception as exc:  # warmup must never fail the bench
                print(f"# warmup {name} failed: {exc}", file=sys.stderr)
                anomalies.append(
                    {"query": name, "stage": "warmup", "error": repr(exc)}
                )

    # Interleaved probe series (VERDICT r10 #3): the pre/post pair
    # alone cannot see a box-phase change that starts and ends inside
    # the timed region — BENCH_r10 recorded drift 1.21 while untouched
    # queries moved 1.2-1.6x.  A lighter best-of-3 probe fires every
    # PROBE_EVERY timed queries (~0.9 s each, outside every timed
    # region); per-query normalization brackets each query between its
    # neighboring probes (bracketing_drift above).
    probe_every = int(
        os.environ.get("SPARK_GRAFT_BENCH_PROBE_EVERY", "5")
    )
    probe_series: list[dict] = []

    def _record_probe(pos: int, reps: int) -> float:
        w = _spark_probe(spark, reps)
        probe_series.append(
            {
                "pos": pos,
                "wall_sec": w,
                "drift": round(w / SPARK_PROBE_ANCHOR_SEC, 4),
                "reps": reps,
            }
        )
        return w

    spark_probe_pre = _record_probe(0, 5)
    duckdb_probe_pre = _duckdb_probe()

    repeat = int(os.environ.get("SPARK_GRAFT_BENCH_REPEAT", "3"))
    timings: dict[str, float] = {}
    # first-rep walls (VERDICT r11 #4): the best-of-N headline reports
    # warm steady state; rep 1 additionally carries every within-
    # process amortization (cache.memo entries: query-term and
    # probe-routing memos, persisted-frame builds), so emitting it
    # beside the best makes the warm-protocol amortization a
    # MEASUREMENT instead of a docstring claim, and bounds any future
    # session cache's cold cost.  Additions-only: the headline metric
    # is unchanged.
    first_reps: dict[str, float] = {}
    for idx, name in enumerate(names):
        fn = all_queries[name].fn
        best, n = None, 0
        try:
            if name in force_error:
                raise RuntimeError(f"forced test error for {name}")
            for _ in range(max(1, repeat)):  # best-of-N: shed load noise
                t0 = time.perf_counter()
                n = fn(spark, sf_dir).count()
                dt = time.perf_counter() - t0
                if name not in first_reps:
                    first_reps[name] = round(dt, 4)
                best = dt if best is None else min(best, dt)
        except Exception as exc:
            # a timed-query failure is a FATAL bench anomaly: record it
            # structurally and poison the exit code — never just a
            # stack fragment in the stderr tail (VERDICT r8 #6)
            print(f"# ERROR {name}: {exc!r}", file=sys.stderr)
            anomalies.append(
                {"query": name, "stage": "timed", "error": repr(exc)}
            )
        else:
            timings[name] = round(best, 4)
            print(
                f"# {name}: {timings[name]:.3f}s ({n} rows)",
                file=sys.stderr,
            )
        done = idx + 1
        if probe_every > 0 and done % probe_every == 0 and done < len(names):
            _record_probe(done, 3)

    spark_probe_post = _record_probe(len(names), 5)
    duckdb_probe_post = _duckdb_probe()

    # drift = how slow the BOX is running relative to the anchor
    # session.  The global factor keeps its r8 definition — min over
    # all probes / the fixed anchor, the same best-of statistic as the
    # per-query timings, so a transient load spike at any single probe
    # point can't inflate it — while the interleaved series refines
    # normalization per query (bracketing_drift).  Drift remains the
    # instrument for the BROAD ±35% box swings (uniform inflation on
    # untouched queries), not for single-query disputes — those still
    # escalate to the interleaved snapshot-vs-HEAD A/B (SCALING.md
    # round-9 note).  DuckDB probe reported alongside so oracle-ratio
    # artifacts can normalize their denominator the same way.
    probe_drifts = [p["drift"] for p in probe_series]
    drift = min(probe_drifts)
    drift_band = round(max(probe_drifts) / min(probe_drifts), 4)
    if drift_band > 1.25:
        # the box measurably changed speed mid-run: the recorded
        # nominal walls straddle phases, so this artifact self-declares
        # it (non-fatal — exit code stays driven by timed failures)
        anomalies.append(
            {
                "query": "<calibration>",
                "stage": "calibration",
                "error": (
                    f"box moved mid-run: probe drift spans "
                    f"{min(probe_drifts):.4f}..{max(probe_drifts):.4f} "
                    f"(band {drift_band:.2f}x > 1.25x)"
                ),
            }
        )
    per_query_factor = dict(
        zip(
            names,
            bracketing_drift(
                len(names), [(p["pos"], p["drift"]) for p in probe_series]
            ),
        )
    )
    queries_drift_normalized = {
        name: round(wall / per_query_factor[name], 4)
        for name, wall in timings.items()
    }
    duck_vals = [
        v for v in (duckdb_probe_pre, duckdb_probe_post) if v == v
    ]
    duckdb_drift = (
        round(min(duck_vals) / DUCKDB_PROBE_ANCHOR_SEC, 4)
        if duck_vals
        else None
    )

    # A failed timed query stays visible in `queries` as null, and the
    # totals are withheld (null) whenever one exists: a total over a
    # smaller query set looks like a speedup to any tooling that reads
    # the JSON line before (or without) checking the exit code, so a
    # partial total must never be emitted where a full one is expected
    # (ADVICE r9).
    timed_failed = any(a["stage"] == "timed" for a in anomalies)
    emitted_queries: dict[str, float | None] = dict(timings)
    for a in anomalies:
        if a["stage"] == "timed":
            emitted_queries[a["query"]] = None
    total = (
        None if timed_failed else round(sum(timings.values()), 4)
    )
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_runtime",
                "value": total,
                "unit": "sec",
                "queries": emitted_queries,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "calibration": {
                    "spark_probe_pre_sec": spark_probe_pre,
                    "spark_probe_post_sec": spark_probe_post,
                    "spark_probe_anchor_sec": SPARK_PROBE_ANCHOR_SEC,
                    "duckdb_probe_pre_sec": duckdb_probe_pre,
                    "duckdb_probe_post_sec": duckdb_probe_post,
                    "duckdb_probe_anchor_sec": DUCKDB_PROBE_ANCHOR_SEC,
                    "drift": round(drift, 4),
                    "duckdb_drift": duckdb_drift,
                    "probe_series": probe_series,
                    "probe_every": probe_every,
                    "drift_band": drift_band,
                },
                # sum of per-query bracket-normalized walls (r11: the
                # interleaved series replaces whole-run division by the
                # global min — identical when the box held one phase,
                # phase-aware when it didn't); per-query values emitted
                # so cross-round per-query comparisons need no rework
                "value_drift_normalized": (
                    None
                    if total is None
                    else round(sum(queries_drift_normalized.values()), 4)
                ),
                "queries_drift_normalized": {
                    name: queries_drift_normalized.get(name)
                    for name in emitted_queries
                },
                # rep-1 walls (see first_reps above): best-of-N minus
                # this column = what the session caches amortize
                "queries_first_rep": {
                    name: first_reps.get(name)
                    for name in emitted_queries
                },
                "anomalies": anomalies,
            }
        )
    )
    if any(a["stage"] == "timed" for a in anomalies):
        sys.exit(1)


if __name__ == "__main__":
    main()
