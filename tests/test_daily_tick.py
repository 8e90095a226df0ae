"""Integrated daily tick (pipeline/daily.py, VERDICT r3 #8): one
cadence call per simulated day drives crawl ingest → minhash dedup +
span-index + LM-scoring ticks (one shared checkpoint/batch id) → HLL
event ticks → corpus append → export, with per-day wall time recorded.

What THIS file pins is the whole cadence over three days: exactly-once
is shared across stages (HLL events included), export and retention
run, the drift gate retrains, and the per-day cost stays bounded as
the corpus grows (the 10× flatness measurement lives in SCALING.md
"Daily tick made O(new) end-to-end").

Slow tier (VERDICT r7 #5): the multi-day fixture is inherently
expensive (three full cadence days before any assertion); the module
runs under --run-slow.  The doc drain's default-gate coverage is
tests/test_crawl_drain.py: two staged days, each stage's store equal
to its batch definition, replays on the same checkpoint (or a wiped
one over the same files) advancing nothing."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from etl_tpch_spark.catalog import load_table
from etl_tpch_spark.pipeline.daily import (
    crawl_day_tick,
    crawl_serve_loop,
    ensure_quality_classifier,
    ensure_reference_lm,
)
from etl_tpch_spark.pipeline.txlog import TxTable

pytestmark = pytest.mark.slow


def _stage_docs(docs, path: str, day: int) -> None:
    docs.select("doc_id", "text", "lang", "source").coalesce(1).write.mode(
        "overwrite"
    ).json(os.path.join(path, f"day{day}.json"))


def _stage_events(events, path: str, day: int) -> None:
    events.select("event_id", "ts", "user_id").coalesce(1).write.mode(
        "overwrite"
    ).json(os.path.join(path, f"day{day}.json"))


@pytest.fixture(scope="module")
def three_days(spark, sf_dir, tmp_path_factory):
    """Three simulated crawl days over disjoint doc/event thirds, run
    through crawl_serve_loop against one lake root."""
    docs = load_table(spark, sf_dir, "documents")
    events = load_table(spark, sf_dir, "events")
    root = str(tmp_path_factory.mktemp("lake"))
    crawl = os.path.join(root, "crawlstage")
    evts = os.path.join(root, "eventstage")

    ensure_reference_lm(
        spark, docs.filter(F.col("doc_id") % 3 == 0), root
    )
    # train the model gate at setup: daily ticks then score each
    # batch against the STORED weights (no retraining in the cadence)
    ensure_quality_classifier(spark, docs, root)

    def stage_day(day: int):
        cd = os.path.join(crawl, f"d{day}")
        ed = os.path.join(evts, f"d{day}")
        _stage_docs(docs.filter(F.col("doc_id") % 3 == day), cd, day)
        _stage_events(
            events.filter(F.col("event_id") % 3 == day), ed, day
        )
        return cd, ed

    outs = crawl_serve_loop(spark, stage_day, root, days=3)
    return root, docs, events, outs


def test_three_days_cover_the_corpus(spark, three_days):
    """Every staged doc was either appended to the corpus or dropped
    for a recorded reason, and the split/quality invariants hold."""
    root, docs, _, outs = three_days
    assert len(outs) == 3
    total_staged = sum(
        c["n_new"] for o in outs for c in o["cycles"]
    )
    assert total_staged == docs.count()
    corpus = TxTable(os.path.join(root, "corpus")).read(spark)
    appended = sum(c["n_appended"] for o in outs for c in o["cycles"])
    dropped = sum(
        c["n_dup_dropped"] + c["n_quality_dropped"] + c["n_seen_dropped"]
        for o in outs
        for c in o["cycles"]
    )
    assert corpus.count() == appended == total_staged - dropped
    assert corpus.filter(F.col("quality") < 0.2).count() == 0
    assert set(
        r["split"] for r in corpus.select("split").distinct().collect()
    ) <= {"train", "validation", "test"}


def test_spans_scores_and_hll_accumulated(spark, three_days):
    """Each side store accumulated its per-suite result: span rows for
    duplicated text, one LM score row per staged doc, HLL registers
    covering every staged day."""
    root, docs, events, outs = three_days
    scores = TxTable(os.path.join(root, "scores")).read(spark)
    # LM scoring is per-doc and pre-dedup: one row per staged doc with
    # >= 2 tokens (sub-2-token docs yield no bigram rows)
    assert scores.select("doc_id").distinct().count() == docs.filter(
        F.size(F.split(F.trim(F.col("text")), r"\s+")) >= 2
    ).count()
    spans_t = TxTable(os.path.join(root, "spans"))
    assert spans_t.latest_version() is not None  # ticks all committed
    hll = TxTable(os.path.join(root, "hll_index")).read(spark)
    n_days = events.select(
        F.date_trunc("day", F.col("ts")).alias("d")
    ).distinct().count()
    assert hll.select("day").distinct().count() == n_days


def test_clf_scores_accumulated_from_stored_weights(spark, three_days):
    """The model gate scored every staged doc across the three days
    from the weights trained at setup — one score row per doc, and the
    scores equal a direct scoring pass with the stored weights (the
    tick never retrains, so stored-weight scoring IS the definition)."""
    from etl_tpch_spark.pipeline.quality_clf import (
        QualityClfIndex,
        doc_features,
        score_with_weights,
    )

    root, docs, _, outs = three_days
    got = TxTable(os.path.join(root, "clf_scores")).read(spark)
    assert got.select("doc_id").distinct().count() == docs.count()
    assert got.count() == docs.count()
    idx = QualityClfIndex(os.path.join(root, "quality_clf"))
    want = {
        r["doc_id"]: r["score_q"]
        for r in score_with_weights(
            doc_features(docs), idx.weights_list(spark)
        ).collect()
    }
    assert {
        r["doc_id"]: r["score_q"] for r in got.collect()
    } == want
    # every day's summary carried the stage timing
    assert all("clf" in c["stage_s"] for o in outs for c in o["cycles"])


def test_search_index_covers_staged_docs(spark, three_days):
    """The inverted index ingested every staged doc pre-dedup (one
    doclen row per doc), and a term probe is served from the index —
    lexical retrieval freshness rides the daily cadence."""
    from etl_tpch_spark.pipeline.search_index import SearchIndex

    root, docs, _, _ = three_days
    idx = SearchIndex(os.path.join(root, "search_index"))
    dl = idx.doclens.read(spark)
    assert dl.select("doc_id").distinct().count() == docs.count()
    top = idx.search(spark, ["the", "data"], 5).collect()
    assert len(top) > 0


def test_replay_day_is_noop(spark, three_days):
    """Re-running a whole day (same staged files, same checkpoints)
    mutates nothing in any store — the shared exactly-once story."""
    root, _, _, outs = three_days

    def versions():
        return {
            n: TxTable(os.path.join(root, n)).latest_version()
            for n in (
                "corpus", "spans", "scores", "dedup_index",
                "span_index", "hll_index", "clf_scores",
            )
        }

    before = versions()
    out = crawl_day_tick(
        spark,
        os.path.join(root, "crawlstage", "d2"),
        root,
        events_dir=os.path.join(root, "eventstage", "d2"),
    )
    assert versions() == before
    assert out["cycles"] == []  # checkpoint already drained the files


def test_export_shards_written(spark, three_days):
    root, _, _, outs = three_days
    assert "export" in outs[-1]
    export_dir = os.path.join(root, "export")
    shards = [f for f in os.listdir(export_dir) if "shard" in f.lower()]
    assert shards or os.listdir(export_dir)
    corpus = TxTable(os.path.join(root, "corpus")).read(spark)
    n_train = corpus.filter(F.col("split") == "train").count()
    assert sum(outs[-1]["export"].values()) == n_train


def test_per_day_wall_is_bounded(three_days):
    """Fixed-size daily batches against a growing corpus: day 3 must
    not cost more than 2× day 2 (the O(new)-per-tick shape; the strict
    10×-corpus flatness curve is recorded in SCALING.md "Daily tick
    made O(new) end-to-end" — this is the in-suite tripwire)."""
    _, _, _, outs = three_days
    walls = [o["wall_s"] for o in outs]
    assert len(walls) == 3
    assert walls[2] <= 2 * walls[1], walls


def test_vector_drain_extends_the_ann_index(spark, sf_dir, tmp_path):
    """The optional vectors_dir stage: staged embedding files ride
    assignment-only IVF ticks inside the same daily call — the index
    grows by O(new) per day, replays no-op, centroids never move."""
    from etl_tpch_spark.pipeline.daily import ensure_ann_index
    from etl_tpch_spark.similarity.index import IVFIndex

    emb = load_table(spark, sf_dir, "embeddings")
    seed = emb.filter(F.col("vec_id") % 4 != 3)
    newv = emb.filter(F.col("vec_id") % 4 == 3)
    root = str(tmp_path / "lake")
    ensure_ann_index(spark, seed, root)
    ensure_ann_index(spark, seed, root)  # idempotent setup
    docs = load_table(spark, sf_dir, "documents").limit(10)
    ensure_reference_lm(spark, docs, root)
    crawl = str(tmp_path / "crawl")
    vecs = str(tmp_path / "vectors")
    _stage_docs(docs, crawl, 1)
    newv.select("vec_id", "embedding").coalesce(1).write.mode(
        "overwrite"
    ).json(os.path.join(vecs, "day1.json"))

    out = crawl_day_tick(spark, crawl, root, vectors_dir=vecs)
    assert "vectors_s" in out
    idx = IVFIndex(os.path.join(root, "ivf_index"))
    assert idx.cells(spark).count() == emb.count()
    v = idx.cells_t.latest_version()
    # whole-day replay (same files, same checkpoints) is a no-op
    crawl_day_tick(spark, crawl, root, vectors_dir=vecs)
    assert idx.cells_t.latest_version() == v


def test_retention_vacuum_bounds_store_growth(spark, sf_dir, tmp_path):
    """The maintenance stage's retention policy: with
    retain_versions=1 every tick vacuums superseded generations, yet
    corpus contents, per-doc idempotence and whole-day replay no-ops
    all survive truncation (vacuum carries dropped batch ids forward).
    Without retention the version chain grows one commit per day
    forever — the O(days × corpus) storage leak this bounds.  Low
    compact_over_files forces daily compaction, which is what strands
    superseded file generations for vacuum to free (pure appends never
    orphan a file — every file stays referenced by the newest
    version)."""
    docs = load_table(spark, sf_dir, "documents").limit(60)
    root = str(tmp_path / "lake")
    crawl = str(tmp_path / "crawl")
    ensure_reference_lm(spark, docs, root)
    for day in (0, 1, 2):
        cd = os.path.join(crawl, f"d{day}")
        _stage_docs(docs.filter(F.col("doc_id") % 3 == day), cd, day)
        out = crawl_day_tick(
            spark, cd, root, retain_versions=1, compact_over_files=1
        )
        if day > 0:
            assert out.get("vacuumed_files", 0) > 0, out

    corpus = TxTable(os.path.join(root, "corpus"))
    # contents intact: every staged doc accounted for post-dedup/gate
    assert corpus.read(spark).count() > 0
    # the version chain is truncated, not accreting one-per-day:
    # latest data version + the vacuum marker, regardless of day count
    assert len(corpus.versions()) <= 2
    # exactly-once survives truncation: whole-day replay still no-ops
    before = {
        n: TxTable(os.path.join(root, n)).latest_version()
        for n in ("corpus", "spans", "scores", "dedup_index")
    }
    out = crawl_day_tick(
        spark, os.path.join(crawl, "d1"), root, retain_versions=1
    )
    after = {
        n: TxTable(os.path.join(root, n)).latest_version()
        for n in ("corpus", "spans", "scores", "dedup_index")
    }
    assert after == before
    assert out["cycles"] == []


def test_clf_drift_gate_retrains_and_recovers(spark, sf_dir, tmp_path):
    """Drift-retrain e2e (VERDICT r9 #7) — the classifier twin of the
    IVF drift decay curve: a vocabulary-shifted synthetic crawl
    actually TRIPS the maintenance gate inside a real daily tick, the
    retrain commits, and the next tick's keep-rate recovers.

    Day 1 stages a normal mixed crawl (keep-rate ≈ the out-domain
    base).  Day 2 stages in-domain content whose every token is
    vocabulary-shifted ("…v2"): the shifted n-grams hash into buckets
    the FROZEN model never trained, so genuinely in-domain content
    scores bias-dominated — the measured decay (0.92 → ~0.36 keep at
    sf0.001) — and the tick's keep-rate moves > max_keep_shift from
    history, firing needs_retrain.  The triggered retrain runs on the
    STORED corpus (which by then contains the day-2 survivors labeled
    with their in-domain source), so the new model learns the shifted
    vocabulary; day 3's shifted batch then keeps at the in-domain
    level again.  Keep-rate trajectory recorded in SCALING.md
    ("Classifier drift-retrain e2e")."""
    from etl_tpch_spark.pipeline.quality_clf import (
        CLF_REF_SOURCE,
        QualityClfIndex,
        _keep_rate,
    )

    docs = load_table(spark, sf_dir, "documents")
    root = str(tmp_path / "lake")
    crawl = str(tmp_path / "crawl")
    ensure_reference_lm(
        spark, docs.filter(F.col("doc_id") % 3 == 0), root
    )
    ensure_quality_classifier(spark, docs, root)
    clf_idx = QualityClfIndex(os.path.join(root, "quality_clf"))
    v0 = clf_idx.table.latest_version()
    clf_scores_t = TxTable(os.path.join(root, "clf_scores"))

    def shifted_batch(copies: range):
        # in-domain docs, every token suffixed — new vocabulary, same
        # content class; ≥50 rows (the gate's min_rows) via copies
        base = docs.filter(F.col("source") == CLF_REF_SOURCE)
        frames = [
            base.select(
                (F.col("doc_id") * 100 + 10_000_000 + c).alias("doc_id"),
                F.regexp_replace("text", r"(\S+)", r"$1v2").alias("text"),
                "lang",
                "source",
            )
            for c in copies
        ]
        out = frames[0]
        for f in frames[1:]:
            out = out.unionAll(f)
        return out

    def tick(day: int, frame):
        cd = os.path.join(crawl, f"d{day}")
        _stage_docs(frame, cd, day)
        # quality_floor=0: the heuristic quality gate is orthogonal to
        # this test and must not silently drop the synthetic batch
        return crawl_day_tick(spark, cd, root, quality_floor=0.0)

    def tick_keep_rate() -> float:
        # the tick's OWN rows, straight off the append entry's
        # new_files (the same O(new) read the gate itself uses)
        v = max(
            v
            for v in clf_scores_t.versions()
            if clf_scores_t.commit_entry(v)["op"] == "append"
        )
        files = [
            os.path.join(clf_scores_t.path, f)
            for f in clf_scores_t.commit_entry(v)["new_files"]
        ]
        rate, _ = _keep_rate(spark.read.parquet(*files))
        return rate

    # day 1: normal mixed crawl — no drift, no retrain
    out1 = tick(1, docs.filter(F.col("doc_id") % 2 == 0))
    assert "clf_retrained" not in out1
    k1 = tick_keep_rate()

    # day 2: vocabulary-shifted in-domain crawl — decayed scores move
    # the keep-rate past the gate inside the SAME daily tick
    out2 = tick(2, shifted_batch(range(3)))
    k2 = tick_keep_rate()
    assert abs(k2 - k1) > 0.15  # the shift the gate saw
    assert out2.get("clf_retrained") is True
    assert clf_idx.table.latest_version() > v0  # overwrite committed

    # the retrained model now knows the shifted vocabulary: the same
    # drifted content scores in-domain again…
    rec, n_rec = _keep_rate(
        clf_idx.score_batch(spark, shifted_batch(range(1)))
    )
    assert n_rec >= 25 and rec > 0.8

    # …and the NEXT tick's keep-rate recovers to the in-domain level
    out3 = tick(3, shifted_batch(range(3, 6)))
    k3 = tick_keep_rate()
    assert k3 > 0.8, (k1, k2, k3)
    print(f"keep-rate trajectory: day1={k1:.3f} day2={k2:.3f} day3={k3:.3f}")
