"""In-engine quality-classifier training (pipeline/quality_clf.py,
queries/quality_clf.py — VERDICT r7 #3).

Pins: (1) the relational trainer equals the pure-Python reference
trainer bit-for-bit at demo K; (2) in-domain docs out-score out-domain
(the filter's reason to exist — the same property test_curation_mining
pins for the reference LM); (3) the persisted-weights artifact
lifecycle: indexed twin == batch query, O(new) score_batch ticks from
stored weights as a pure projection, cold open, snapshot-isolated
retrain overwrite, idempotent setup hook.  (Generation staleness on
fixture/parameter change rides the shared artifact_store stamp recipe
— generically pinned in test_persisted_fit.py — plus the
CLF_TRAINER_VERSION tag in the stamp.)  Oracle hash-equality runs in
tests/test_oracle_diff.py like every registered query.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from etl_tpch_spark.catalog import Tables
from etl_tpch_spark.pipeline.quality_clf import (
    CLF_BUCKETS,
    CLF_REF_SOURCE,
    CLF_ROUNDS,
    QualityClfIndex,
    class_counts,
    doc_features,
    score_with_weights,
    score_with_weights_auto,
    train_logreg,
    train_logreg_driver,
    training_frame,
)
from etl_tpch_spark.queries.quality_clf import (
    text_quality_classifier,
    text_quality_classifier_indexed,
)


@pytest.fixture(scope="module")
def trained(spark, sf_dir):
    """(training frame, n_pos, n_neg, relational weights) — one
    training run shared across the equality tests."""
    t = Tables(spark, sf_dir)
    feat_lab = training_frame(t.documents)
    n_pos, n_neg = class_counts(feat_lab)
    w = train_logreg(spark, feat_lab, n_pos, n_neg, CLF_ROUNDS)
    return feat_lab, n_pos, n_neg, w


def test_relational_trainer_equals_python_reference(trained):
    feat_lab, n_pos, n_neg, w = trained
    rows = feat_lab.collect()
    feat_rows = [
        (r["doc_id"], b) for r in rows for b in r["buckets"]
    ]
    label_rows = {
        r["doc_id"]: (r["yF"], n_neg if r["yF"] > 0 else n_pos)
        for r in rows
    }
    w_ref = train_logreg_driver(
        feat_rows, label_rows, n_pos, n_neg, CLF_ROUNDS
    )
    assert w == w_ref


def test_training_learned_nonzero_discriminative_weights(trained):
    *_, w = trained
    assert len(w) == CLF_BUCKETS + 1
    assert any(x > 0 for x in w) and any(x < 0 for x in w)


def test_in_domain_outscores_out_domain(spark, sf_dir):
    out = text_quality_classifier(spark, sf_dir).collect()
    ref = [r.score_q for r in out if r.source == CLF_REF_SOURCE]
    rest = [r.score_q for r in out if r.source != CLF_REF_SOURCE]
    assert ref and rest
    assert sum(ref) / len(ref) > sum(rest) / len(rest)
    # the keep gate itself must be discriminative, not just the means
    keep_ref = sum(r.keep for r in out if r.source == CLF_REF_SOURCE)
    keep_rest = sum(r.keep for r in out if r.source != CLF_REF_SOURCE)
    assert keep_ref / len(ref) > keep_rest / len(rest)


def test_labels_match_sources(spark, sf_dir):
    out = text_quality_classifier(spark, sf_dir).collect()
    for r in out:
        assert r.label == (1 if r.source == CLF_REF_SOURCE else 0)
        assert r.keep == (r.score_q >= 0)
        assert 0 <= r.prob_micro <= 1_000_000


# ------------------------------------------------------- artifact store


def test_indexed_twin_equals_batch_query(spark, sf_dir):
    batch = {
        r.doc_id: (r.score_q, r.prob_micro, r.keep)
        for r in text_quality_classifier(spark, sf_dir).collect()
    }
    idx = {
        r.doc_id: (r.score_q, r.prob_micro, r.keep)
        for r in text_quality_classifier_indexed(spark, sf_dir).collect()
    }
    assert batch == idx


def test_cold_open_reads_stored_weights(spark, sf_dir, tmp_path):
    t = Tables(spark, sf_dir)
    path = str(tmp_path / "clf")
    idx = QualityClfIndex(path)
    w = idx.retrain(spark, t.documents)
    # a FRESH handle on the same path (new session stand-in) must read
    # the identical weight table without retraining
    reopened = QualityClfIndex(path)
    stored = {
        r["b"]: r["w"] for r in reopened.weights(spark).collect()
    }
    assert stored == dict(enumerate(w))


def test_score_batch_scores_only_new_docs(spark, sf_dir, tmp_path):
    """The O(new) tick: scoring a new batch touches stored weights +
    the batch only, and equals the full-scoring restricted to it."""
    t = Tables(spark, sf_dir)
    idx = QualityClfIndex(str(tmp_path / "clf"))
    w = idx.retrain(spark, t.documents)
    new_batch = t.documents.filter(F.col("doc_id") % 7 == 3)
    got = {
        r["doc_id"]: (r["score_q"], r["prob_micro"])
        for r in idx.score_batch(spark, new_batch).collect()
    }
    full = {
        r["doc_id"]: (r["score_q"], r["prob_micro"])
        for r in score_with_weights(
            doc_features(t.documents), w
        ).collect()
        if r["doc_id"] % 7 == 3
    }
    assert got == full
    assert len(got) > 0


def test_score_batch_plan_is_a_pure_projection(spark, sf_dir, tmp_path):
    """The tick plan touches ONLY the new batch: the stored weights
    enter as a plan literal after a bounded (B+1)-row index read, so
    the scoring plan has no join, no exchange, no corpus scan — one
    projection over the batch (the shape that stays O(new) at any
    stored-corpus size)."""
    t = Tables(spark, sf_dir)
    path = str(tmp_path / "clf")
    idx = QualityClfIndex(path)
    idx.retrain(spark, t.documents)
    new_docs = t.documents.filter(F.col("doc_id") % 7 == 3).select(
        "doc_id", "text"
    ).localCheckpoint(eager=True)  # sever the corpus lineage
    plan = idx.score_batch(spark, new_docs)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "documents.parquet" not in plan
    assert "Join" not in plan
    assert "Exchange" not in plan


def test_ensure_quality_classifier_trains_once(spark, sf_dir, tmp_path):
    """The daily-cadence setup hook is idempotent: the first call
    trains and stores; a re-call with a populated weight table skips
    (no new version) — scheduler restarts never retrain."""
    from etl_tpch_spark.pipeline.daily import ensure_quality_classifier

    t = Tables(spark, sf_dir)
    root = str(tmp_path)
    ensure_quality_classifier(spark, t.documents, root)
    idx = QualityClfIndex(os.path.join(root, "quality_clf"))
    v1 = idx.table.latest_version()
    assert v1 is not None
    ensure_quality_classifier(spark, t.documents, root)
    assert idx.table.latest_version() == v1


def test_retrain_overwrites_previous_weights(spark, sf_dir, tmp_path):
    t = Tables(spark, sf_dir)
    idx = QualityClfIndex(str(tmp_path / "clf"))
    w1 = idx.retrain(spark, t.documents, rounds=1)
    w2 = idx.retrain(spark, t.documents, rounds=CLF_ROUNDS)
    assert w1 != w2
    stored = {r["b"]: r["w"] for r in idx.weights(spark).collect()}
    assert stored == dict(enumerate(w2))
    # snapshot isolation: the pre-retrain version is still readable
    versions = idx.table.versions()
    prev = {
        r["b"]: r["w"]
        for r in idx.weights(spark, versions[-2]).collect()
    }
    assert prev == dict(enumerate(w1))


def test_single_class_corpus_fails_loudly():
    # ADVICE r8: a corpus without both classes must raise an explicit
    # ValueError before the round loop (not an opaque ZeroDivisionError
    # from the balanced denominator) — in both trainer twins.
    with pytest.raises(ValueError, match="both classes"):
        train_logreg_driver([], {}, n_pos=0, n_neg=7)
    with pytest.raises(ValueError, match="both classes"):
        train_logreg_driver([], {}, n_pos=7, n_neg=0)
    with pytest.raises(ValueError, match="both classes"):
        train_logreg(None, None, n_pos=0, n_neg=0)


def test_int64_gradient_headroom_fails_loudly():
    # ADVICE r8: past ~4M docs Spark's non-ANSI long sum wraps silently
    # while DuckDB promotes to HUGEINT and throws — the bound must be
    # asserted up front so oversized corpora fail instead of silently
    # corrupting weights.  2*F_SCALE*n_pos*n_neg >= 2**62 trips it.
    big = 2_000_000
    with pytest.raises(ValueError, match="headroom"):
        train_logreg(None, None, n_pos=big, n_neg=big)
    with pytest.raises(ValueError, match="headroom"):
        train_logreg_driver([], {}, n_pos=big, n_neg=big)
    # just under the bound constructs fine (empty corpus, zero rounds)
    ok = train_logreg_driver([], {}, n_pos=3, n_neg=5, rounds=0)
    assert ok == [0] * (CLF_BUCKETS + 1)


def test_join_scoring_twin_equals_fold(trained, spark, sf_dir):
    # the large-B scoring plan (explode + broadcast-join + per-doc sum)
    # must be output-identical to the literal-array fold — integer sums
    # commute, so equality is exact, not approximate
    from etl_tpch_spark.pipeline.quality_clf import (
        score_with_weights_join,
        weights_frame,
    )

    _, _, _, w = trained
    t = Tables(spark, sf_dir)
    feat = doc_features(t.documents)
    fold = {
        r["doc_id"]: (r["score_q"], r["prob_micro"])
        for r in score_with_weights(feat, w).collect()
    }
    join = {
        r["doc_id"]: (r["score_q"], r["prob_micro"])
        for r in score_with_weights_join(
            feat, weights_frame(spark, w)
        ).collect()
    }
    assert fold == join


def test_auto_dispatch_picks_fold_then_arrow(
    trained, spark, sf_dir, monkeypatch
):
    # below the measured crossover: the fold projection — zero joins,
    # zero Python; above it: the Arrow kernel (weights as a task
    # closure), still zero joins
    from etl_tpch_spark.pipeline import quality_clf as qc

    _, _, _, w = trained
    t = Tables(spark, sf_dir)
    feat = doc_features(t.documents)

    plan = qc.score_with_weights_auto(feat, w)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "Join" not in plan and "Arrow" not in plan

    monkeypatch.setattr(qc, "CLF_FOLD_MAX_BUCKETS", 8)
    plan = qc.score_with_weights_auto(feat, w)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "MapInArrow" in plan and "Join" not in plan


def test_arrow_scoring_and_training_equal_fold(
    trained, spark, sf_dir, monkeypatch
):
    # the Arrow z kernel is bit-identical to the fold in scoring AND
    # as the per-round z inside training (integer arithmetic — exact)
    from etl_tpch_spark.pipeline import quality_clf as qc

    feat_lab, n_pos, n_neg, w = trained
    t = Tables(spark, sf_dir)
    feat = doc_features(t.documents)

    fold = {
        (r["doc_id"], r["score_q"], r["prob_micro"])
        for r in score_with_weights(feat, w).collect()
    }
    arrow = {
        (r["doc_id"], r["score_q"], r["prob_micro"])
        for r in qc.score_with_weights_arrow(feat, w).collect()
    }
    assert fold == arrow

    # force the arrow-z training branch at the demo B (threshold down,
    # same n_buckets): the produced weight vector must be the fold
    # trainer's own, element for element
    monkeypatch.setattr(qc, "CLF_FOLD_MAX_BUCKETS", 8)
    w_arrow = qc.train_logreg(spark, feat_lab, n_pos, n_neg, CLF_ROUNDS)
    assert w_arrow == w


def test_join_twin_query_matches_indexed(spark, sf_dir):
    from etl_tpch_spark.queries.quality_clf import (
        text_quality_classifier_join,
    )

    base = {
        r["doc_id"]: (r["source"], r["label"], r["score_q"],
                      r["prob_micro"], r["keep"])
        for r in text_quality_classifier_indexed(spark, sf_dir).collect()
    }
    twin = {
        r["doc_id"]: (r["source"], r["label"], r["score_q"],
                      r["prob_micro"], r["keep"])
        for r in text_quality_classifier_join(spark, sf_dir).collect()
    }
    assert base == twin


def _gate_quality(docs, w) -> dict:
    """Precision/recall of keep = (score_q >= 0) against the in-domain
    label, plus the per-class mean scores, in one aggregate over the
    scored corpus.  Features hash at the model's own bucket count
    (len(w) - 1), exactly as the persisted artifact scores."""
    is_pos, keep = F.col("is_pos"), F.col("score_q") >= 0
    count = lambda cond: F.sum(F.when(cond, 1).otherwise(0))  # noqa: E731
    r = (
        score_with_weights_auto(doc_features(docs, len(w) - 1), w)
        .join(
            docs.select(
                "doc_id", (F.col("source") == CLF_REF_SOURCE).alias("is_pos")
            ),
            "doc_id",
        )
        .agg(
            count(is_pos & keep).alias("tp"),
            count(~is_pos & keep).alias("fp"),
            count(is_pos & ~keep).alias("fn"),
            F.avg(F.when(is_pos, F.col("score_q"))).alias("pos_mean"),
            F.avg(F.when(~is_pos, F.col("score_q"))).alias("neg_mean"),
        )
        .first()
    )
    tp, fp, fn = r["tp"], r["fp"], r["fn"]
    return {
        "precision": tp / (tp + fp) if tp + fp else None,
        "recall": tp / (tp + fn) if tp + fn else None,
        "pos_mean_score": r["pos_mean"],
        "neg_mean_score": r["neg_mean"],
    }


@pytest.mark.slow
def test_separation_and_gate_quality_sf01():
    """The separation gate pinned at sf0.1 (VERDICT r8 #8), with the
    keep-floor quality floors taken from the measured K-sweep
    (SCALING.md "Classifier quality at the keep floor"): at K=4 the
    gate measured precision 0.172 (3.4x the 5% base rate) and recall
    0.664 — pinned here with head-room so the test fails on a real
    separation regression, not on fixture jitter.  Runs against the fixed sf0.1 corpus regardless of the
    suite's SF (that is the point: the sf0.001/sf0.01 pins already
    ride the default suite via the sf_dir fixture)."""
    from etl_tpch_spark.session import get_spark

    spark = get_spark("etl_tpch_spark-tests")
    sf01 = "/root/testdata/sf0.1"
    docs = Tables(spark, sf01).documents
    feat_lab = training_frame(docs)
    n_pos, n_neg = class_counts(feat_lab)
    w = train_logreg(spark, feat_lab, n_pos, n_neg, CLF_ROUNDS)

    q = _gate_quality(docs, w)
    assert q["pos_mean_score"] > 0 > q["neg_mean_score"]
    base_rate = n_pos / (n_pos + n_neg)
    assert q["precision"] > 2 * base_rate  # measured 3.4x
    assert q["recall"] > 0.5  # measured 0.664


def test_needs_retrain_drift_gate(spark, sf_dir, tmp_path):
    """The classifier's IVF-style maintenance gate: <2 score ticks →
    False with no Spark job; a same-distribution tick → False; a
    keep-rate-shifted tick → True; a tiny shifted tick → False (noise
    guard)."""
    from etl_tpch_spark.pipeline.txlog import TxTable

    idx = QualityClfIndex(str(tmp_path / "clf"))
    t = Tables(spark, sf_dir)
    idx.retrain(spark, t.documents)
    scores_t = TxTable(str(tmp_path / "clf_scores"))

    # no ticks / one tick: short-circuit False
    assert not idx.needs_retrain(spark, scores_t)
    half = t.documents.filter(F.col("doc_id") % 2 == 0)
    scores_t.append(idx.score_batch(spark, half), batch_id="day1")
    assert not idx.needs_retrain(spark, scores_t)

    # second tick from the same distribution: keep-rate stable
    other = t.documents.filter(F.col("doc_id") % 2 == 1)
    scores_t.append(idx.score_batch(spark, other), batch_id="day2")
    assert not idx.needs_retrain(spark, scores_t)

    # a drifted tick: force every score to whichever side is farther
    # from the history's own keep-rate (the gate is two-sided)
    from etl_tpch_spark.pipeline.quality_clf import _keep_rate

    base_rate, _ = _keep_rate(scores_t.read(spark))
    forced = 10_000_000 if base_rate < 0.5 else -10_000_000
    drifted = idx.score_batch(spark, other).withColumn(
        "score_q", F.lit(forced).cast("long")
    )
    scores_t.append(drifted, batch_id="day3")
    assert idx.needs_retrain(spark, scores_t)

    # same drift but under min_rows: statistical-noise guard holds
    tiny_t = TxTable(str(tmp_path / "clf_scores_tiny"))
    tiny_t.append(idx.score_batch(spark, half), batch_id="day1")
    tiny = drifted.limit(5)
    tiny_t.append(tiny, batch_id="day2")
    assert not idx.needs_retrain(spark, tiny_t)
    # ...but an explicit lower floor sees it (5 uniform forced scores
    # are a full-size shift from the trained distribution)
    tiny_base, _ = _keep_rate(tiny_t.read(spark, tiny_t.versions()[0]))
    if abs((1.0 if forced > 0 else 0.0) - tiny_base) > 0.15:
        assert idx.needs_retrain(spark, tiny_t, min_rows=1)


@pytest.mark.slow  # trains a 64k-bucket model (~16 s); demo-B coverage stays default
def test_large_b_artifact_round_trip(spark, sf_dir, tmp_path):
    """VERDICT r9 #2: a 64k-bucket index round-trips
    train→persist→cold-load→score.  The STORED bucket count (not the
    module constant) drives both the feature hashing and the
    fold/Arrow dispatch, so the large-B artifact scores through the
    measured-winning Arrow plan — and that plan's output equals the
    fold plan's exactly (integer arithmetic)."""
    from etl_tpch_spark.pipeline import quality_clf as qc

    B = 65_536
    assert B > qc.CLF_FOLD_MAX_BUCKETS  # exercises the Arrow side
    t = Tables(spark, sf_dir)
    path = str(tmp_path / "clf64k")
    w = QualityClfIndex(path).retrain(
        spark, t.documents, n_buckets=B, rounds=2
    )
    assert len(w) == B + 1

    cold = QualityClfIndex(path)  # fresh object: nothing cached
    assert cold.weights_list(spark) == w

    batch = t.documents.filter(F.col("doc_id") % 5 == 1)
    scored = cold.score_batch(spark, batch)
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan and "Join" not in plan
    got = {
        (r["doc_id"], r["score_q"], r["prob_micro"])
        for r in scored.collect()
    }
    want = {
        (r["doc_id"], r["score_q"], r["prob_micro"])
        for r in score_with_weights(
            doc_features(batch, n_buckets=B), w
        ).collect()
    }
    assert got == want and len(got) > 0


@pytest.mark.slow  # trains at both bucket counts; demo-B tick coverage stays default
def test_daily_clf_stage_works_at_both_bucket_counts(
    spark, sf_dir, tmp_path
):
    """The daily scoring tick (the clf stage of pipeline/daily.py) is
    B-agnostic: the same append-to-scores-table tick runs unchanged
    against the demo-B artifact and a large-B one, replay-no-op held."""
    from etl_tpch_spark.pipeline.txlog import TxTable

    t = Tables(spark, sf_dir)
    batch = t.documents.filter(F.col("doc_id") % 7 == 3)
    n_batch = batch.count()
    for b in (CLF_BUCKETS, 65_536):
        idx = QualityClfIndex(str(tmp_path / f"clf{b}"))
        idx.retrain(spark, t.documents, n_buckets=b, rounds=1)
        st = TxTable(str(tmp_path / f"scores{b}"))
        st.append(idx.score_batch(spark, batch), batch_id="day1")
        assert st.read(spark).count() == n_batch
        st.append(idx.score_batch(spark, batch), batch_id="day1")
        assert len(st.versions()) == 1  # replay no-op


def test_needs_retrain_survives_rewrite_between_appends(
    spark, sf_dir, tmp_path
):
    """ADVICE r9: the gate's "new tick" side must be the tick's OWN
    rows even when a rewrite (OPTIMIZE/overwrite) lands between two
    appends.  With `new_files` recorded in the append entry the gate
    reads the delta directly; on a legacy log without the field and a
    broken subset invariant it answers a conservative False instead of
    silently diluting the drift signal."""
    import json as _json

    from etl_tpch_spark.pipeline.txlog import TxTable

    idx = QualityClfIndex(str(tmp_path / "clf"))
    t = Tables(spark, sf_dir)
    idx.retrain(spark, t.documents)
    half = t.documents.filter(F.col("doc_id") % 2 == 0)
    other = t.documents.filter(F.col("doc_id") % 2 == 1)

    scores_t = TxTable(str(tmp_path / "scores"))
    scores_t.append(
        idx.score_batch(spark, half).repartition(4), batch_id="day1"
    )
    # OPTIMIZE rewrite between the appends — must actually rewrite
    # (4 files → 1), or the subset invariant trivially holds
    scores_t.compact(spark, target_files=1)
    from etl_tpch_spark.pipeline.quality_clf import _keep_rate

    base_rate, _ = _keep_rate(scores_t.read(spark))
    forced = 10_000_000 if base_rate < 0.5 else -10_000_000
    drifted = idx.score_batch(spark, other).withColumn(
        "score_q", F.lit(forced).cast("long")
    )
    scores_t.append(drifted, batch_id="day2")
    # new_files present → the gate sees ONLY day2's rows → drift fires
    assert idx.needs_retrain(spark, scores_t)

    # legacy log: strip new_files from every entry; the optimize broke
    # the snapshot-subset invariant, so the set-difference fallback
    # must refuse (False) rather than compare diluted rates
    legacy = TxTable(scores_t.path)
    for v in legacy.versions():
        p = legacy._version_file(v)
        e = _json.load(open(p))
        e.pop("new_files", None)
        with open(p, "w") as f:
            _json.dump(e, f)
    legacy = TxTable(scores_t.path)  # fresh entry cache
    assert not idx.needs_retrain(spark, legacy)
