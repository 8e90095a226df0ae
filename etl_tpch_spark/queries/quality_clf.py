"""Quality-classifier queries — in-engine training of the fastText/
CCNet-style model gate (VERDICT r7 #3), plus the persisted-weights
twin.

``text_quality_classifier`` runs the WHOLE lifecycle relationally at
demo K: hashed n-gram presence features, K fixed-point batch-gradient
rounds (pipeline/quality_clf.py — the quantized-Lloyd determinism
recipe), then scores every document with the learned weights.  The
DuckDB oracle re-derives training as K unrolled CTE rounds (the
BPE/PQ recipe) and matches bit-for-bit — every quantity is BIGINT.

``text_quality_classifier_indexed`` is the production shape: weights
live in a TxTable artifact (catalog.artifact_store generation dirs),
a fresh session opens the stored fit instead of retraining, and the
daily tick scores ONLY new batches (QualityClfIndex.score_batch).
Same output, same oracle — equality is structural (the stored weights
are the deterministic trainer's own output).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import Tables
from ..pipeline.quality_clf import (
    CLF_BUCKETS,
    CLF_REF_SOURCE,
    CLF_ROUNDS,
    CLF_TRAINER_VERSION,
    F_SCALE,
    LR_DEN,
    QualityClfIndex,
    doc_features,
    class_counts,
    score_with_weights,
    sql_doc_features,
    train_logreg,
    training_frame,
)
from ..registry import query

# ---------------------------------------------------------------- oracle


def _clf_ctes(rounds: int = CLF_ROUNDS) -> str:
    """Training as unrolled CTE rounds; w{rounds} is the final weight
    table.  All arithmetic BIGINT; every integer division sees a
    non-negative operand (clamp-before-divide for the sigmoid, the
    CASE floordiv for the update), so DuckDB's truncating ``//`` and
    the trainer's flooring update agree exactly.  Residuals are
    class-balanced (weighted by the opposite class's count — the nn
    CTE), matching pipeline/quality_clf.py train_logreg."""
    f8, f4 = 8 * F_SCALE, 4 * F_SCALE
    g0 = "COALESCE(g.g, 0)"
    d = f"(2 * {LR_DEN} * nn.n_pos * nn.n_neg)"
    parts = [
        f"feat AS (SELECT * FROM {sql_doc_features()})",
        f"""nn AS (
            SELECT CAST(count(*) FILTER (
                       source = '{CLF_REF_SOURCE}') AS BIGINT) AS n_pos,
                   CAST(count(*) FILTER (
                       source <> '{CLF_REF_SOURCE}') AS BIGINT) AS n_neg
            FROM documents
        )""",
        f"""lab AS (
            SELECT doc_id,
                   CASE WHEN source = '{CLF_REF_SOURCE}'
                        THEN CAST({F_SCALE} AS BIGINT)
                        ELSE CAST(0 AS BIGINT) END AS yF,
                   CASE WHEN source = '{CLF_REF_SOURCE}'
                        THEN nn.n_neg ELSE nn.n_pos END AS m
            FROM documents CROSS JOIN nn
        )""",
        f"""w0 AS (
            SELECT CAST(range AS BIGINT) AS b, CAST(0 AS BIGINT) AS w
            FROM range(0, {CLF_BUCKETS + 1})
        )""",
    ]
    for k in range(1, rounds + 1):
        parts.append(
            f"""z{k} AS (
            SELECT f.doc_id, CAST(sum(w.w) AS BIGINT) AS z
            FROM feat f JOIN w{k-1} w USING (b) GROUP BY 1
        ), r{k} AS (
            SELECT z.doc_id,
                   CAST((GREATEST(0, LEAST({f8}, z.z + {f4})) // 8
                        - lab.yF) * lab.m AS BIGINT) AS r
            FROM z{k} z JOIN lab USING (doc_id)
        ), g{k} AS (
            SELECT f.b, CAST(sum(r.r) AS BIGINT) AS g
            FROM feat f JOIN r{k} r USING (doc_id) GROUP BY 1
        ), w{k} AS (
            SELECT w.b,
                   CAST(w.w - CASE WHEN {g0} >= 0 THEN {g0} // {d}
                        ELSE -((-{g0} + {d} - 1) // {d}) END
                        AS BIGINT) AS w
            FROM w{k-1} w LEFT JOIN g{k} g USING (b) CROSS JOIN nn
        )"""
        )
    return ",\n".join(parts)


_SQL_CLF = f"""
    WITH {_clf_ctes()},
    zf AS (
        SELECT f.doc_id, CAST(sum(w.w) AS BIGINT) AS score_q
        FROM feat f JOIN w{CLF_ROUNDS} w USING (b) GROUP BY 1
    )
    SELECT d.doc_id, d.source,
           CAST(CASE WHEN d.source = '{CLF_REF_SOURCE}'
                THEN 1 ELSE 0 END AS BIGINT) AS label,
           zf.score_q,
           CAST(GREATEST(0, LEAST({8 * F_SCALE},
                zf.score_q + {4 * F_SCALE})) // 8 AS BIGINT)
             AS prob_micro,
           (zf.score_q >= 0) AS keep
    FROM documents d JOIN zf USING (doc_id)
"""


# ---------------------------------------------------------------- engine


def _scored(t: Tables, w: list[int]) -> DataFrame:
    """Score every document with the weight vector — one projection
    chain off one corpus scan (features, label, fold, gate all ride
    the same select; no self-join, no shuffle anywhere in the plan)."""
    from ..functions.text import tokens
    from ..pipeline.quality_clf import (
        _BUCKETS_EXPR,
        _hard_sigmoid_expr,
        _z_fold,
    )

    return (
        t.documents.select(
            "doc_id",
            "source",
            F.when(F.col("source") == CLF_REF_SOURCE, F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("label"),
            tokens(F.col("text")).alias("W"),
        )
        .withColumn("buckets", F.expr(_BUCKETS_EXPR))
        .withColumn("score_q", _z_fold(w))
        .select(
            "doc_id",
            "source",
            "label",
            "score_q",
            F.expr(_hard_sigmoid_expr("score_q")).alias("prob_micro"),
            (F.col("score_q") >= 0).alias("keep"),
        )
    )


@query("text_quality_classifier", oracle=_SQL_CLF)
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the quality classifier IN-ENGINE and score every document:
    logistic regression (hard-sigmoid, fixed-point BIGINT) over hashed
    unigram+bigram presence buckets, labels = in-domain reference
    source split (source == 'src0', the wiki stand-in — the label
    convention fastText-based CCNet filters use), K batch-gradient
    rounds with driver-side (B+1)-row weight updates (the Lloyd/BPE
    pattern).  Output per doc: the raw fixed-point margin ``score_q``,
    the hard-sigmoid ``prob_micro`` and the ``keep`` gate.

    Scale shape: ONE checkpointed feature+label frame (one corpus row
    per doc, arrays of presence buckets — built in one projection off
    one scan), then per round one corpus pass: codegen array fold for
    z against the literal weight vector, explode dying in map-side
    partial aggregation, a (B+1)-row gradient collect.  Zero
    corpus-sized shuffles and zero joins in the whole lifecycle;
    scoring is a projection."""
    t = Tables(spark, sf_dir)
    feat_lab = training_frame(t.documents)
    n_pos, n_neg = class_counts(feat_lab)
    w = train_logreg(spark, feat_lab, n_pos, n_neg, CLF_ROUNDS)
    return _scored(t, w)


def _clf_index_for(spark: SparkSession, sf_dir: str) -> QualityClfIndex:
    from .similarity import _reused_index

    t = Tables(spark, sf_dir)
    return _reused_index(
        "quality-clf",
        sf_dir,
        f"{CLF_BUCKETS}-{CLF_ROUNDS}-{LR_DEN}-{CLF_REF_SOURCE}-"
        f"{CLF_TRAINER_VERSION}",
        QualityClfIndex,
        lambda p: _build_clf(spark, t, p),
        table="documents",
    )


def _build_clf(
    spark: SparkSession, t: Tables, path: str
) -> QualityClfIndex:
    idx = QualityClfIndex(path)
    idx.retrain(spark, t.documents)
    return idx


@query("text_quality_classifier_indexed", oracle=_SQL_CLF)
def text_quality_classifier_indexed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The classifier gate from STORED weights (TxTable artifact, one
    generation per documents stamp — catalog.artifact_store): a fresh
    session opens the trained fit instead of re-running the K gradient
    rounds, and scoring is one projection over the corpus (the stored
    (B+1)-row weight vector embeds as a plan literal after a bounded
    read — the kmeans stored-centroid convention).  Same oracle as
    text_quality_classifier — training is deterministic integer
    arithmetic, so the stored weights ARE the in-query trainer's
    output (tests/test_quality_clf.py pins weight-table and output
    equality, plus the O(new) score_batch tick)."""
    idx = _clf_index_for(spark, sf_dir)
    t = Tables(spark, sf_dir)
    return _scored(t, idx.weights_list(spark))


@query("text_quality_classifier_join", oracle=_SQL_CLF)
def text_quality_classifier_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The LARGE-B scoring twin (VERDICT r8 #2): same stored weights,
    same output, but z computed by the broadcast-JOIN plan
    (pipeline/quality_clf.py score_with_weights_join — explode each
    doc's presence buckets, broadcast the (B+1)-row weight table, sum
    per doc; the LmIndex pattern) instead of the literal-array fold.
    This is the plan that scores a tick-sized batch against a
    production 10⁶-bucket gate, where the fold's per-plan literal toll
    (linear in B, measured 27 s at B=1M) stops amortizing — measured
    crossover and both regimes in SCALING.md "Classifier bucket-count
    scale axis".  Same oracle as the fold form: integer sums commute,
    so the two plans are output-identical (also asserted at every
    measured B in that SCALING.md section)."""
    from ..functions.text import tokens
    from ..pipeline.quality_clf import (
        _BUCKETS_EXPR,
        score_with_weights_join,
    )

    idx = _clf_index_for(spark, sf_dir)
    t = Tables(spark, sf_dir)
    # labels ride the feature projection into the explode's grouping
    # key — one corpus scan, zero corpus self-joins
    feat = (
        t.documents.select(
            "doc_id",
            "source",
            F.when(F.col("source") == CLF_REF_SOURCE, F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("label"),
            tokens(F.col("text")).alias("W"),
        )
        .withColumn("buckets", F.expr(_BUCKETS_EXPR))
    )
    scored = score_with_weights_join(
        feat, idx.weights(spark),
        passthrough=("doc_id", "source", "label"),
    )
    return scored.select(
        "doc_id",
        "source",
        "label",
        "score_q",
        "prob_micro",
        (F.col("score_q") >= 0).alias("keep"),
    )
