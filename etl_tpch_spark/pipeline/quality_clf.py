"""In-engine quality-classifier training — the fastText/CCNet-style
model-score gate, trained inside the engine (VERDICT r7 #3).

Completes the curation lifecycle: the engine already TRAINS its
statistical LM (pipeline/lm_index.py) and its tokenizer (queries/bpe.py)
in-engine, but the model-score gate (curation_model_filter,
functions/gbtree.py) only *applied* an externally-supplied model.  This
module trains the linear classifier itself: logistic regression over
hashed n-gram presence features, labels from the in-domain reference
source split (source == 'src0', the same wiki stand-in the reference LM
trains on — queries/text.py _LM_REF_SOURCE).

Exactness trick (the quantized-Lloyd recipe, similarity/kmeans.py): NO
float ever enters the loop, so training is bit-identical across
engines, partitionings and retries — and therefore unrolled-CTE
oracle-checkable in DuckDB:

- features: presence (0/1) of md5-hashed unigram+bigram buckets —
  integers by construction;
- weights/probabilities: fixed-point BIGINT at scale F = 10^6;
- sigmoid: the HARD sigmoid clamp((t+4)/8, 0, 1), computed as
  ``GREATEST(0, LEAST(8F, z + 4F)) intdiv 8`` — the clamp runs BEFORE
  the division so the divided operand is non-negative, where Spark's
  truncating ``DIV`` and DuckDB's ``//`` agree;
- gradient: integer sums (associative — order-free), CLASS-BALANCED:
  each residual is weighted by the OPPOSITE class's doc count
  (m_pos = n_neg, m_neg = n_pos), i.e. the gradient of the balanced
  risk (1/2)[mean_pos + mean_neg] scaled by 2·n_pos·n_neg.  Quality
  filters train on a ~5% in-domain slice; with the unbalanced mean
  the 95% negatives drown the signal (measured: separation INVERTED
  at sf0.01), while balancing makes class-common buckets cancel
  exactly in round 1 and the weights a true discriminative direction;
- update: w <- w - floordiv(g, 2 * LR_DEN * n_pos * n_neg), with
  floordiv spelled as ``CASE WHEN g >= 0 THEN g intdiv d ELSE
  -((-g + d - 1) intdiv d) END`` so every engine division sees
  non-negative operands (Python's ``//`` floors natively and matches).
  int64 headroom: |g_b| <= n·max(n_pos, n_neg)·F ~ 2.4e17 at the
  100x fixture — two decades under 2^63.

Scale shape per round (the Lloyd recipe, literally): documents carry
their presence buckets as a COMPACT ARRAY (one corpus row per doc —
features never explode across a shuffle), z is a whole-stage-codegen
array fold against the (B+1)-element weight vector shipped as a
literal (the kmeans centroid-broadcast move), and the gradient is one
explode whose rows die in map-side partial aggregation (≤ B+1 rows
per partition reach the exchange).  K bounded rounds × ONE corpus
pass each, zero corpus-sized shuffles, one (B+1)-row collect per
round.  A first-cut exploded-row form (per-round corpus joins on
doc_id) measured >9 min at the 100x fixture and invited a corpus-side
broadcast OOM off post-aggregate size estimates; the array form is
the plan that survives scale.  The persisted-index path
(:class:`QualityClfIndex`) scores new batches against STORED weights
— one feature projection per tick, zero retraining.

Reference scope: coiled/etl-tpch has no classifier counterpart (its
pipeline is relational only — reference pipeline/preprocess.py keeps
derived state in Delta tables, which is the lifecycle the TxTable
artifact mirrors); this module is north-star LLM-data surface
(SURVEY.md §2 "beyond the reference").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import sql_token_hash, tokens
from .txlog import TxTable

CLF_BUCKETS = 1024  # hashed feature buckets; bucket id CLF_BUCKETS = bias
CLF_ROUNDS = 4  # demo K (real runs: more rounds, same per-round plan)
F_SCALE = 1_000_000  # fixed-point scale for weights / probabilities
LR_DEN = 2  # learning rate 1/LR_DEN
CLF_REF_SOURCE = "src0"  # in-domain label source (== text._LM_REF_SOURCE)
# Semantic version of the TRAINING RULE, folded into the persisted-fit
# stamp: numeric hyper-params alone cannot distinguish two trainers
# with the same (B, K, lr) but different update semantics, and a stale
# generation built by an older rule would silently serve wrong weights
# (caught live in round 8: the pre-class-balancing store answered for
# the balanced trainer until this tag split the generations).
CLF_TRAINER_VERSION = "balanced-v2"


# ---------------------------------------------------------------- features


_GRAMS_EXPR = (
    "concat(W, CASE WHEN size(W) >= 2 THEN "
    "transform(sequence(1, size(W) - 1), "
    "i -> concat(element_at(W, i), ' ', element_at(W, i + 1))) "
    "ELSE array() END)"
)


def buckets_expr(n_buckets: int = CLF_BUCKETS) -> str:
    """Presence-bucket array expression at an arbitrary bucket count —
    the B axis is a deployment knob (1k demo, 10⁵–10⁶ for a production
    fastText-style gate), so every feature/scoring/training entry point
    accepts it."""
    return (
        f"array_union(transform({_GRAMS_EXPR}, t -> "
        f"pmod(CAST(conv(substring(md5(t), 1, 8), 16, 10) AS BIGINT), "
        f"{n_buckets})), array(CAST({n_buckets} AS BIGINT)))"
    )


_BUCKETS_EXPR = buckets_expr(CLF_BUCKETS)


def doc_features(
    docs: DataFrame, n_buckets: int = CLF_BUCKETS
) -> DataFrame:
    """(doc_id, buckets: array<long>) — the DISTINCT hashed
    unigram+bigram presence buckets per document plus the bias bucket
    (b = CLF_BUCKETS, every doc), as ONE compact array row per doc.
    Pure column expressions — no explode, no shuffle: features ride
    the corpus scan.  Presence (not counts) keeps the gradient bounded
    by n·F per bucket and the z magnitudes within the hard-sigmoid
    clamp's useful range.  Unigrams contain no spaces and bigrams are
    'w1 w2', so the two n-gram orders can never collide pre-hash.
    Bucket order inside the array is deterministic (first occurrence)
    and irrelevant to every consumer — integer sums commute exactly."""
    return docs.select(
        "doc_id", tokens(F.col("text")).alias("W")
    ).select("doc_id", F.expr(buckets_expr(n_buckets)).alias("buckets"))


def sql_doc_features(
    docs_rel: str = "documents", n_buckets: int = CLF_BUCKETS
) -> str:
    """DuckDB CTE body computing the same (doc_id, b) presence rows.
    ``n_buckets`` must match the Spark side's ``buckets_expr`` modulus
    (ADVICE r10: an oracle check against a non-default-B artifact
    would otherwise silently hash at the wrong modulus)."""
    toks = "list_filter(string_split(text, ' '), x -> x <> '')"
    h = sql_token_hash("tok")
    return f"""(
        SELECT DISTINCT doc_id, {h} % {n_buckets} AS b
        FROM (
            SELECT doc_id, unnest(W) AS tok
            FROM (SELECT doc_id, {toks} AS W FROM {docs_rel})
            UNION ALL
            SELECT doc_id,
                   unnest(list_transform(range(1, len(W)),
                          i -> W[i] || ' ' || W[i+1])) AS tok
            FROM (SELECT doc_id, {toks} AS W FROM {docs_rel})
        )
        UNION ALL
        SELECT doc_id, CAST({n_buckets} AS BIGINT) AS b FROM {docs_rel}
    )"""


# ---------------------------------------------------------------- trainer


def _hard_sigmoid_expr(zcol: str) -> str:
    """Fixed-point hard sigmoid p_q = clamp((z+4F)/8, 0, F): clamp
    first, divide after — the divided operand is non-negative, where
    truncating and flooring integer division agree."""
    return (
        f"GREATEST(CAST(0 AS BIGINT), LEAST(CAST({8 * F_SCALE} AS BIGINT), "
        f"{zcol} + {4 * F_SCALE})) DIV 8"
    )


def _floordiv(g: int, d: int) -> int:
    """Python floor division IS the cross-engine fdiv (both SQL twins
    spell it via non-negative-operand CASE)."""
    return g // d


def _check_trainable(n_pos: int, n_neg: int) -> None:
    """Fail loudly on the two corpus shapes the integer trainer cannot
    handle, BEFORE the round loop (ADVICE r8):

    - single-class corpus: the balanced denominator d = 2·LR_DEN·n_pos·
      n_neg is zero, which would otherwise surface as an opaque
      ZeroDivisionError here and a divide-by-zero in the DuckDB oracle;
    - int64 headroom: the per-bucket gradient is bounded by
      |g_b| <= 2·F_SCALE·n_pos·n_neg (residual ≤ F_SCALE, balance
      multiplier = opposite-class count, ≤ 2·n_minority·n_majority
      presence rows per bucket).  Past ~4M docs Spark's non-ANSI long
      sum would wrap SILENTLY while DuckDB promotes to HUGEINT and
      throws on the cast — engine and oracle diverging without an
      error.  Corpora that size need a sharded/float trainer, not
      silently corrupted weights.
    """
    if n_pos == 0 or n_neg == 0:
        raise ValueError(
            "quality classifier needs both classes; "
            f"got n_pos={n_pos} n_neg={n_neg} "
            f"(in-domain source = {CLF_REF_SOURCE!r})"
        )
    if 2 * F_SCALE * n_pos * n_neg >= 2**62:
        raise ValueError(
            "quality classifier int64 gradient headroom exceeded: "
            f"2*F_SCALE*n_pos*n_neg = {2 * F_SCALE * n_pos * n_neg} "
            ">= 2**62; shard the corpus or rescale F_SCALE"
        )


def training_frame(
    docs: DataFrame,
    ref_source: str = CLF_REF_SOURCE,
    n_buckets: int = CLF_BUCKETS,
) -> DataFrame:
    """(doc_id, buckets, yF) — features and labels in ONE corpus row
    per doc, built in a single projection off ONE scan (no
    features⋈labels self-join, no separate label-count passes: class
    counts aggregate off these compact rows afterwards), checkpointed
    once and re-read by every training round (K passes over compact
    rows, not K recomputes of the tokenize+hash lineage)."""
    is_pos = F.col("source") == ref_source
    return (
        docs.select(
            "doc_id", tokens(F.col("text")).alias("W"), "source"
        )
        .select(
            "doc_id",
            F.expr(buckets_expr(n_buckets)).alias("buckets"),
            F.when(is_pos, F.lit(F_SCALE)).otherwise(F.lit(0))
            .cast("long")
            .alias("yF"),
        )
        .localCheckpoint(eager=True)
    )


def class_counts(feat_lab: DataFrame) -> tuple[int, int]:
    """(n_pos, n_neg) off the compact checkpointed frame — one tiny
    aggregate, no corpus re-scan."""
    row = feat_lab.agg(
        F.sum((F.col("yF") > 0).cast("long")).alias("p"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    return int(row["p"]), int(row["n"] - row["p"])


def _z_fold(w: list[int]) -> F.Column:
    """z = Σ_b∈buckets w[b] as a codegen array fold against the weight
    vector shipped as a LITERAL array (the kmeans centroid-broadcast
    move: model-sized state rides the plan, the corpus never joins)."""
    arr = "array(" + ",".join(f"{x}L" for x in w) + ")"
    return F.expr(
        f"aggregate(buckets, 0L, (acc, b) -> "
        f"acc + element_at({arr}, CAST(b AS INT) + 1))"
    )


def train_logreg(
    spark: SparkSession,
    feat_lab: DataFrame,
    n_pos: int,
    n_neg: int,
    rounds: int = CLF_ROUNDS,
    n_buckets: int = CLF_BUCKETS,
) -> list[int]:
    """K fixed-point batch-gradient rounds over a combined
    (doc_id, buckets, yF) frame (:func:`training_frame`, one row per
    doc).  Per round — ONE corpus
    pass, zero corpus shuffles: project z (array fold against the
    literal weight vector), residual through the hard sigmoid weighted
    by the balance multiplier, explode buckets and partially aggregate
    map-side (≤ B+1 rows per partition cross the exchange), collect
    the (B+1)-row gradient, update weights driver-side in exact
    integer arithmetic.  Returns the weight list indexed by bucket
    (bias last)."""
    _check_trainable(n_pos, n_neg)
    w = [0] * (n_buckets + 1)
    d = 2 * LR_DEN * n_pos * n_neg
    # the balance multiplier (opposite class's count) rides the plan
    # as literals — the frame carries only yF
    m = F.when(F.col("yF") > 0, F.lit(n_neg)).otherwise(
        F.lit(n_pos)
    ).cast("long")
    # per-round z: the codegen fold at demo B, the Arrow kernel past
    # the crossover — the fold's plan-literal toll multiplies by K in
    # training (measured at B=1M: 104 s fold-z vs 3.9 s arrow-z for
    # the same 4 rounds; identical weights, integer arithmetic)
    use_arrow = n_buckets > CLF_FOLD_MAX_BUCKETS
    for _ in range(rounds):
        if use_arrow:
            zf = with_z_arrow(
                feat_lab, w, passthrough=("doc_id", "buckets", "yF")
            )
        else:
            zf = feat_lab.withColumn("z", _z_fold(w))
        r = (
            (F.expr(_hard_sigmoid_expr("z")) - F.col("yF")) * m
        ).alias("r")
        g_rows = (
            zf.select(r, F.explode("buckets").alias("b"))
            .groupBy("b")
            .agg(F.sum("r").alias("g"))
            .collect()
        )
        for row in g_rows:
            w[row["b"]] -= _floordiv(int(row["g"]), d)
    return w


def train_logreg_driver(
    feat_rows: list[tuple[int, int]],
    label_rows: dict[int, tuple[int, int]],
    n_pos: int,
    n_neg: int,
    rounds: int = CLF_ROUNDS,
    n_buckets: int = CLF_BUCKETS,
) -> list[int]:
    """Pure-Python reference trainer — byte-identical semantics to
    :func:`train_logreg` (pinned in tests/test_quality_clf.py): same
    presence rows, same hard sigmoid, same balanced multiplier, same
    floor-division update.  ``label_rows`` maps doc_id -> (yF, m).
    No Spark session touched."""
    _check_trainable(n_pos, n_neg)
    by_doc: dict[int, list[int]] = {}
    for doc_id, b in feat_rows:
        by_doc.setdefault(doc_id, []).append(b)
    w = [0] * (n_buckets + 1)
    d = 2 * LR_DEN * n_pos * n_neg
    for _ in range(rounds):
        g = [0] * (n_buckets + 1)
        for doc_id, bs in by_doc.items():
            z = sum(w[b] for b in bs)
            p = max(0, min(8 * F_SCALE, z + 4 * F_SCALE)) // 8
            yF, m = label_rows[doc_id]
            r = (p - yF) * m
            for b in bs:
                g[b] += r
        for b in range(n_buckets + 1):
            w[b] -= g[b] // d
    return w


def weights_frame(spark: SparkSession, w: list[int]) -> DataFrame:
    from ..exprs import values_frame

    # LocalRelation (zero-task broadcast builds — round 12)
    return values_frame(spark, list(enumerate(w)), "b long, w long")


def score_with_weights(feat: DataFrame, w: list[int]) -> DataFrame:
    """(doc_id, score_q, prob_micro) from per-doc bucket arrays and
    the weight list — one PROJECTION (codegen array fold against the
    literal weight vector); no join, no shuffle, no aggregate."""
    return feat.select(
        "doc_id", _z_fold(w).alias("score_q")
    ).withColumn(
        "prob_micro", F.expr(_hard_sigmoid_expr("score_q"))
    )


# Bucket-count scale axis (VERDICT r8 #2, measured — SCALING.md
# "Classifier bucket-count scale axis").  Three z plans trade:
#
# - fold (plan literal): the (B+1)-element literal's construction +
#   analysis + codegen is a FIXED per-plan toll, linear in B
#   (measured ~6 s at 256k, ~27 s at 1M), near-zero per-row cost,
#   zero Python — the plan-pure choice at demo B;
# - join (broadcast weight table): flat in B but pays a corpus-side
#   explode (×avg buckets/doc) + per-doc re-aggregation — measured
#   ~0.9 ms/doc at 256k (442 s over the 500k-doc 100× corpus where
#   the fold took 63 s); kept as the SQL-expressible oracle twin;
# - arrow (mapInArrow kernel): weights ship as a task closure, z is
#   one NumPy gather + reduceat per batch — flat in B AND the
#   measured winner on both axes at large B (1.3 s vs fold's 25 s at
#   B=1M tick-scale; 61 s vs 81 s at 256k corpus-scale).
#
# Dispatch: fold while the literal toll is negligible (measured
# winner at 16k: 1.4 s vs arrow 2.8 s tick-scale, and par at corpus
# scale where the toll amortizes), arrow above (measured winner from
# 64k up: 0.9 s vs fold 2.9 s at 64k, 1.4 s vs 26 s at 1M) — for
# scoring AND for the per-round z inside training, where the fold
# toll multiplies by K (training at B=1M measured 104 s fold-z vs
# 3.9 s arrow-z, bit-identical weights).
CLF_FOLD_MAX_BUCKETS = 16_384


def score_with_weights_join(
    feat: DataFrame,
    weights: DataFrame,
    passthrough: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """(doc_id, score_q, prob_micro) via the LARGE-B scoring plan:
    explode each doc's presence buckets, broadcast-join the (B+1)-row
    weight table on bucket id, sum per doc (the LmIndex scoring
    pattern).  Output-identical to :func:`score_with_weights` (integer
    sums commute; pinned in tests/test_quality_clf.py) — the trade is
    plan-literal compile cost (fold, grows with B) against one
    corpus-sized explode + per-doc re-aggregation (join, flat in B).
    The broadcast hint is EXPLICIT for the usual local-relation /
    post-aggregate size-estimate reason: the build side must be the
    model, never the corpus.  ``passthrough`` columns ride the explode
    into the grouping key, so per-doc metadata (labels, source) needs
    no corpus self-join afterwards."""
    z = (
        feat.select(*passthrough, F.explode("buckets").alias("b"))
        .join(F.broadcast(weights), "b")
        .groupBy(*passthrough)
        .agg(F.sum("w").alias("score_q"))
    )
    return z.withColumn(
        "prob_micro", F.expr(_hard_sigmoid_expr("score_q"))
    )


def _arrow_z_kernel(w, passthrough: tuple[str, ...]):
    """mapInArrow kernel computing z = Σ w[b] over each row's bucket
    array with NO per-row Python: the ListArray's flattened values
    index the weight vector in one NumPy gather and
    ``np.add.reduceat`` folds per-row segments (safe because every
    bucket array is non-empty — the bias bucket is always present).
    ``passthrough`` columns ride the batch untouched, so training can
    keep (yF, buckets) beside z without any join."""
    import numpy as np

    wv = w  # closure; shipped once per task via the pandas-UDF pickle

    def kernel(batches):
        import pyarrow as pa

        for batch in batches:
            la = batch.column("buckets")
            flat = la.flatten().to_numpy(zero_copy_only=False)
            lens = pa.compute.list_value_length(la).to_numpy(
                zero_copy_only=False
            )
            starts = np.zeros(len(lens), dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            z = (
                np.add.reduceat(wv[flat], starts)
                if len(flat)
                else np.zeros(0, dtype=np.int64)
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column(c) for c in passthrough]
                + [pa.array(z, pa.int64())],
                list(passthrough) + ["z"],
            )

    return kernel


def with_z_arrow(
    feat: DataFrame,
    w: list[int],
    passthrough: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """``feat`` plus a ``z`` column computed by the Arrow kernel — the
    LARGE-B plan for both scoring and training rounds: flat in B (the
    weight vector ships as a task closure, not a plan literal), no
    explode, no join, vectorized end-to-end.  Measured (SCALING.md
    "Classifier bucket-count scale axis"): at B = 1M it scores in
    ~1.4 s where the fold pays a ~26 s plan-literal toll, and at the
    100× corpus it beats the fold from 256k buckets (61 s vs 81 s)."""
    import numpy as np

    types = dict(feat.dtypes)
    out_schema = ", ".join(
        [f"{c} {types[c]}" for c in passthrough] + ["z bigint"]
    )
    sel = list(dict.fromkeys([*passthrough, "buckets"]))
    return feat.select(*sel).mapInArrow(
        _arrow_z_kernel(np.asarray(w, dtype=np.int64), passthrough),
        out_schema,
    )


def score_with_weights_arrow(feat: DataFrame, w: list[int]) -> DataFrame:
    """(doc_id, score_q, prob_micro) via the Arrow z kernel."""
    return with_z_arrow(feat, w).select(
        "doc_id", F.col("z").alias("score_q")
    ).withColumn("prob_micro", F.expr(_hard_sigmoid_expr("score_q")))


def score_with_weights_auto(feat: DataFrame, w: list[int]) -> DataFrame:
    """Dispatch scoring by the measured crossover: the codegen fold
    (plan-pure, zero Python) up to CLF_FOLD_MAX_BUCKETS, the Arrow
    kernel above it — the kernel won every large-B measurement at
    both batch scales, so no batch-size axis is needed."""
    if len(w) - 1 <= CLF_FOLD_MAX_BUCKETS:
        return score_with_weights(feat, w)
    return score_with_weights_arrow(feat, w)


def _keep_rate(scores: DataFrame) -> tuple[float | None, int]:
    """(share of score_q >= 0, row count) — one columnar aggregate
    over a scored frame; (None, 0) on empty."""
    r = scores.agg(
        F.avg((F.col("score_q") >= 0).cast("double")).alias("k"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    return (
        float(r["k"]) if r["k"] is not None else None,
        int(r["n"]),
    )


# ------------------------------------------------------- persisted index


class QualityClfIndex:
    """Persisted classifier artifact: a TxTable of (b, w) weight rows.

    Lifecycle mirrors LmIndex (pipeline/lm_index.py) with the roles a
    discriminative model needs:

    - ``retrain`` OVERWRITES the weight table (weights, unlike bigram
      counts, do not fold by summation — retraining is the update
      path), pinned to the training inputs via the TxTable's atomic
      versioned commit;
    - ``score_batch`` scores ONLY the given batch against STORED
      weights — one feature pass over the new docs + one broadcast
      join; no training text is touched, no scored corpus rescanned.
      That is the O(new) daily-crawl tick.
    """

    def __init__(self, path: str) -> None:
        self.table = TxTable(path)

    def retrain(
        self,
        spark: SparkSession,
        docs: DataFrame,
        *,
        rounds: int = CLF_ROUNDS,
        ref_source: str = CLF_REF_SOURCE,
        n_buckets: int = CLF_BUCKETS,
    ) -> list[int]:
        """Train on ``docs`` (labels = source match) and store the
        weights.  Deterministic: same corpus → bit-identical weight
        table, so a concurrent duplicate retrain is benign.

        ``n_buckets`` is persisted IN the artifact: the weight table is
        dense (one row per bucket incl. bias), so the stored max bucket
        id IS the bucket count — cold loads recover B from the table
        and every downstream scoring path (fold vs Arrow dispatch,
        feature hashing) follows the stored model, not the module
        constant (VERDICT r9 #2)."""
        feat_lab = training_frame(docs, ref_source, n_buckets)
        n_pos, n_neg = class_counts(feat_lab)
        w = train_logreg(
            spark, feat_lab, n_pos, n_neg, rounds, n_buckets
        )
        self.table.overwrite(weights_frame(spark, w))
        return w

    def weights(
        self, spark: SparkSession, version: int | None = None
    ) -> DataFrame:
        return self.table.read(spark, version)

    def weights_list(
        self, spark: SparkSession, version: int | None = None
    ) -> list[int]:
        """The stored weight vector as a list — a bounded (B+1)-row
        read, the model-sized collect every scoring plan embeds as a
        literal (the kmeans stored-centroid convention).  Sized from
        the STORED rows (the table is dense, bias bucket = max id), so
        an artifact trained at any ``n_buckets`` round-trips without
        consulting the module constant."""
        rows = self.weights(spark, version).collect()
        if not rows:
            raise ValueError(
                f"quality classifier table at {self.table.path!r} "
                "is empty — retrain before scoring"
            )
        w = [0] * (max(int(r["b"]) for r in rows) + 1)
        for r in rows:
            w[int(r["b"])] = int(r["w"])
        return w

    def score_batch(
        self, spark: SparkSession, new_docs: DataFrame
    ) -> DataFrame:
        """(doc_id, score_q, prob_micro) for the NEW batch only, from
        stored weights — one pass over the batch, features hashed at
        the STORED bucket count and dispatched through the measured
        fold/Arrow crossover, so a large-B artifact scores through the
        winning plan (VERDICT r9 #2)."""
        w = self.weights_list(spark)
        return score_with_weights_auto(
            doc_features(new_docs, n_buckets=len(w) - 1), w
        )

    def needs_retrain(
        self,
        spark: SparkSession,
        scores_t: TxTable,
        *,
        max_keep_shift: float = 0.15,
        min_rows: int = 50,
    ) -> bool:
        """Drift gate for the daily maintenance cadence — the
        classifier's analogue of IVFIndex.needs_retrain (ticks score
        against FROZEN weights, so a drifting crawl hashes new
        vocabulary into untrained buckets and the gate's behavior
        decays): retrain when the NEWEST score tick's keep-rate moved
        more than ``max_keep_shift`` from the keep-rate of all scored
        history before it.

        Costs (the IVF policy-gate discipline): fewer than two score
        appends short-circuits to False driver-side — no Spark job on
        quiet days; otherwise one columnar aggregate over the latest
        tick's own files (read directly from its commit entry —
        O(new), never a history rescan for the new side) plus one
        single-column aggregate over the prior snapshot.  A tick under
        ``min_rows`` is skipped as statistical noise rather than
        allowed to trigger a corpus-scale retrain.  Thresholds are
        policy, not semantics: scoring against stored weights stays
        deterministic either way; a triggered retrain is the standard
        overwrite commit (time travel keeps the prior model)."""
        import os

        appends = [
            v
            for v in scores_t.versions()
            if scores_t.commit_entry(v)["op"] == "append"
        ]
        if len(appends) < 2:
            return False
        latest = scores_t.commit_entry(appends[-1])
        if "new_files" in latest:
            # append commits record the tick's OWN files — the O(new)
            # side reads straight off the entry, immune to rewrites
            # landing between the two appends
            tick_files = latest["new_files"]
        else:
            # pre-new_files log entries: reconstruct the delta as a
            # snapshot set-difference — valid ONLY if no intervening
            # rewrite replaced history (then the previous append's
            # files are a subset of the latest's).  When violated,
            # the "delta" would be the whole rewritten history and
            # the gate would silently never fire; answer a
            # conservative False instead (ADVICE r9).
            prev_files = set(scores_t.commit_entry(appends[-2])["files"])
            latest_files = latest["files"]
            if not prev_files <= set(latest_files):
                return False
            tick_files = [f for f in latest_files if f not in prev_files]
        files = [os.path.join(scores_t.path, f) for f in tick_files]
        if not files:
            return False
        new_rate, new_n = _keep_rate(spark.read.parquet(*files))
        if new_rate is None or new_n < min_rows:
            return False
        prev_rate, _ = _keep_rate(scores_t.read(spark, appends[-2]))
        if prev_rate is None:
            return False
        return abs(new_rate - prev_rate) > max_keep_shift
