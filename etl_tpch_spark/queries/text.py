"""Text-analysis queries over ``documents`` (north-star LLM-data ops).

Each is a deterministic column-expression pipeline (functions/text.py)
with a DuckDB oracle — including the hash-based fingerprint, thanks to
the cross-engine md5 hash recipe.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import Tables
from ..functions.bm25 import bm25_topk
from ..functions.text import (
    CJK_PATTERN,
    STOPWORDS,
    fingerprint,
    sql_fingerprint,
    stopword_count,
    tokens,
)
from ..registry import query

_SQL_TOKS = "list_filter(string_split(text, ' '), x -> x <> '')"


@query(
    "text_stats",
    oracle=f"""
        SELECT doc_id,
               CAST(length(text) AS BIGINT)            AS n_chars_measured,
               CAST(len({_SQL_TOKS}) AS BIGINT)        AS n_words,
               CAST(len(list_distinct({_SQL_TOKS})) AS BIGINT)
                                                       AS n_unique_words,
               round(len(list_distinct({_SQL_TOKS})) * 1.0
                     / len({_SQL_TOKS}), 6)            AS ttr,
               round((length(text) - length(replace(text, ' ', ''))) * 1.0
                     / length(text), 6)                AS space_ratio
        FROM documents
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document surface statistics: char/word counts, type-token
    ratio (vocabulary diversity), whitespace ratio.  Pure column
    expressions — scans once, no shuffle."""
    t = Tables(spark, sf_dir)
    toks = tokens(F.col("text"))
    n_words = F.size(toks).cast("long")
    n_uniq = F.size(F.array_distinct(toks)).cast("long")
    return t.documents.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_measured"),
        n_words.alias("n_words"),
        n_uniq.alias("n_unique_words"),
        F.round(n_uniq * 1.0 / n_words, 6).alias("ttr"),
        F.round(
            (F.length("text") - F.length(F.regexp_replace("text", " ", "")))
            * 1.0
            / F.length("text"),
            6,
        ).alias("space_ratio"),
    )


def _sql_stop(lang: str) -> str:
    lst = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return f"len(list_filter({_SQL_TOKS}, x -> x IN ({lst})))"


@query(
    "text_lang_id",
    oracle=f"""
        WITH scored AS (
            SELECT doc_id, lang,
                   {_sql_stop('en')} AS c_en,
                   {_sql_stop('es')} AS c_es,
                   {_sql_stop('de')} AS c_de,
                   {_sql_stop('fr')} AS c_fr,
                   regexp_matches(text, '{CJK_PATTERN}') AS has_cjk
            FROM documents
        )
        SELECT doc_id, lang,
               CASE WHEN has_cjk THEN 'zh'
                    WHEN c_en >= c_es AND c_en >= c_de AND c_en >= c_fr
                      THEN 'en'
                    WHEN c_es >= c_de AND c_es >= c_fr THEN 'es'
                    WHEN c_de >= c_fr THEN 'de'
                    ELSE 'fr' END AS predicted_lang
        FROM scored
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: CJK charset detection + per-language
    stopword hit counts, deterministic fixed tie-break order.  (A real
    deployment swaps in fastText/CLD3 via a pandas UDF — this keeps the
    operator shape JVM-side and oracle-checkable.)"""
    t = Tables(spark, sf_dir)
    toks = tokens(F.col("text"))
    c = {lang: stopword_count(toks, ws) for lang, ws in STOPWORDS.items()}
    pred = (
        F.when(F.col("text").rlike(CJK_PATTERN), "zh")
        .when(
            (c["en"] >= c["es"]) & (c["en"] >= c["de"]) & (c["en"] >= c["fr"]),
            "en",
        )
        .when((c["es"] >= c["de"]) & (c["es"] >= c["fr"]), "es")
        .when(c["de"] >= c["fr"], "de")
        .otherwise("fr")
    )
    return t.documents.select("doc_id", "lang", pred.alias("predicted_lang"))


@query(
    "text_quality_score",
    oracle=f"""
        SELECT doc_id,
               CAST((length(text) BETWEEN 100 AND 5000) AS BOOLEAN)
                 AS len_ok,
               round(least(len({_SQL_TOKS}) / 50.0, 1.0)
                     * (len(list_distinct({_SQL_TOKS})) * 1.0
                        / len({_SQL_TOKS})), 6) AS quality
        FROM documents
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring for training-data filtering: length gate ×
    (capped length factor × vocabulary diversity).  Exact int ratios →
    deterministic doubles."""
    t = Tables(spark, sf_dir)
    toks = tokens(F.col("text"))
    n_words = F.size(toks)
    n_uniq = F.size(F.array_distinct(toks))
    return t.documents.select(
        "doc_id",
        F.length("text").between(100, 5000).alias("len_ok"),
        F.round(
            F.least(n_words / 50.0, F.lit(1.0)) * (n_uniq * 1.0 / n_words), 6
        ).alias("quality"),
    )


@query(
    "text_token_counts",
    oracle=f"""
        SELECT doc_id,
               CAST(len({_SQL_TOKS}) AS BIGINT) AS ws_tokens,
               CAST(len(regexp_extract_all(text,
                    '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT)
                 AS bpe_ish_tokens
        FROM documents
    """,
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace tokens and a BPE-ish regex
    (letter runs / digit runs / single other glyphs) — the standard
    cheap proxy for LLM token budgeting."""
    t = Tables(spark, sf_dir)
    return t.documents.select(
        "doc_id",
        F.size(tokens(F.col("text"))).cast("long").alias("ws_tokens"),
        F.size(
            F.regexp_extract_all(
                F.col("text"),
                F.lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"),
                F.lit(0),  # whole-match (Spark defaults to group 1)
            )
        )
        .cast("long")
        .alias("bpe_ish_tokens"),
    )


@query(
    "text_fingerprint",
    oracle=f"""
        SELECT doc_id,
               {sql_fingerprint(_SQL_TOKS)} AS fp,
               CAST(len({_SQL_TOKS}) AS BIGINT) AS n_tokens
        FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling-hash document fingerprint (fold over
    token hashes mod p).  Cross-engine-exact because the hash is
    md5-derived (functions/text.py); grouping equal fingerprints is the
    O(n) exact-sequence-dup detector."""
    t = Tables(spark, sf_dir)
    toks = tokens(F.col("text"))
    return t.documents.select(
        "doc_id",
        fingerprint(toks).alias("fp"),
        F.size(toks).cast("long").alias("n_tokens"),
    )


@query(
    "corpus_curation",
    oracle=f"""
        WITH canonical AS (
            SELECT min(doc_id) AS doc_id
            FROM documents
            GROUP BY md5(text)
        ),
        scored AS (
            SELECT d.doc_id, d.lang, d.source,
                   round(least(len({_SQL_TOKS}) / 50.0, 1.0)
                         * (len(list_distinct({_SQL_TOKS})) * 1.0
                            / len({_SQL_TOKS})), 6) AS quality,
                   CAST(len({_SQL_TOKS}) AS BIGINT) AS ws_tokens
            FROM documents d
            JOIN canonical c ON d.doc_id = c.doc_id
            WHERE length(d.text) BETWEEN 100 AND 5000
        )
        SELECT lang, source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(ws_tokens) AS BIGINT) AS total_tokens,
               round(CAST(sum(CAST(quality AS DECIMAL(10,6))) AS DOUBLE)
                     / count(*), 6) AS avg_quality
        FROM scored
        WHERE quality >= 0.3
        GROUP BY lang, source
    """,
)
def corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus curation in one plan: exact-dedup to
    canonical docs → length gate → quality score ≥ 0.3 → per-(lang,
    source) corpus statistics.  The composition every LLM data pipeline
    runs nightly, expressed as pure Catalyst operators (dedup semi-join
    + filters + one aggregation — two shuffles total)."""
    t = Tables(spark, sf_dir)
    canonical = (
        t.documents.groupBy(F.md5("text"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    toks = tokens(F.col("text"))
    n_words = F.size(toks)
    n_uniq = F.size(F.array_distinct(toks))
    scored = (
        t.documents.join(canonical, "doc_id", "left_semi")
        .filter(F.length("text").between(100, 5000))
        .select(
            "lang",
            "source",
            F.round(
                F.least(n_words / 50.0, F.lit(1.0))
                * (n_uniq * 1.0 / n_words),
                6,
            ).alias("quality"),
            F.size(toks).cast("long").alias("ws_tokens"),
        )
    )
    return (
        scored.filter(F.col("quality") >= 0.3)
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ws_tokens").alias("total_tokens"),
            # exact decimal sum → one double division: summation-order
            # independent, unlike avg(double) (functions/agg.py davg)
            F.round(
                F.sum(F.col("quality").cast("decimal(10,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_quality"),
        )
    )


@query(
    "udtf_tokenize_positions",
    oracle=f"""
        SELECT doc_id,
               CAST(i - 1 AS INTEGER)  AS pos,
               W[i]                    AS token,
               CAST(length(W[i]) AS INTEGER) AS token_len
        FROM (SELECT doc_id, {_SQL_TOKS} AS W FROM documents
              WHERE doc_id < 50),
             unnest(range(1, len(W) + 1)) AS t(i)
    """,
)
def udtf_tokenize_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface (SURVEY.md §2.10; functions/udtf.py): a
    LATERAL table function exploding each document into positioned
    tokens — registered with ``spark.udtf.register`` and invoked from
    SQL.  Row-at-a-time Python is the flexibility tier (the vectorized
    row-expander is explode/mapInPandas — see text_chunking); scoped to
    50 docs to keep the API demo honest about its cost."""
    from ..catalog import register_views
    from ..functions.udtf import register_udtfs

    register_views(spark, sf_dir)
    register_udtfs(spark)
    return spark.sql(
        """
        SELECT d.doc_id, t.pos, t.token, t.token_len
        FROM (SELECT doc_id, text FROM documents WHERE doc_id < 50) d,
             LATERAL tokenize(d.text) t
        """
    )


@query(
    "text_top_terms_per_lang",
    oracle=f"""
        WITH tok AS (
            SELECT lang, doc_id, unnest({_SQL_TOKS}) AS term
            FROM documents
        ),
        stats AS (
            SELECT lang, term,
                   CAST(count(*) AS BIGINT) AS tf,
                   CAST(count(DISTINCT doc_id) AS BIGINT) AS df
            FROM tok GROUP BY lang, term
        )
        SELECT lang, term, tf, df, rnk FROM (
            SELECT *, row_number() OVER (
                PARTITION BY lang ORDER BY tf DESC, term) AS rnk
            FROM stats
        ) WHERE rnk <= 5
    """,
)
def text_top_terms_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Characteristic vocabulary per language: explode tokens, count
    term frequency (tf) and document frequency (df), keep the top-5
    terms per language — the integer-only core of tf-idf term
    profiling (log-weighting is presentation; ranking by exact counts
    keeps both engines bit-identical).  At scale: the explode is
    map-side; one shuffle on (lang, term), then a window over the tiny
    per-language vocabulary."""
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    tok = t.documents.select(
        "lang", "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    )
    stats = tok.groupBy("lang", "term").agg(
        F.count(F.lit(1)).alias("tf"),
        F.countDistinct("doc_id").alias("df"),
    )
    w = W.partitionBy("lang").orderBy(F.col("tf").desc(), F.col("term"))
    return stats.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= 5
    )


@query(
    "text_repetition_filter",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, {_SQL_TOKS} AS t FROM documents
        ),
        base AS (
            SELECT doc_id, len(t) AS n_toks,
                   len(list_distinct(t)) AS n_distinct, t
            FROM toks
        ),
        bg AS (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(t)),
                          i -> t[i] || ' ' || t[i + 1])) AS bigram
            FROM toks WHERE len(t) > 1
        ),
        top_bg AS (
            SELECT doc_id, max(c) AS max_bigram FROM (
                SELECT doc_id, bigram, count(*) AS c
                FROM bg GROUP BY doc_id, bigram
            ) GROUP BY doc_id
        )
        SELECT b.doc_id,
               round(b.n_distinct * 1.0 / b.n_toks, 6) AS distinct_ratio,
               round(coalesce(t.max_bigram, 0) * 1.0
                     / greatest(b.n_toks - 1, 1), 6) AS top_bigram_frac,
               (b.n_distinct * 1.0 / b.n_toks >= 0.2
                AND coalesce(t.max_bigram, 0) * 1.0
                    / greatest(b.n_toks - 1, 1) <= 0.18) AS keep
        FROM base b LEFT JOIN top_bg t ON b.doc_id = t.doc_id
        WHERE b.n_toks > 0
    """,
)
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filtering: drop documents whose content
    is dominated by repeated n-grams — the standard crawl-corpus
    quality gate alongside length/stopword heuristics (text_quality).
    Signals: type-token distinct ratio (low ⇒ loops) and the fraction
    of bigram slots taken by the single most-common bigram (high ⇒
    boilerplate/chant).  Thresholds: keep iff distinct_ratio ≥ 0.2 and
    top_bigram_frac ≤ 0.18 — compared on the raw IEEE-exact divisions
    (single division of exact integer counts ⇒ bit-identical across
    engines), rounded only for display.  Plan: per-doc expressions are
    shuffle-free; the bigram mode needs one shuffle on (doc_id, bigram)
    + one per-doc max — both keyed finer than doc_id, so no hot keys at
    100 TB (a doc's bigrams spread across partitions before the tiny
    per-doc max)."""
    t = Tables(spark, sf_dir)
    toks = tokens(F.col("text"))
    n_grams = F.greatest(F.size(toks) - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice(toks, 1, n_grams),
        F.slice(toks, 2, n_grams),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    base = t.documents.select(
        "doc_id",
        F.size(toks).alias("n_toks"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        bigrams.alias("bigrams"),
    ).filter(F.col("n_toks") > 0)
    bg = base.select("doc_id", F.explode("bigrams").alias("bigram"))
    top_bg = (
        bg.groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("max_bigram"))
    )
    distinct_ratio = F.col("n_distinct") * 1.0 / F.col("n_toks")
    top_frac = (
        F.coalesce(F.col("max_bigram"), F.lit(0))
        * 1.0
        / F.greatest(F.col("n_toks") - 1, F.lit(1))
    )
    return (
        base.join(top_bg, "doc_id", "left")
        .select(
            "doc_id",
            F.round(distinct_ratio, 6).alias("distinct_ratio"),
            F.round(top_frac, 6).alias("top_bigram_frac"),
            ((distinct_ratio >= 0.2) & (top_frac <= 0.18)).alias("keep"),
        )
    )


# ---------------------------------------------------------------- round 3:
# n-gram corpus hygiene (the GPT-3/C4 recipes, adapted to the corpus)

_DECON_N = 5  # n-gram width (the published recipe uses 13; the fixture
# documents are ~100 tokens, so 5 keeps the overlap statistics non-trivial)
_EVAL_MOD = 50  # doc_id % 50 == 0 plays the held-out eval set

_SQL_5GRAMS = (
    "list_distinct(list_transform(range(1, len(W) - 3), "
    "i -> W[i] || ' ' || W[i+1] || ' ' || W[i+2] || ' ' || W[i+3] "
    "|| ' ' || W[i+4]))"
)


_SQL_3GRAMS = (
    "list_distinct(list_transform(range(1, len(W) - 1), "
    "i -> W[i] || ' ' || W[i+1] || ' ' || W[i+2]))"
)


@query(
    "text_novelty_scores",
    oracle=f"""
        WITH ex AS (
            SELECT doc_id, unnest(grams) AS gram FROM (
                SELECT doc_id, {_SQL_3GRAMS} AS grams
                FROM (SELECT doc_id, {_SQL_TOKS} AS W FROM documents)
            )
        ),
        first AS (
            SELECT gram, min(doc_id) AS first_doc FROM ex GROUP BY gram
        )
        SELECT ex.doc_id,
               CAST(count(*) AS BIGINT) AS n_grams,
               CAST(sum(CASE WHEN f.first_doc = ex.doc_id
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
               CAST(1000000 * sum(CASE WHEN f.first_doc = ex.doc_id
                                       THEN 1 ELSE 0 END)
                    // count(*) AS BIGINT) AS novelty_micro
        FROM ex JOIN first f USING (gram)
        GROUP BY ex.doc_id
    """,
)
def text_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document NOVELTY: the fraction of a doc's distinct 3-grams
    whose FIRST corpus occurrence (min doc_id ≙ arrival order) is this
    doc — the marginal-contribution metric novelty-ordered curation
    samples by (a crawl re-post scores ~0, the original ~1; boilerplate
    scores low everywhere), complementing span dedup's binary verdicts
    with a graded signal.  Integer micro-units via truncating division
    — bit-exact cross-engine.  Docs under 3 tokens have no grams and
    no row.

    Scale shape: one distinct-gram explode, ONE gram-keyed shuffle
    (first_doc as a min window over the gram partition — the
    groupBy+join-back form exchanged the long gram strings a second
    time and built a distinct-gram hash table; same values, one fewer
    corpus-sized exchange), then a per-doc aggregate whose shuffle
    carries only (doc_id, flag) — grams are projected away before the
    second exchange.  At 100 TB the first-occurrence table is the
    stored artifact a daily tick would append to, exactly the
    SpanIndex recipe one level coarser.  Nothing quadratic, nothing
    collected."""
    from pyspark.sql import Window as W

    from ..dedup.operators import word_shingles

    t = Tables(spark, sf_dir)
    ex = t.documents.select(
        "doc_id",
        F.explode(word_shingles(F.col("text"), 3)).alias("gram"),
    )
    marked = ex.select(
        "doc_id",
        (
            F.col("doc_id")
            == F.min("doc_id").over(W.partitionBy("gram"))
        )
        .cast("int")
        .alias("is_first"),
    )
    return marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum("is_first").cast("long").alias("n_novel"),
        F.expr(
            "CAST(1000000 * sum(is_first) div count(1) AS BIGINT)"
        ).alias("novelty_micro"),
    )


@query(
    "text_decontaminate_ngrams",
    oracle=f"""
        WITH g AS (
            SELECT doc_id, {_SQL_5GRAMS} AS grams
            FROM (SELECT doc_id, {_SQL_TOKS} AS W FROM documents)
        ),
        ev AS (
            SELECT DISTINCT unnest(grams) AS gram
            FROM g WHERE doc_id % {_EVAL_MOD} = 0
        ),
        tr AS (
            SELECT doc_id, unnest(grams) AS gram
            FROM g WHERE doc_id % {_EVAL_MOD} <> 0
        ),
        hit AS (
            SELECT tr.doc_id, count(*) AS n_overlap
            FROM tr JOIN ev USING (gram) GROUP BY 1
        )
        SELECT g.doc_id,
               CAST(len(g.grams) AS BIGINT) AS n_ngrams,
               CAST(COALESCE(h.n_overlap, 0) AS BIGINT) AS n_overlap,
               COALESCE(h.n_overlap, 0) > 0 AS flagged
        FROM g LEFT JOIN hit h USING (doc_id)
        WHERE g.doc_id % {_EVAL_MOD} <> 0
    """,
)
def text_decontaminate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination at n-gram granularity (the GPT-3
    13-gram recipe at n=5): a training document is flagged when any of
    its distinct 5-grams appears verbatim in the held-out eval split
    (doc_id % 50 == 0 stands in).  Complements text_contamination's
    vocab-level check with the span-level one real pipelines ship.

    Scale shape: distinct grams explode once per side; the eval gram
    set collapses to DISTINCT before the join (eval sets are ~1000×
    smaller than training corpora — broadcastable), then one aggregate
    on doc_id.  Corpus text is hashed once; nothing quadratic."""
    from ..dedup.operators import word_shingles

    t = Tables(spark, sf_dir)
    g = t.documents.select(
        "doc_id", word_shingles(F.col("text"), _DECON_N).alias("grams")
    )
    ev = (
        g.filter(F.col("doc_id") % _EVAL_MOD == 0)
        .select(F.explode("grams").alias("gram"))
        .distinct()
    )
    tr = g.filter(F.col("doc_id") % _EVAL_MOD != 0)
    hits = (
        tr.select("doc_id", F.explode("grams").alias("gram"))
        .join(F.broadcast(ev), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return (
        tr.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.size("grams").cast("long").alias("n_ngrams"),
            F.coalesce("n_overlap", F.lit(0)).cast("long").alias("n_overlap"),
            (F.coalesce("n_overlap", F.lit(0)) > 0).alias("flagged"),
        )
    )


_BOILER_MIN_DOCS = 5  # a 3-gram in ≥5 distinct docs is boilerplate


@query(
    "text_boilerplate_ngrams",
    oracle=f"""
        WITH g AS (
            SELECT doc_id,
                   list_distinct(list_transform(range(1, len(W) - 1),
                       i -> W[i] || ' ' || W[i+1] || ' ' || W[i+2]))
                     AS grams
            FROM (SELECT doc_id, {_SQL_TOKS} AS W FROM documents)
        ),
        freq AS (
            SELECT gram, count(*) AS n_docs
            FROM (SELECT doc_id, unnest(grams) AS gram FROM g)
            GROUP BY 1
        ),
        boiler AS (
            SELECT gram FROM freq WHERE n_docs >= {_BOILER_MIN_DOCS}
        ),
        per_doc AS (
            SELECT e.doc_id, count(*) AS n_boiler
            FROM (SELECT doc_id, unnest(grams) AS gram FROM g) e
            JOIN boiler USING (gram)
            GROUP BY 1
        )
        SELECT g.doc_id,
               CAST(len(g.grams) AS BIGINT) AS n_ngrams,
               CAST(COALESCE(p.n_boiler, 0) AS BIGINT) AS n_boiler,
               round(COALESCE(p.n_boiler, 0) * 1.0
                     / greatest(len(g.grams), 1), 6) AS boiler_frac
        FROM g LEFT JOIN per_doc p USING (doc_id)
    """,
)
def text_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate detection (the C4 repeated-line rule
    at n-gram granularity, since this corpus has no line structure):
    a 3-gram present in ≥5 distinct documents is boilerplate; each
    document reports how much of it is boilerplate.  The per-doc
    fraction is what a cleaning pass thresholds on.

    Scale shape: distinct grams per doc explode once; gram document-
    frequency is one count shuffle; the boilerplate set (frequency-
    filtered) re-joins the exploded grams.  All linear in corpus gram
    volume — the C4 pipeline shape."""
    from ..dedup.operators import word_shingles

    t = Tables(spark, sf_dir)
    g = t.documents.select(
        "doc_id", word_shingles(F.col("text")).alias("grams")
    )
    ex = g.select("doc_id", F.explode("grams").alias("gram"))
    boiler = (
        ex.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= _BOILER_MIN_DOCS)
        .select("gram")
    )
    per_doc = (
        ex.join(boiler, "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_boiler"))
    )
    n_boiler = F.coalesce("n_boiler", F.lit(0))
    return (
        g.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.size("grams").cast("long").alias("n_ngrams"),
            n_boiler.cast("long").alias("n_boiler"),
            F.round(
                n_boiler * 1.0 / F.greatest(F.size("grams"), F.lit(1)), 6
            ).alias("boiler_frac"),
        )
    )


_BIGRAM_LM_SQL = f"""
        WITH pairs AS (
            SELECT unnest(list_transform(range(1, len(W)),
                       i -> {{'w1': W[i], 'w2': W[i+1]}})) AS p
            FROM (SELECT {_SQL_TOKS} AS W FROM documents)
        ),
        c AS (
            SELECT p.w1 AS w1, p.w2 AS w2,
                   CAST(count(*) AS BIGINT) AS n_pair
            FROM pairs GROUP BY 1, 2
        ),
        tot AS (SELECT w1, sum(n_pair) AS n_w1 FROM c GROUP BY 1)
        SELECT c.w1, c.w2, c.n_pair,
               round(c.n_pair * 1.0 / tot.n_w1, 6) AS p_cond
        FROM c JOIN tot USING (w1)
    """


@query("text_bigram_lm", oracle=_BIGRAM_LM_SQL)
def text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram language-model table: count(w1→w2) with the
    conditional probability p(w2|w1) — the statistical-LM build step
    (KenLM-style counting at order 2), also the input to perplexity-
    based quality filtering.  Duplicate bigrams COUNT (multiplicity is
    the statistic), unlike the distinct-shingle dedup ops.

    Scale shape: one map-side pair explode, one count shuffle keyed
    (w1, w2), one per-w1 aggregate joined back (vocab-sized — tiny
    relative to the corpus at any scale).  No text recrosses a
    shuffle."""
    from ..functions.lm import bigram_pairs

    t = Tables(spark, sf_dir)
    pairs = bigram_pairs(t.documents).select("p.w1", "p.w2")
    c = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_pair"))
    tot = c.groupBy("w1").agg(F.sum("n_pair").alias("n_w1"))
    return c.join(tot, "w1").select(
        "w1",
        "w2",
        "n_pair",
        F.round(F.col("n_pair") * 1.0 / F.col("n_w1"), 6).alias("p_cond"),
    )


@query("text_bigram_lm_indexed", oracle=_BIGRAM_LM_SQL)
def text_bigram_lm_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED-counts lifecycle of text_bigram_lm (pipeline/
    lm_index.py LmIndex): build-once ingests the corpus's bigram counts
    into a TxTable and folds them to one row per pair; the query then
    derives (n_pair, p_cond) from STORED counts — zero retokenization,
    the KenLM production shape where counting runs on the ingest
    cadence and the conditional table is a read-time view.  Counts are
    integers and the derivation is the same arithmetic as the raw
    query, so the same oracle applies verbatim (the build/query split
    is a lifecycle change, not a semantics change — the
    text_bm25_topk_indexed convention).  Reuse across invocations via
    the stamped-marker artifact (_reused_index); a changed documents
    parquet rebuilds."""
    from ..pipeline.lm_index import LmIndex
    from .similarity import _reused_index

    t = Tables(spark, sf_dir)

    def _build(path: str) -> LmIndex:
        idx = LmIndex(path)
        idx.ingest(t.documents, batch_id="full-corpus")
        idx.fold(spark)
        return idx

    idx = _reused_index(
        "bigram-lm-idx", sf_dir, "order2-full", LmIndex, _build,
        table="documents",
    )
    # stored rows may be per-batch; sum to one row per pair (fold makes
    # this a no-op re-aggregation of already-unique keys)
    c = (
        idx.counts(spark)
        .groupBy("w1", "w2")
        .agg(F.sum("n_pair").alias("n_pair"))
    )
    tot = c.groupBy("w1").agg(F.sum("n_pair").alias("n_w1"))
    return c.join(tot, "w1").select(
        "w1",
        "w2",
        "n_pair",
        F.round(F.col("n_pair") * 1.0 / F.col("n_w1"), 6).alias("p_cond"),
    )


# --------------------------------------------------------- count-min sketch

_CM_DEPTH = 4  # hash rows
_CM_WIDTH = 64  # buckets per row
_CM_TOPK = 20

# bucket_d(term) = md5-hash of "d:term" mod WIDTH — the md5 derivation
# makes the sketch itself cross-engine deterministic, so the ORACLE
# builds the identical sketch and the estimates match bit-for-bit
# (real count-min deployments never get this; murmur-seeded rows
# differ per library)
from ..functions.text import sql_token_hash as _sql_th  # noqa: E402

_CM_ORACLE = f"""
        WITH toks AS (
            SELECT unnest({_SQL_TOKS}) AS term FROM documents
        ),
        rows_ AS (
            SELECT term, d,
                   {_sql_th("CAST(d AS VARCHAR) || ':' || term")}
                     % {_CM_WIDTH} AS bucket
            FROM toks, unnest(range(0, {_CM_DEPTH})) AS t(d)
        ),
        sketch AS (
            SELECT d, bucket, count(*) AS cnt
            FROM rows_ GROUP BY 1, 2
        ),
        truec AS (
            SELECT term, CAST(count(*) AS BIGINT) AS true_n
            FROM toks GROUP BY 1
        ),
        est AS (
            SELECT r.term, CAST(min(s.cnt) AS BIGINT) AS est_n
            FROM (SELECT DISTINCT term, d, bucket FROM rows_) r
            JOIN sketch s ON r.d = s.d AND r.bucket = s.bucket
            GROUP BY 1
        )
        SELECT t.term, t.true_n, e.est_n,
               CAST(e.est_n - t.true_n AS BIGINT) AS overcount
        FROM truec t JOIN est e USING (term)
        ORDER BY t.true_n DESC, t.term
        LIMIT {_CM_TOPK}
"""


@query("text_term_sketch_topk", oracle=_CM_ORACLE)
def text_term_sketch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch term-frequency estimation — the memory-bounded
    sketch class: 4×64 cells estimate every term's count regardless of
    corpus size (est ≥ true always; overcount is the collision error
    the depth/width trade controls).  Reported for the top-20
    true-frequency terms next to exact counts, the sketch-accuracy
    audit a pipeline runs before trusting the sketch at full scale.

    The row hashes are md5-derived ("d:term"), so the sketch is
    bit-identical on any engine — the DuckDB oracle rebuilds the SAME
    sketch and the estimates hash-match exactly.

    Scale shape: ONE token explode feeding ONE shuffle onto per-term
    counts (the only corpus-sized work); because cell counts are
    additive, the ×DEPTH expansion, md5 bucketing, the 256-cell
    sketch, the probes and the audit all derive from that vocab-sized
    count frame — the oracle defines the sketch over raw token rows
    and this plan produces the identical cells from their per-term
    partial sums (10× corpus measured 19.1 s → 1.6 s after this
    rewrite, SCALING.md)."""
    from ..functions.text import token_hash

    t = Tables(spark, sf_dir)
    tc = (
        t.documents.select(
            F.explode(tokens(F.col("text"))).alias("term")
        )
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    rows = tc.select(
        "term",
        "cnt",
        F.explode(
            F.array(*[F.lit(d) for d in range(_CM_DEPTH)])
        ).alias("d"),
    ).withColumn(
        "bucket",
        token_hash(
            F.concat(F.col("d").cast("string"), F.lit(":"), F.col("term"))
        )
        % _CM_WIDTH,
    )
    sketch = rows.groupBy("d", "bucket").agg(
        F.sum("cnt").alias("cell_n")
    )
    probes = rows.select("term", "d", "bucket")
    est = (
        probes.join(F.broadcast(sketch), ["d", "bucket"])
        .groupBy("term")
        .agg(F.min("cell_n").cast("long").alias("est_n"))
    )
    truec = tc.select(
        "term", F.col("cnt").cast("long").alias("true_n")
    )
    return (
        truec.join(est, "term")
        .select(
            "term",
            "true_n",
            "est_n",
            (F.col("est_n") - F.col("true_n")).cast("long").alias("overcount"),
        )
        .orderBy(F.col("true_n").desc(), "term")
        .limit(_CM_TOPK)
    )


# --------------------------------------------------------------- BM25 search

_BM25_TERMS = ("dup", "vector", "merge")  # one rare + two common terms
_BM25_K1 = "CAST(1.2 AS DOUBLE)"
_BM25_K1P1 = "CAST(2.2 AS DOUBLE)"  # k1 + 1
_BM25_1MB = "CAST(0.25 AS DOUBLE)"  # 1 - b
_BM25_B = "CAST(0.75 AS DOUBLE)"
_BM25_TOPK = 20

_BM25_ORACLE = f"""
    WITH d AS (
        SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
    ),
    dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM d),
    st AS (
        SELECT count(*) AS n,
               CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
        FROM dl
    ),
    tf AS (
        SELECT doc_id, term, count(*) AS tf
        FROM (SELECT doc_id, unnest(toks) AS term FROM d)
        WHERE term IN ('dup', 'vector', 'merge')
        GROUP BY 1, 2
    ),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    w AS (
        SELECT t.doc_id, t.term,
               sqrt((st.n - df.df + CAST(0.5 AS DOUBLE))
                    / (df.df + CAST(0.5 AS DOUBLE)))
               * (t.tf * {_BM25_K1P1})
               / (t.tf + {_BM25_K1}
                  * ({_BM25_1MB} + {_BM25_B} * dl.dl / st.avgdl)) AS w
        FROM tf t JOIN df USING (term) JOIN dl USING (doc_id), st
    ),
    s AS (
        SELECT doc_id,
               max(CASE WHEN term = 'dup' THEN w END) AS s0,
               max(CASE WHEN term = 'vector' THEN w END) AS s1,
               max(CASE WHEN term = 'merge' THEN w END) AS s2
        FROM w GROUP BY 1
    )
    SELECT doc_id,
           round(coalesce(s0, CAST(0 AS DOUBLE))
                 + coalesce(s1, CAST(0 AS DOUBLE))
                 + coalesce(s2, CAST(0 AS DOUBLE)), 4) AS bm25
    FROM s
    ORDER BY bm25 DESC, doc_id
    LIMIT {_BM25_TOPK}
"""


@query("text_bm25_topk", oracle=_BM25_ORACLE)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval for a fixed 3-term query (k1=1.2,
    b=0.75), top-20 documents — the lexical-search ranking every
    corpus-curation stack needs next to embedding ANN.

    Cross-engine exactness (the repo's no-libm discipline): the
    logarithmic idf is replaced by its sqrt-damped rational form
    sqrt((N - df + 0.5)/(df + 0.5)) — sqrt is IEEE correctly-rounded
    on both engines where ln is not, and the damping preserves BM25's
    rare-term ordering.  Per-doc scores sum exactly three terms in
    FIXED syntactic order (conditional-max pivot, then s0+s1+s2), so
    Spark's and DuckDB's doubles agree bit-for-bit before rounding.

    Scale shape: tf filters to the query terms BEFORE its aggregate
    (the explode never shuffles non-query tokens), df is a 3-row
    broadcast, corpus stats are one 1-row join; no per-token state
    leaves the map side except the per-(doc, query-term) counts.

    The scoring kernel is the SHARED definition in functions/bm25.py —
    the persisted inverted index (pipeline/search_index.py) scores
    with the identical expression tree, so ``text_bm25_topk_indexed``
    equals this query by construction; the coalesce matches the
    index's ingest (null text would otherwise tokenize to a null
    array whose size() is -1, corrupting avgdl and breaking the
    pinned equality on the first degenerate crawl doc)."""
    t = Tables(spark, sf_dir)
    d = t.documents.select(
        "doc_id",
        tokens(F.coalesce(F.col("text"), F.lit(""))).alias("toks"),
    )
    # bm25_topk reads dl twice (corpus stats + weights join) and tf
    # twice (df + weights); un-materialized, each branch re-runs the
    # tokenize — four full passes per query (round 11, guide §5).
    # EAGER localCheckpoint (branches of one action race a lazy one):
    # two tokenize passes total, frames are 16 bytes/doc and the query
    # terms' postings.  Values unchanged — same lineage, computed once.
    dl = d.select(
        "doc_id", F.size("toks").cast("long").alias("dl")
    ).localCheckpoint(eager=True)
    tf = (
        d.select("doc_id", F.explode("toks").alias("term"))
        .where(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=True)
    )
    return bm25_topk(tf, dl, _BM25_TERMS, _BM25_TOPK)


# ---------------------------------------------------------------- round 3
# (continuation): span-level exact substring dedup (Lee et al. 2021,
# "Deduplicating Training Data Makes Language Models Better" — ExactSubstr).
# Doc-level dedup (minhash/simhash/SemDeDup) removes whole near-identical
# documents; span-level dedup finds the VERBATIM REGIONS shared across
# otherwise-distinct documents (licenses, headers, quoted passages) that
# doc-level similarity is blind to.

# windowing/island kernels + the persisted index live in dedup/spans.py
# (shared with the incremental tick); _SPAN_W aliases the one constant.
from ..dedup.spans import (  # noqa: E402
    SPAN_W as _SPAN_W,
    merge_islands as _merge_islands,
    window_hashes,
)

# generated from _SPAN_W so the oracle gram width can never desync
# from the engine's window width
_SQL_SPAN_GRAM = " || ' ' || ".join(
    "W[i]" if j == 0 else f"W[i+{j}]" for j in range(_SPAN_W)
)

# gaps-and-islands over duplicated window positions: windows at p1 < p2
# cover a contiguous token run iff p2 <= p1 + W (overlap or exact abut),
# so a gap STRICTLY greater than W starts a new maximal span.  Two-level
# window (lag flag, then running sum) because SQL forbids nesting window
# functions.  Shared CTE text for both span queries.
_SQL_SPAN_ISLANDS = f"""
        w AS (
            SELECT doc_id, i - 1 AS pos, {_SQL_SPAN_GRAM} AS gram
            FROM (SELECT doc_id, {_SQL_TOKS} AS W FROM documents),
                 unnest(range(1, len(W) - {_SPAN_W} + 2)) AS t(i)
        ),
        dup AS (
            SELECT gram FROM w
            GROUP BY gram HAVING count(DISTINCT doc_id) > 1
        ),
        hit AS (SELECT doc_id, pos FROM w JOIN dup USING (gram)),
        flg AS (
            SELECT doc_id, pos,
                   CASE WHEN pos - lag(pos) OVER (
                            PARTITION BY doc_id ORDER BY pos) > {_SPAN_W}
                        THEN 1 ELSE 0 END AS new_isl
            FROM hit
        ),
        isl AS (
            SELECT doc_id, pos,
                   sum(new_isl) OVER (
                       PARTITION BY doc_id ORDER BY pos
                       ROWS UNBOUNDED PRECEDING) AS isl
            FROM flg
        ),
        spans AS (
            SELECT doc_id,
                   min(pos)                                  AS span_start,
                   max(pos) + {_SPAN_W} - 1                  AS span_end,
                   max(pos) + {_SPAN_W} - 1 - min(pos) + 1   AS n_tokens,
                   count(*)                                  AS n_windows
            FROM isl GROUP BY doc_id, isl
        )
"""


def _duplicate_spans(t: Tables) -> DataFrame:
    """Maximal duplicated-span intervals per document.

    Plan (the 100 TB shape — everything linear in corpus token volume):
    1. one map-side explode of sliding ``_SPAN_W``-token windows, each
       carried as a 128-bit rolling hash of the gram (internal pruning key,
       oracle-exempt like the bloom/xxhash64 recipe — the OUTPUT is
       integer positions, so the hash never crosses engines);
    2. ONE shuffle keyed on the hash, where a window min/max over the
       hash partition marks grams seen in more than one distinct doc
       (min(doc_id) ≠ max(doc_id) ⟺ countDistinct > 1) — this
       replaces the earlier groupBy-then-join-back shape, which
       re-derived the tokenize+md5 pass from lineage on BOTH sides of
       the self-join and shuffled the window rows twice (measured 2×
       end-to-end at the 10× fixture: 16.1 s → 8.1 s warm);
    3. per-doc gaps-and-islands (shuffle on doc_id — tiny: only
       duplicated windows survive) merges overlapping/abutting windows
       into maximal spans.
    Nothing quadratic, no text re-crosses a shuffle after step 2."""
    from pyspark.sql import Window as W

    wins = window_hashes(t.documents)
    wh = W.partitionBy("h")
    hits = (
        wins.withColumn("mn", F.min("doc_id").over(wh))
        .withColumn("mx", F.max("doc_id").over(wh))
        .filter(F.col("mn") != F.col("mx"))
        .select("doc_id", "pos")
    )
    return _merge_islands(hits)


@query(
    "text_duplicate_spans",
    oracle=f"""
        WITH {_SQL_SPAN_ISLANDS}
        SELECT doc_id,
               CAST(span_start AS BIGINT) AS span_start,
               CAST(span_end   AS BIGINT) AS span_end,
               CAST(n_tokens   AS BIGINT) AS n_tokens,
               CAST(n_windows  AS BIGINT) AS n_windows
        FROM spans
    """,
)
def text_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact substring dedup (Lee et al. 2021 ExactSubstr at
    window width 8, dedup/spans.py SPAN_W): every maximal token
    interval whose 8-grams all appear verbatim in at least one OTHER
    document.
    The suffix-array machinery of the paper is replaced by the
    shuffle-native equivalent: duplicated fixed-width windows, merged
    into maximal spans by gaps-and-islands — same output contract
    (duplicated regions with positions), expressed in three linear
    passes instead of a quadratic suffix sort.  Within-doc repeats are
    deliberately excluded (count DISTINCT doc_id > 1): self-repetition
    is text_repetition_filter's job."""
    return _duplicate_spans(Tables(spark, sf_dir))


@query(
    "text_span_dedup_stats",
    oracle=f"""
        WITH {_SQL_SPAN_ISLANDS},
        per_doc AS (
            SELECT doc_id, sum(n_tokens) AS dup_tokens
            FROM spans GROUP BY doc_id
        )
        SELECT d.doc_id,
               CAST(len(d.W) AS BIGINT) AS n_tokens,
               CAST(COALESCE(p.dup_tokens, 0) AS BIGINT) AS dup_tokens,
               round(COALESCE(p.dup_tokens, 0) * 1.0
                     / greatest(len(d.W), 1), 6) AS dup_frac
        FROM (SELECT doc_id, {_SQL_TOKS} AS W FROM documents) d
        LEFT JOIN per_doc p USING (doc_id)
    """,
)
def text_span_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-token budget from the span table: how
    many of each document's tokens sit inside a cross-document
    duplicated span, and the fraction a cleaning pass would cut.  The
    islands are disjoint and non-abutting by construction, so summing
    span lengths IS the union size — no double counting.  This is the
    corpus-health number the ExactSubstr paper reports (what % of the
    corpus is verbatim duplicate text)."""
    t = Tables(spark, sf_dir)
    spans = _duplicate_spans(t)
    per_doc = spans.groupBy("doc_id").agg(
        F.sum("n_tokens").alias("dup_tokens")
    )
    docs = t.documents.select(
        "doc_id", F.size(tokens(F.col("text"))).cast("long").alias("n_tokens")
    )
    dup_tokens = F.coalesce("dup_tokens", F.lit(0))
    return docs.join(per_doc, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        dup_tokens.cast("long").alias("dup_tokens"),
        F.round(
            dup_tokens * 1.0 / F.greatest("n_tokens", F.lit(1)), 6
        ).alias("dup_frac"),
    )


@query(
    "text_span_dedup_clean",
    oracle=f"""
        WITH w AS (
            SELECT doc_id, i - 1 AS pos, {_SQL_SPAN_GRAM} AS gram
            FROM (SELECT doc_id, {_SQL_TOKS} AS W FROM documents),
                 unnest(range(1, len(W) - {_SPAN_W} + 2)) AS t(i)
        ),
        own AS (
            SELECT gram, min(doc_id) AS owner FROM w
            GROUP BY gram HAVING count(DISTINCT doc_id) > 1
        ),
        hit AS (
            SELECT w.doc_id, w.pos FROM w JOIN own USING (gram)
            WHERE w.doc_id > own.owner
        ),
        flg AS (
            SELECT doc_id, pos,
                   CASE WHEN pos - lag(pos) OVER (
                            PARTITION BY doc_id ORDER BY pos) > {_SPAN_W}
                        THEN 1 ELSE 0 END AS new_isl
            FROM hit
        ),
        isl AS (
            SELECT doc_id, pos,
                   sum(new_isl) OVER (
                       PARTITION BY doc_id ORDER BY pos
                       ROWS UNBOUNDED PRECEDING) AS isl
            FROM flg
        ),
        spans AS (
            SELECT doc_id, min(pos) AS span_start,
                   max(pos) + {_SPAN_W} - 1 AS span_end
            FROM isl GROUP BY doc_id, isl
        ),
        tok AS (
            SELECT doc_id, i - 1 AS pos, W[i] AS tok
            FROM (SELECT doc_id, {_SQL_TOKS} AS W FROM documents),
                 unnest(range(1, len(W) + 1)) AS t(i)
        ),
        kept AS (
            SELECT t.doc_id, t.pos, t.tok
            FROM tok t LEFT JOIN spans s
              ON t.doc_id = s.doc_id
             AND t.pos BETWEEN s.span_start AND s.span_end
            WHERE s.doc_id IS NULL
        ),
        re AS (
            SELECT doc_id, count(*) AS n_kept,
                   string_agg(tok, ' ' ORDER BY pos) AS clean_text
            FROM kept GROUP BY doc_id
        )
        SELECT d.doc_id,
               CAST(len(d.W) AS BIGINT) AS n_tokens,
               CAST(len(d.W) - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed,
               COALESCE(r.clean_text, '') AS clean_text
        FROM (SELECT doc_id, {_SQL_TOKS} AS W FROM documents) d
        LEFT JOIN re r USING (doc_id)
    """,
)
def text_span_dedup_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ExactSubstr CLEANING transform — the step Lee et al. actually
    ship: every duplicated span is kept in exactly one place (the
    lowest doc_id containing the window — first-seen-wins, matching the
    corpus-tick victim policy) and cut everywhere else, with the
    surviving tokens reassembled into the cleaned text.

    Ownership is per window: a window hit is removable iff its gram's
    first-seen doc is a different document, so partially-owned regions
    cut only the windows this doc does not own.  Removable windows
    merge to maximal disjoint intervals (gaps-and-islands, shared with
    text_duplicate_spans); tokens inside any interval drop via one
    anti range-join on (doc_id, pos) — equi on doc_id, so it shuffles
    once on the doc key, never pairwise.  Reassembly is an ordered
    aggregation per doc (array_sort of (pos, tok) structs — the
    deterministic collect recipe).  Docs that own everything (or share
    nothing) pass through verbatim; a fully-duplicated doc cleans to
    the empty string, i.e. span dedup subsumes exact-doc dedup."""
    t = Tables(spark, sf_dir)
    toks = tokens(F.col("text"))
    d = t.documents.select("doc_id", toks.alias("W"))
    wins = window_hashes(t.documents)
    own = (
        wins.groupBy("h")
        .agg(
            F.countDistinct("doc_id").alias("nd"),
            F.min("doc_id").alias("owner"),
        )
        .filter(F.col("nd") > 1)
        .select("h", "owner")
    )
    hits = (
        wins.join(own, "h")
        .filter(F.col("doc_id") > F.col("owner"))
        .select("doc_id", "pos")
    )
    spans = _merge_islands(hits).select("doc_id", "span_start", "span_end")
    tok = d.select("doc_id", F.posexplode("W").alias("pos", "tok"))
    s = spans.withColumnRenamed("doc_id", "s_doc")
    kept = tok.join(
        s,
        (tok.doc_id == s.s_doc)
        & F.col("pos").between(F.col("span_start"), F.col("span_end")),
        "left_anti",
    )
    re = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda x: x["tok"],
            ),
        ).alias("clean_text"),
    )
    return d.join(re, "doc_id", "left").select(
        "doc_id",
        F.size("W").cast("long").alias("n_tokens"),
        (F.size("W") - F.coalesce("n_kept", F.lit(0)))
        .cast("long")
        .alias("n_removed"),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )


@query(
    "text_span_dedup_incremental",
    oracle=f"""
        WITH {_SQL_SPAN_ISLANDS}
        SELECT doc_id,
               CAST(span_start AS BIGINT) AS span_start,
               CAST(span_end   AS BIGINT) AS span_end,
               CAST(n_tokens   AS BIGINT) AS n_tokens,
               CAST(n_windows  AS BIGINT) AS n_windows
        FROM spans WHERE doc_id % 2 = 1
    """,
)
def text_span_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-crawl span dedup through the PERSISTED window index
    (dedup/spans.py SpanIndex): even doc_ids play the existing corpus
    (ingested as yesterday's index state), odd ids the new batch.  The
    tick windows ONLY the new batch, appends to the index TxTable
    (exactly-once batch ids), and finds the new docs' duplicated spans
    entirely from STORED hashes — O(new) hash work per tick; the
    corpus contributes a columnar index scan, never a re-tokenization.
    Output ≡ text_duplicate_spans restricted to the new batch (islands
    are per-doc, so restricting the doc set commutes with the merge);
    the equivalence and the no-re-hashing plan audit are pinned in
    tests/test_span_index.py."""
    from ..catalog import scratch_index_dir

    from ..dedup.spans import SpanIndex

    t = Tables(spark, sf_dir)
    corpus = t.documents.filter(F.col("doc_id") % 2 == 0)
    new = t.documents.filter(F.col("doc_id") % 2 == 1)
    # kind carries the window-hash format version: v2 = struct rolling
    # hash (a persisted v1 md5-binary index must not be reused)
    idx = SpanIndex(scratch_index_dir("span-idx-v2", sf_dir))
    idx.ingest(corpus, batch_id="corpus-day0")
    return idx.tick(spark, new, batch_id="crawl-day1")


@query(
    "text_token_counts_arrow",
    oracle=f"""
        SELECT doc_id,
               CAST(len({_SQL_TOKS}) AS BIGINT) AS ws_tokens
        FROM documents
    """,
)
def text_token_counts_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow surface (the lowest-overhead Python boundary Spark
    offers): token counting via pyarrow.compute on raw RecordBatches —
    no pandas materialization, no per-row Python, columns stay Arrow
    buffers end to end.  Semantics identical to text_token_counts'
    ws_tokens (same oracle expression), so this registers the API tier
    itself: pandas UDF (inference) > mapInPandas (multimodal) >
    mapInArrow (here) each trade convenience for copy overhead.
    count_substring_regex('[^ ]+') ≡ non-empty whitespace split."""
    import pyarrow as pa

    t = Tables(spark, sf_dir)

    def count_tokens(batches):
        import pyarrow.compute as pc

        for batch in batches:
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("doc_id"),
                    pc.cast(
                        pc.count_substring_regex(
                            batch.column("text"), "[^ ]+"
                        ),
                        pa.int64(),
                    ),
                ],
                names=["doc_id", "ws_tokens"],
            )

    return t.documents.select("doc_id", "text").mapInArrow(
        count_tokens, "doc_id long, ws_tokens long"
    )


# ------------------------------------------- CCNet-style LM quality filter

_LM_REF_SOURCE = "src0"  # the in-domain reference corpus (wiki stand-in)
_LM_KEEP_MICRO = 33000  # keep floor on the avg bigram micro-probability

def _reference_lm(t: Tables) -> DataFrame:
    """The reference LM, session-persisted AND disk-stored.  The LM is
    vocab-sized (~1k conditional rows at any fixture — it is broadcast
    into every scoring join), but its LINEAGE is a quarter-corpus
    explode+count; without pinning, every job of every LM query re-runs
    that build, so it is memoized per session and documents stamp
    (cache.memo).  Counts live in an LmIndex TxTable built once per
    documents stamp (cache.stored, VERDICT r6 #2), so a FRESH session
    derives conditionals from vocab-sized stored counts instead of
    re-exploding the reference slice.  Counting is exact integer
    aggregation — the stored-counts derivation is bit-identical to the
    in-query build (tests/test_lm_index.py), and the oracles are
    unchanged."""
    from ..cache import memo
    from ..catalog import table_stamp
    from ..functions.lm import lm_from_counts
    from ..pipeline.lm_index import LmIndex
    from .similarity import _reused_index

    def _build(path: str) -> LmIndex:
        idx = LmIndex(path)
        idx.ingest(
            t.documents.filter(F.col("source") == _LM_REF_SOURCE),
            batch_id=f"ref-{_LM_REF_SOURCE}",
        )
        idx.fold(t._spark)
        return idx

    def build() -> DataFrame:
        idx = _reused_index(
            "ref-lm-idx",
            t._sf_dir,
            f"order2-{_LM_REF_SOURCE}",
            LmIndex,
            _build,
            table="documents",
        )
        return lm_from_counts(idx.counts(t._spark)).persist()

    return memo(
        t._spark,
        "reference-lm",
        os.path.realpath(t._sf_dir),
        table_stamp(t._sf_dir, "documents"),
        build,
    )


_LM_PAIRS = (
    "unnest(list_transform(range(1, len(W)), "
    "i -> {'w1': W[i], 'w2': W[i+1]})) AS p"
)


# CTE chain shared by the LM filter and the perplexity-bucket report
# (one SQL definition of training + scoring, like functions/lm.py is
# one Spark definition)
_LM_CTES = f"""
        ref_pairs AS (
            SELECT {_LM_PAIRS}
            FROM (SELECT {_SQL_TOKS} AS W FROM documents
                  WHERE source = '{_LM_REF_SOURCE}')
        ),
        c AS (
            SELECT p.w1 AS w1, p.w2 AS w2, count(*) AS n_pair
            FROM ref_pairs GROUP BY 1, 2
        ),
        tot AS (SELECT w1, sum(n_pair) AS n_w1 FROM c GROUP BY 1),
        lm AS (
            SELECT c.w1, c.w2,
                   CAST(round(c.n_pair * 1000000.0 / tot.n_w1, 0)
                        AS BIGINT) AS p_micro
            FROM c JOIN tot USING (w1)
        ),
        doc_pairs AS (
            SELECT doc_id, lang, source, {_LM_PAIRS}
            FROM (SELECT doc_id, lang, source, {_SQL_TOKS} AS W
                  FROM documents)
        ),
        scored AS (
            SELECT d.doc_id, d.lang, d.source,
                   CAST(count(*) AS BIGINT) AS n_bigrams,
                   CAST(count(lm.p_micro) AS BIGINT) AS covered_bigrams,
                   CAST(coalesce(sum(lm.p_micro), 0) AS BIGINT)
                     AS score_sum_micro
            FROM doc_pairs d
            LEFT JOIN lm ON d.p.w1 = lm.w1 AND d.p.w2 = lm.w2
            GROUP BY 1, 2, 3
        ),
        perdoc AS (
            SELECT doc_id, lang, source, n_bigrams, covered_bigrams,
                   CAST(round(score_sum_micro * 1.0 / n_bigrams, 0)
                        AS BIGINT) AS avg_p_micro
            FROM scored
        )"""


@query(
    "text_lm_quality_filter",
    oracle=f"""
        WITH {_LM_CTES}
        SELECT doc_id, lang, source, n_bigrams, covered_bigrams,
               avg_p_micro,
               (avg_p_micro >= {_LM_KEEP_MICRO}) AS keep
        FROM perdoc
        ORDER BY doc_id
    """,
)
def text_lm_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style statistical-LM quality filter: train a bigram LM on
    the in-domain reference slice (source = 'src0' — the Wikipedia
    stand-in; CCNet scores CommonCrawl against a wiki-trained KenLM),
    then score EVERY document by its average bigram conditional
    probability under that LM and keep the docs above the floor.  All
    arithmetic is micro-probability integers (round(n_pair·1e6/n_w1)):
    per-doc sums are BIGINT — order-free — so the score is bit-equal
    cross-engine with zero log/float accumulation; unseen bigrams score
    0 (the perplexity penalty that makes out-of-domain text sink).

    Scale shape: the LM is a (w1, w2, p_micro) table built from the
    reference slice only — one count shuffle over the REFERENCE corpus
    (small by construction), one vocab-sized per-w1 aggregate.  Scoring
    is one corpus-sized bigram explode joined against the LM (broadcast
    when the LM fits, shuffle on (w1, w2) otherwise — Catalyst/AQE
    picks) and one per-doc aggregate.  No text recrosses a shuffle; no
    corpus×corpus work anywhere."""
    from ..functions.lm import score_docs

    t = Tables(spark, sf_dir)
    return score_docs(t.documents, _reference_lm(t)).withColumn(
        "keep", F.col("avg_p_micro") >= _LM_KEEP_MICRO
    )


@query(
    "text_lm_perplexity_buckets",
    oracle=f"""
        WITH {_LM_CTES},
        b AS (
            SELECT lang, avg_p_micro,
                   CAST(ntile(3) OVER (
                       PARTITION BY lang
                       ORDER BY avg_p_micro DESC, doc_id
                   ) AS INTEGER) AS bucket
            FROM perdoc
        )
        SELECT lang, bucket,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(avg_p_micro) AS BIGINT) AS sum_score_micro,
               CAST(min(avg_p_micro) AS BIGINT) AS floor_micro
        FROM b GROUP BY 1, 2
        ORDER BY 1, 2
    """,
)
def text_lm_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's actual output shape: per-language head/middle/tail
    terciles of LM score (bucket 1 = most in-domain).  NTILE over
    (score desc, doc_id) makes tercile assignment deterministic even
    across equal scores; the per-bucket report (count, integer score
    mass, the tercile's floor score) is what drives CCNet's
    keep-head/sample-middle/drop-tail policy downstream.  Shares the
    scoring definition with text_lm_quality_filter on both engines
    (functions/lm.py / the _LM_CTES chain)."""
    from pyspark.sql import Window as W

    from ..functions.lm import score_docs

    t = Tables(spark, sf_dir)
    perdoc = score_docs(t.documents, _reference_lm(t), sort=False)
    w = W.partitionBy("lang").orderBy(
        F.col("avg_p_micro").desc(), "doc_id"
    )
    b = perdoc.withColumn("bucket", F.ntile(3).over(w))
    return (
        b.groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("avg_p_micro").alias("sum_score_micro"),
            F.min("avg_p_micro").alias("floor_micro"),
        )
        .orderBy("lang", "bucket")
    )
