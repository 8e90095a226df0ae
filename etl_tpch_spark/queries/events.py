"""Event-stream queries over the ``events`` table (SURVEY.md §2.9).

The reference emulates streaming by cron re-execution over files
(workflow.py:12-31); Spark gives true event-time semantics.  These are
the *batch* forms of the streaming operators — identical logical plans
run under Structured Streaming in etl_tpch_spark/streaming/ (same
window()/session_window() calls with withWatermark); batch form is what
the DuckDB oracle can check.

Determinism notes: events.value is an exact 2-decimal double → decimal
sums (functions/agg.py); window starts are epoch-aligned in both Spark
``window()`` and DuckDB ``time_bucket`` for sub-day intervals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..catalog import Tables
from ..functions.agg import money
from ..registry import query


@query(
    "events_json_extract",
    oracle="""
        SELECT event_type,
               count(*) AS n,
               CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                    AS BIGINT) AS sum_k,
               CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT))
                    AS BIGINT) AS min_k,
               CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT))
                    AS BIGINT) AS max_k
        FROM events
        GROUP BY event_type
    """,
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction from the string ``props`` column (SURVEY.md §2.8
    north-star row): get_json_object → typed aggregation.  At scale
    prefer ``from_json`` with an explicit schema once per pipeline stage
    (single parse, typed struct) — exposed in functions/json.py."""
    t = Tables(spark, sf_dir)
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return t.events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(k).alias("sum_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
    )


@query(
    "events_tumbling_window",
    oracle="""
        SELECT time_bucket(INTERVAL '1 hour', ts) AS w_start,
               event_type,
               count(*) AS n,
               CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE)
                 AS total_value
        FROM events
        GROUP BY 1, 2
    """,
)
def events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time window (T1/T2 — the reference's 15-min
    micro-batch cadence generalized).  Same groupBy(window(...)) runs
    under readStream + withWatermark for the streaming form."""
    t = Tables(spark, sf_dir)
    return (
        t.events.groupBy(
            F.window("ts", "1 hour").alias("w"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(money(F.col("value"))), 2)
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("w.start").alias("w_start"), "event_type", "n", "total_value"
        )
    )


@query(
    "events_sliding_window",
    oracle="""
        WITH assigned AS (
            SELECT time_bucket(INTERVAL '5 minutes', ts) AS w_start, event_id
            FROM events
            UNION ALL
            SELECT time_bucket(INTERVAL '5 minutes', ts) - INTERVAL 5 MINUTE
                     AS w_start,
                   event_id
            FROM events
        )
        SELECT w_start, count(*) AS n
        FROM assigned
        GROUP BY w_start
    """,
)
def events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window: 10-minute length, 5-minute slide — each event
    lands in exactly two windows.  Spark plans this as an Expand (×2
    rows) + single hash agg; the oracle replicates via UNION ALL of the
    two shifted bucket assignments."""
    t = Tables(spark, sf_dir)
    return (
        t.events.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("w_start"), "n")
    )


@query(
    "events_session_window",
    oracle="""
        WITH flagged AS (
            SELECT user_id, ts, value,
                   CASE WHEN lag(ts) OVER w IS NULL
                          OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS new_sess
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sessions AS (
            SELECT *,
                   sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                       ROWS UNBOUNDED PRECEDING) AS sess_id
            FROM flagged
        )
        SELECT user_id,
               min(ts) AS session_start,
               max(ts) + INTERVAL 30 MINUTE AS session_end,
               count(*) AS n_events,
               CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE)
                 AS total_value
        FROM sessions
        GROUP BY user_id, sess_id
    """,
)
def events_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session window (30-minute gap) per user — Spark's native
    ``session_window`` (merges adjacent events server-side; in streaming
    the same expression is a stateful operator with watermark eviction).
    Oracle: classic gaps-and-islands (lag + running flag sum).
    Spark session end = last event + gap, matching max(ts)+gap."""
    t = Tables(spark, sf_dir)
    return (
        t.events.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), F.col("user_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(money(F.col("value"))), 2)
            .cast("double")
            .alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


@query(
    "events_type_share_by_day",
    oracle="""
        SELECT CAST(ts AS DATE) AS day,
               CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                    AS BIGINT) AS errors,
               count(*) AS total,
               round(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                     * 1.0 / count(*), 6) AS error_rate
        FROM events
        GROUP BY 1
    """,
)
def events_error_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily error-rate: conditional count ratio (exact int / int —
    single IEEE division, deterministic)."""
    t = Tables(spark, sf_dir)
    err = F.when(F.col("event_type") == "error", 1).otherwise(0)
    return (
        t.events.groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.sum(err).alias("errors"),
            F.count(F.lit(1)).alias("total"),
        )
        .withColumn(
            "error_rate",
            F.round(F.col("errors") * 1.0 / F.col("total"), 6),
        )
    )


@query(
    "events_funnel",
    oracle="""
        WITH firsts AS (
            SELECT user_id,
                   min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
                   min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
                   min(CASE WHEN event_type = 'purchase' THEN ts END)
                     AS t_purchase
            FROM events
            GROUP BY user_id
        )
        SELECT
            CAST(count(*) AS BIGINT) AS n_users,
            CAST(sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS viewed,
            CAST(sum(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                          THEN 1 ELSE 0 END) AS BIGINT) AS clicked_after,
            CAST(sum(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                          AND t_purchase > t_click
                          THEN 1 ELSE 0 END) AS BIGINT) AS purchased_after
        FROM firsts
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: users whose FIRST view precedes their first
    click precedes their first purchase — one conditional-min aggregate
    per user then one global roll-up (two shuffles, no joins, no
    windows; the idiomatic funnel at any scale)."""
    t = Tables(spark, sf_dir)

    def first_ts(ev: str):
        return F.min(
            F.when(F.col("event_type") == ev, F.col("ts"))
        ).alias(f"t_{ev}")

    firsts = t.events.groupBy("user_id").agg(
        first_ts("view"), first_ts("click"), first_ts("purchase")
    )
    viewed = F.col("t_view").isNotNull()
    clicked = viewed & (F.col("t_click") > F.col("t_view"))
    purchased = clicked & (F.col("t_purchase") > F.col("t_click"))
    return firsts.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(viewed.cast("int")).alias("viewed"),
        F.sum(clicked.cast("int")).alias("clicked_after"),
        F.sum(purchased.cast("int")).alias("purchased_after"),
    )


@query(
    "events_cohort_retention",
    oracle="""
        WITH firstw AS (
            SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
            FROM events GROUP BY user_id
        ),
        act AS (
            SELECT DISTINCT user_id, date_trunc('week', ts) AS activity_week
            FROM events
        ),
        csize AS (
            SELECT cohort_week, count(*) AS n_cohort
            FROM firstw GROUP BY cohort_week
        ),
        r AS (
            SELECT f.cohort_week,
                   CAST(date_diff('day', f.cohort_week, a.activity_week) // 7
                        AS INTEGER) AS week_offset,
                   count(DISTINCT a.user_id) AS n_active
            FROM act a JOIN firstw f USING (user_id)
            GROUP BY 1, 2
        )
        SELECT r.cohort_week, r.week_offset,
               CAST(r.n_active AS BIGINT) AS n_active,
               CAST(c.n_cohort AS BIGINT) AS n_cohort,
               round(r.n_active * 1.0 / c.n_cohort, 6) AS retention
        FROM r JOIN csize c USING (cohort_week)
    """,
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-activity week; for each
    cohort × week-offset, the share still active.  The canonical product
    -analytics rollup — two aggregations plus one join on user_id, all
    equi-shuffles; week truncation commutes with min so the cohort pass
    is a plain groupBy.  Exact int ratios → deterministic doubles."""
    t = Tables(spark, sf_dir)
    firstw = t.events.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    act = t.events.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("activity_week")
    ).distinct()
    csize = firstw.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("n_cohort")
    )
    r = (
        act.join(firstw, "user_id")
        .groupBy(
            "cohort_week",
            (
                F.datediff(F.col("activity_week"), F.col("cohort_week"))
                / 7
            )
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
    )
    return r.join(csize, "cohort_week").select(
        "cohort_week",
        "week_offset",
        "n_active",
        "n_cohort",
        F.round(F.col("n_active") * 1.0 / F.col("n_cohort"), 6).alias(
            "retention"
        ),
    )


@query(
    "events_json_typed",
    oracle="""
        SELECT date_trunc('day', ts) AS day,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                    AS BIGINT) AS sum_k,
               CAST(count(*) FILTER (
                    CAST(json_extract_string(props, '$.k') AS BIGINT) > 50)
                    AS BIGINT) AS n_high_k
        FROM events
        GROUP BY 1
    """,
)
def events_json_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed JSON path (functions/json.py): ONE ``from_json`` parse
    into a struct, then plain column projections — vs
    ``events_json_extract``'s per-path ``get_json_object``, this
    parses each payload once no matter how many fields are read (the
    100 TB semi-structured pattern)."""
    from ..functions.json import parse_props

    t = Tables(spark, sf_dir)
    p = parse_props(F.col("props")).alias("p")
    typed = t.events.select(
        F.date_trunc("day", F.col("ts")).alias("day"), p
    ).select("day", F.col("p.k").alias("k"))
    return typed.groupBy("day").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").alias("sum_k"),
        F.count(F.when(F.col("k") > 50, 1)).alias("n_high_k"),
    )


@query(
    "events_map_type",
    oracle="""
        SELECT event_type,
               CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                    AS BIGINT) AS sum_k,
               CAST(count(*) AS BIGINT) AS n_with_k
        FROM events
        WHERE json_extract_string(props, '$.k') IS NOT NULL
        GROUP BY event_type
    """,
)
def events_map_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface: props parsed as ``map<string,long>`` (schema-
    free variant of the typed-struct path — right when payload keys
    vary per event), then element_at/map_keys drive the aggregation.
    The oracle recomputes the same values by JSON path; the map
    machinery is the Spark-side subject under test."""
    t = Tables(spark, sf_dir)
    m = F.from_json(
        F.col("props"), "map<string,bigint>"
    ).alias("m")
    typed = t.events.select("event_type", m).select(
        "event_type", F.element_at("m", "k").alias("k")
    )
    return (
        typed.filter(F.col("k").isNotNull())
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("sum_k"),
            F.count(F.lit(1)).alias("n_with_k"),
        )
    )


@query(
    "events_markov_transitions",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type,
                   lag(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS prev_type
            FROM events
        ),
        pairs AS (
            SELECT prev_type, event_type,
                   CAST(count(*) AS BIGINT) AS n
            FROM seq WHERE prev_type IS NOT NULL
            GROUP BY 1, 2
        ),
        tot AS (
            SELECT prev_type, CAST(sum(n) AS BIGINT) AS n_from
            FROM pairs GROUP BY 1
        )
        SELECT p.prev_type, p.event_type, p.n,
               CAST(1000000 * p.n // t.n_from AS BIGINT) AS p_micro
        FROM pairs p JOIN tot t USING (prev_type)
        ORDER BY p.prev_type, p.event_type
    """,
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user journeys: for each
    (previous event type → event type) step observed within a user's
    time-ordered stream, the count and the conditional probability in
    integer micro-units (1e6·n div n_from — order-free BIGINT
    arithmetic, the LM-scoring recipe applied to behavioral data).
    The product-analytics complement to the funnel/session queries:
    where the funnel checks ONE prescribed path, the matrix measures
    every observed step, and its low-probability transitions are the
    anomaly-detection prior.

    Scale shape: one user-keyed sort window for the lag (the same
    shuffle sessionization pays), one (prev, next)-keyed count whose
    cardinality is |event types|² — constant-size from there on.
    Ties inside a timestamp break on event_id, so the lag sequence is
    total-ordered and cross-engine identical."""
    t = Tables(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = t.events.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    pairs = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = pairs.groupBy("prev_type").agg(F.sum("n").alias("n_from"))
    return (
        pairs.join(tot, "prev_type")
        .select(
            "prev_type",
            "event_type",
            "n",
            F.expr(
                "CAST(1000000 * n div n_from AS BIGINT)"
            ).alias("p_micro"),
        )
        .orderBy("prev_type", "event_type")
    )


@query(
    "events_variant_extract",
    oracle="""
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(count(DISTINCT CAST(json_extract_string(props, '$.k')
                    AS BIGINT)) AS BIGINT) AS n_distinct_k,
               CAST(sum(CASE WHEN CAST(json_extract_string(props, '$.k')
                                  AS BIGINT) >= 50
                             THEN CAST(json_extract_string(props, '$.k')
                                  AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS sum_k_high
        FROM events
        GROUP BY event_type
    """,
)
def events_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT path (round 10 — the third semi-structured tier
    beside ``events_json_extract``'s per-path get_json_object and
    ``events_json_typed``'s schema-pinned from_json): ``parse_json``
    encodes each payload ONCE into the binary VARIANT form, then
    ``variant_get`` does typed path extraction — parse once, extract
    many, with NO schema declared up front (the open-format analogue
    of a warehouse VARIANT column, and the shape Spark pushes for
    schema-fluid 100 TB event lakes: the binary encoding skips string
    re-scans per path and survives schema drift that would break a
    pinned struct).  The DuckDB oracle runs the same typed extraction
    through its native JSON path functions."""
    t = Tables(spark, sf_dir)
    v = t.events.select(
        "event_type", F.parse_json(F.col("props")).alias("v")
    )
    k = F.expr("variant_get(v, '$.k', 'bigint')")
    return v.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct(k).alias("n_distinct_k"),
        F.sum(F.when(k >= 50, k).otherwise(F.lit(0))).alias(
            "sum_k_high"
        ),
    )


# ------------------------------------------------- round 11: stored VARIANT

def _variant_events_path(spark: SparkSession, sf_dir: str) -> str:
    """Build-once stored-VARIANT twin of the events table: the JSON
    payload is parsed ONCE at ingest (``parse_json``) and the binary
    VARIANT column is persisted to parquet — Spark 4 writes the
    variant logical type natively — so every query thereafter does
    typed ``variant_get`` path extraction straight off the stored
    binary, never re-scanning JSON text.  This makes the
    parse-once-extract-many claim of ``events_variant_extract``
    PHYSICAL: at 100 TB the parse cost is paid once on the ingest
    cadence (amortized like every persisted index here), and the
    stored binary is the query-time input.  A cache.stored artifact
    per events-table stamp, so a regenerated fixture can never hit a
    stale artifact."""
    import os

    from ..cache import stored
    from ..catalog import table_stamp

    def build(path: str) -> str:
        data = os.path.join(path, "data")
        (
            Tables(spark, sf_dir)
            .events.select(
                "event_type", F.parse_json(F.col("props")).alias("v")
            )
            .write.mode("overwrite")
            .parquet(data)
        )
        return data

    return stored(
        "variant-events",
        os.path.realpath(sf_dir),
        f"{table_stamp(sf_dir, 'events')}|v1",
        build,
        lambda path: os.path.join(path, "data"),
    )


@query(
    "events_variant_stored",
    oracle="""
        SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) // 10
                   AS k_decile,
               CAST(count(*) AS BIGINT) AS n,
               CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
        FROM events
        WHERE json_extract_string(props, '$.k') IS NOT NULL
        GROUP BY k_decile
    """,
)
def events_variant_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query side of the stored-VARIANT lifecycle (round 11 — VERDICT
    r10 missing #2 made physical): reads the persisted binary VARIANT
    artifact built by ``_variant_events_path`` and groups BY the
    extracted path — once the payload is stored parsed, an extracted
    path is a first-class grouping column, the shape schema-fluid
    event lakes use for ad-hoc rollups without a pinned struct.  The
    plan is scan → project(variant_get) → two-level hash-agg (pair
    counts, then the decile rollup over the ~|deciles × types| pair
    frame — negligible second exchange): linear, no JSON text read at
    query time.  k ≥ 0 in the fixture, where Spark's DIV (truncate)
    and DuckDB's // (floor) agree; the oracle runs the same extraction
    from the raw JSON — storage format must not change semantics."""
    v = spark.read.parquet(_variant_events_path(spark, sf_dir))
    return variant_decile_rollup(variant_decile_type_counts(v))


def variant_decile_type_counts(v_events: DataFrame) -> DataFrame:
    """(k_decile, event_type, n) over a frame carrying a binary
    VARIANT column ``v`` — the SINGLE-aggregation form, the one shape
    a streaming plan can run statefully (distinct aggregates are not
    supported on streams; the decile rollup below folds the distinct
    into a count over this frame's groups).  Frame-in/frame-out like
    streaming/windows.py: applied to a batch read it is a group-by,
    applied to readStream it is the stateful VARIANT ingestion path
    (tests/test_variant_store.py pins stream ≡ batch)."""
    k = F.expr("variant_get(v, '$.k', 'bigint')")
    return (
        v_events.select(F.col("event_type"), k.alias("k"))
        .where(F.col("k").isNotNull())
        .groupBy(F.expr("k DIV 10").alias("k_decile"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def variant_decile_rollup(pair_counts: DataFrame) -> DataFrame:
    """Fold (k_decile, event_type, n) pair counts into the decile
    rollup (n, n_types): count DISTINCT event_type ≡ count of the
    pair frame's groups — exact, and expressible as a plain second
    aggregation over a tiny frame on both the batch and the drained
    streaming side."""
    return pair_counts.groupBy("k_decile").agg(
        F.sum("n").cast("long").alias("n"),
        F.count(F.lit(1)).alias("n_types"),
    )
