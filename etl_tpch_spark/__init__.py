"""etl_tpch_spark — a PySpark-native analytics engine.

Re-expresses the capability surface of the reference micro-batch ETL
pipeline (coiled/etl-tpch; see SURVEY.md) as an idiomatic Spark engine:

- ``session``     — tuned SparkSession bootstrap (AQE, Arrow, UTC).
- ``schemas``     — explicit StructTypes for every table (FIXTURES.md).
- ``catalog``     — parquet-directory table loading + temp-view registry.
- ``queries``     — the analytical query surface (flagship Q3-variant,
                    adapted TPC-H set, windowed/event queries) built on
                    the central ``registry``.
- ``operators``   — reusable relational operators (joins incl. as-of
                    and range, bloom semi-joins, PageRank, skew).
- ``functions``   — scalar function library + text analysis +
                    batch-inference pandas UDFs.
- ``dedup``       — exact / minhash-LSH / simhash / n-gram-jaccard /
                    embedding near-duplicate detection.
- ``similarity``  — cosine top-k ANN (brute force + LSH-bucketed).
- ``multimodal``  — binary-column (image/audio) plumbing with stubbed
                    decoders.
- ``pipeline``    — the ETL stages (generate → ingest → compact →
                    reduce) from the reference, Spark-first.
- ``streaming``   — Structured Streaming variants of the pipeline
                    stages and stateful operators.

Design rule: everything is stock PySpark DataFrame/SQL — Catalyst does
the optimizing; Python never touches rows except in clearly-marked
Arrow-vectorized pandas UDFs (SURVEY.md §4).
"""

__version__ = "0.1.0"
