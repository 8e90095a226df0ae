"""Streaming embedding ingestion: a vector stream ticks the persisted
IVF index exactly-once per micro-batch — the operating mode of
similarity/index.py IVFIndex.tick, on the shared tick protocol
(streaming/ticks.py) every other persisted index already rides.

Shape per tick: quantize the new vectors, assign to nearest STORED
centroid (K-row broadcast, map-side argmin — the batch never
shuffles), append inverted-file rows keyed by the content-derived
epoch batch id.  A replayed epoch — foreachBatch crash window OR a
wiped checkpoint over re-bundled files — adds nothing (TxTable
batch-id no-op).  Centroids are never touched by the stream;
``IVFIndex.build`` on the maintenance cadence retrains them (recall
hygiene against distribution drift), and ``compact_over_files`` keeps
the inverted file's cell-clustered layout pruning-effective as tick
appends accrete.

At 100 TB this replaces the nightly full-corpus index rebuild: ANN
queries keep hitting a fresh index all day while per-tick cost stays
O(new vectors), never O(corpus).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..similarity.index import IVFIndex
from .ticks import stream_doc_ticks

__all__ = ["VECTOR_SCHEMA", "stream_ivf_ticks"]

VECTOR_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ]
)


def stream_ivf_ticks(
    spark: SparkSession,
    vectors_dir: str,
    index_path: str,
    checkpoint_dir: str,
    *,
    schema: T.StructType = VECTOR_SCHEMA,
    max_files_per_trigger: int | None = None,
    compact_over_files: int | None = 64,
) -> StreamingQuery:
    """Drain staged vector files (JSON-lines of vec_id/embedding)
    through IVF index ticks; AvailableNow trigger = one scheduler run.
    The index must already be built (stored centroids are the
    assignment rule); ``compact_over_files`` re-clusters the inverted
    file by cell once its snapshot exceeds that many files (None
    disables)."""
    idx = IVFIndex(index_path)

    def tick(batch: DataFrame, bid: str) -> None:
        idx.tick(batch.sparkSession, batch, batch_id=bid)

    q = stream_doc_ticks(
        spark,
        vectors_dir,
        checkpoint_dir,
        tick,
        schema=schema,
        id_col="vec_id",
        max_files_per_trigger=max_files_per_trigger,
    )
    if (
        compact_over_files
        and len(idx.cells_t.snapshot_files()) > compact_over_files
    ):
        idx.cells_t.compact(spark, target_files=8, cluster_by=("cell",))
    return q
