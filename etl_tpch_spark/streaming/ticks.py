"""The shared drain of index-tick streams: staged files drain through a
checkpointed AvailableNow file stream, one exactly-once tick per
micro-batch.

Three drains ride it: the crawl doc drain of pipeline/daily.py
``crawl_day_tick`` (corpus cycle, span, LM, search and classifier
stages under one batch id; default-gate coverage in
tests/test_crawl_drain.py), the HLL event drain
(streaming/hll_index.py) and the IVF vector drain
(streaming/ivf_index.py).  The protocol — file-source checkpoint +
content-derived epoch batch ids (streaming/batchid.py) — lives in ONE
place, so a fix to the replay contract lands in every drain at once.
The drain returns only when it has finished, so each caller runs its
index maintenance (compaction, fold) right after the call."""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from .batchid import batch_content_id

# the staged crawl document: what the crawler writes and every stage
# of the doc drain reads
CRAWL_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
    ]
)


def stream_doc_ticks(
    spark: SparkSession,
    crawl_dir: str,
    checkpoint_dir: str,
    tick: Callable[[DataFrame, str], None],
    *,
    schema: T.StructType,
    id_col: str = "doc_id",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Drain staged files (JSON-lines matching ``schema``) and call
    ``tick(batch, batch_id)`` once per micro-batch, with
    ``batch_id = f"{checkpoint_name}-{epoch}-{content_fingerprint}"``
    (fingerprint over ``id_col``) — idempotent against both the
    foreachBatch replay window AND a wiped checkpoint over re-bundled
    files.  Returns the query once the drain has finished."""
    ckpt_name = os.path.basename(os.path.normpath(checkpoint_dir))

    def run(batch: DataFrame, epoch_id: int) -> None:
        bid = f"{ckpt_name}-{epoch_id}-{batch_content_id(batch, id_col)}"
        tick(batch, bid)

    reader = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "*.json")
        .option("recursiveFileLookup", "true")
    )
    if max_files_per_trigger:
        reader = reader.option(
            "maxFilesPerTrigger", str(max_files_per_trigger)
        )
    src = reader.json(crawl_dir).select(*[f.name for f in schema.fields])

    q = (
        src.writeStream.foreachBatch(run)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
