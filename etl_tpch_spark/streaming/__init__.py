"""Structured Streaming surface (SURVEY.md §2.9).

The reference emulates streaming with cron-style re-execution: Prefect
interval deployments re-run batch flows every 15 min, with file locks +
delete-after-write approximating exactly-once (reference
workflow.py:12-31, preprocess.py:45-59, settings.py:37-40; SURVEY.md
T1-T6).  Spark replaces that machinery natively:

- ``streaming.ingest`` — checkpointed file-source → sink streams; the
  exactly-once replacement for locks/retries/deletes (T3/T4/S10).
- ``streaming.windows`` — event-time tumbling/sliding/session windows
  with watermarks (T2/T5); written against plain DataFrames so the same
  function serves batch and streaming plans.
- ``streaming.stateful`` — custom per-key state machines via
  ``applyInPandasWithState`` (the operator class the reference cannot
  express at all).
- ``streaming.ticks`` — the exactly-once index-tick drain.  The crawl
  doc drain of pipeline/daily.py ``crawl_day_tick`` is its one
  document caller (default-gate coverage: tests/test_crawl_drain.py);
  ``streaming.hll_index`` and ``streaming.ivf_index`` drain event and
  vector files through it.
"""

from .hll_index import stream_hll_ticks
from .ingest import stream_ingest_all, stream_ingest_table
from .joins import stream_orders_lineitem_join
from .stateful import running_user_stats
from .windows import (
    session_window_stats,
    sliding_window_avg,
    streaming_events_source,
    tumbling_window_counts,
)

__all__ = [
    "stream_ingest_table",
    "stream_ingest_all",
    "stream_orders_lineitem_join",
    "streaming_events_source",
    "tumbling_window_counts",
    "sliding_window_avg",
    "session_window_stats",
    "running_user_stats",
    "stream_hll_ticks",
]
