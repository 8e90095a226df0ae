"""Physical data layout: range-clustered writes for file/row-group
skipping.

The reference stores whatever file layout the ingest happened to
produce (preprocess.py:42-44) and compacts purely for file *count*
(preprocess.py:70-76).  At 100 TB, layout is a first-class lever: when
a table is written range-clustered on its hot filter column, parquet
footer min/max stats make most files/row-groups skippable — a
time-range query reads one file instead of all of them, before any
execution starts.

``cluster_write`` = ``repartitionByRange(n, cols)`` (one range shuffle;
disjoint value ranges per output file, boundaries from a sampled
RangePartitioner) + ``sortWithinPartitions`` (clusters row groups
WITHIN each file, so even intra-file reads skip).  This is the
single-dimension form of what OPTIMIZE ZORDER does for multi-dimension
keys; for two-plus filter columns, interleave their bits into a
computed ``zorder_key`` column and cluster on that.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def cluster_write(
    df: DataFrame,
    path: str,
    cols: list[str],
    *,
    n_files: int,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` range-clustered on ``cols`` into ~``n_files`` files
    with disjoint value ranges and sorted row groups."""
    (
        df.repartitionByRange(n_files, *[F.col(c) for c in cols])
        .sortWithinPartitions(*cols)
        .write.mode(mode)
        .parquet(path)
    )


def zorder_key_2d(a: F.Column, b: F.Column, bits: int = 16) -> F.Column:
    """Interleave the low ``bits`` bits of two non-negative int columns
    into a Z-order key — cluster on this to get 2-D skipping from 1-D
    range clustering.  Columns must be pre-bucketed to [0, 2^bits)
    (e.g. ``ntile`` or epoch-day & mask)."""
    key = F.lit(0).cast("long")
    for i in range(bits):
        key = (
            key
            + F.shiftleft(
                F.shiftright(a.cast("long"), i).bitwiseAND(F.lit(1)), 2 * i
            )
            + F.shiftleft(
                F.shiftright(b.cast("long"), i).bitwiseAND(F.lit(1)),
                2 * i + 1,
            )
        )
    return key
