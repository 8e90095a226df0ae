"""Range-clustered layout tests (pipeline/layout.py): clustered files
must carry disjoint min/max ranges (the skipping precondition), and a
narrow filter over a clustered table must touch fewer files than over
a random layout."""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq

from pyspark.sql import functions as F

from etl_tpch_spark.catalog import load_table
from etl_tpch_spark.pipeline.layout import cluster_write, zorder_key_2d


def _file_ranges(path: str, col: str) -> list[tuple]:
    out = []
    for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True):
        md = pq.ParquetFile(f).metadata
        idx = md.schema.names.index(col)
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        out.append((min(mins), max(maxs)))
    return out


def test_clustered_files_have_disjoint_ranges(spark, sf_dir, tmp_path):
    src = load_table(spark, sf_dir, "lineitem")
    path = str(tmp_path / "li_clustered")
    cluster_write(src, path, ["l_shipdate"], n_files=6)
    ranges = sorted(_file_ranges(path, "l_shipdate"))
    assert len(ranges) >= 3  # range partitioner actually split
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi <= lo  # disjoint (boundary equality allowed)


def test_clustered_filter_touches_fewer_files(spark, sf_dir, tmp_path):
    src = load_table(spark, sf_dir, "lineitem")
    clustered = str(tmp_path / "clustered")
    scattered = str(tmp_path / "scattered")
    cluster_write(src, clustered, ["l_shipdate"], n_files=6)
    # adversarial layout: shuffle rows round-robin across 6 files
    src.repartition(6).write.parquet(scattered)

    lo, hi = src.selectExpr(
        "min(l_shipdate)", "max(l_shipdate)"
    ).first()
    cutoff = lo + (hi - lo) / 20  # ~5% slice at the low end
    pred = F.col("l_shipdate") <= F.lit(cutoff)

    def files_touched(path: str) -> int:
        return (
            spark.read.parquet(path)
            .filter(pred)
            .select(F.input_file_name())
            .distinct()
            .count()
        )

    n_clustered = files_touched(clustered)
    n_scattered = files_touched(scattered)
    assert n_clustered <= 2
    assert n_clustered < n_scattered


def test_zorder_key_interleaves_bits(spark):
    df = spark.createDataFrame([(0b101, 0b011)], "a long, b long")
    key = df.select(
        zorder_key_2d(F.col("a"), F.col("b"), bits=3).alias("z")
    ).first()["z"]
    # a bits → even positions (0,2,4), b bits → odd (1,3,5):
    # a=101, b=011 → z bit0=1, bit1=1, bit2=0, bit3=1, bit4=1, bit5=0
    assert key == 0b011011


def test_zorder_clustering_groups_neighbors(spark, sf_dir, tmp_path):
    src = load_table(spark, sf_dir, "lineitem").withColumn(
        "z",
        zorder_key_2d(
            F.col("l_partkey") % 256, F.col("l_suppkey") % 256, bits=8
        ),
    )
    path = str(tmp_path / "li_z")
    cluster_write(src, path, ["z"], n_files=4)
    ranges = sorted(_file_ranges(path, "z"))
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi <= lo
