"""Deterministic input tables for the benchmark.

Writes the ten tables the engine reads (``region nation customer
supplier part orders lineitem events documents embeddings``) as one
parquet file each, with the column names and types of the engine's
fixture layout (``etl_tpch_spark/schemas.py``).  Every value is drawn
from ``numpy.random.default_rng(seed)``, so the same ``(sf, seed)``
always gives byte-identical tables; no Spark is involved, so the
engine under test does none of the generator's work.

Row counts scale linearly with ``sf`` (lineitem ~ 6M x sf); the text
and vector tables keep a 500-row floor so small scales still exercise
the dedup / similarity operators.  Five percent of the documents are
near-duplicates of an earlier one (one word changed, ``" dup"``
appended), the shape the dedup cascade is built for.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a the data spark table column row key value join filter group agg "
    "sort merge hash scan query order line part customer window stream "
    "batch vector small big fast slow"
).split()
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("small", "large", "red", "blue", "hot", "old", "new", "green")
PART_NOUN = ("ring", "widget", "bolt", "plate", "rod", "gear", "pipe", "nut")
PART_TYPES = ("ECONOMY", "SMALL", "MEDIUM", "LARGE", "STANDARD", "PROMO")
EVENT_TYPES = ("view", "click", "purchase", "error", "signup")
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
EMBED_DIM = 64
N_LABELS = 10

def table_sizes(sf: float) -> dict[str, int]:
    """Row count per table at scale factor ``sf``."""
    n = lambda base, floor=1: max(floor, int(round(base * sf)))  # noqa: E731
    return {
        "region": 5,
        "nation": 25,
        "customer": n(150_000, 150),
        "supplier": n(10_000, 10),
        "part": n(200_000, 200),
        "orders": n(1_500_000, 1500),
        "lineitem": n(6_000_000, 6000),
        "events": n(1_000_000, 1000),
        "documents": n(50_000, 500),
        "embeddings": n(20_000, 500),
    }


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    d = rng.integers(0, int((hi - lo).astype(int)) + 1, n)
    return (lo + d).astype("datetime64[us]")


def _texts(rng, n: int) -> list[str]:
    lens = rng.integers(10, 100, n)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lens]
    # near-duplicates: copy an earlier doc, change one word, tag it
    for i in rng.choice(np.arange(1, n), size=n // 20, replace=False):
        src = texts[int(rng.integers(0, i))].split()
        src[int(rng.integers(0, len(src)))] = WORDS[
            int(rng.integers(0, len(WORDS)))
        ]
        texts[i] = " ".join(src) + " dup"
    return texts


def events(rng, n: int, n_users: int) -> pa.Table:
    """``n`` click-stream events over 30 days."""
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n)) + np.datetime64(
        "2024-01-01T00:00:00", "us"
    ).astype(np.int64)
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": pa.array(np.round(rng.exponential(50.0, n), 2), pa.float64()),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)],
    })


def documents(rng, n: int) -> pa.Table:
    """``n`` crawl-style documents (5% near-duplicates)."""
    texts = _texts(rng, n)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def make_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """Build every table in memory (a few hundred MB at most at sf 0.1)."""
    rng = np.random.default_rng(seed)
    size = table_sizes(sf)
    nc, ns, np_, no, nl = (
        size[t] for t in ("customer", "supplier", "part", "orders", "lineitem")
    )
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, i32),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc), f64),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns), f64),
    })
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(np_), i64),
        "p_name": names[rng.integers(0, len(names), np_)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, np_)],
        "p_size": pa.array(rng.integers(1, 51, np_), i32),
        "p_retailprice": pa.array(900.0 + (np.arange(np_) % 1000) / 10.0, f64),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), i64),
        "o_custkey": pa.array(rng.integers(0, nc, no), i64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no), f64),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", no)),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
    })
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
        "l_partkey": pa.array(rng.integers(0, np_, nl), i64),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(float), f64),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, nl), f64),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0, f64),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", nl)),
    })
    out["events"] = events(rng, size["events"], nc)
    out["documents"] = documents(rng, size["documents"])
    nv = size["embeddings"]
    centers = rng.normal(0.0, 1.0, (N_LABELS, EMBED_DIM))
    labels = rng.integers(0, N_LABELS, nv)
    vecs = centers[labels] * 0.5 + rng.normal(0.0, 1.0, (nv, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), i64),
        "embedding": pa.array(
            list(vecs.astype(np.float32)), pa.list_(pa.float32())
        ),
        "label": pa.array(labels, i32),
    })
    return out


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table to ``<out_dir>/<name>.parquet``; return the
    total bytes per table."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, table in make_tables(sf, seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        sizes[name] = os.path.getsize(path)
    return sizes


if __name__ == "__main__":
    # python3 perfbench/datagen.py <out_dir> [sf] [seed]
    out = sys.argv[1]
    sf = float(sys.argv[2]) if len(sys.argv) > 2 else 0.01
    seed = int(sys.argv[3]) if len(sys.argv) > 3 else 42
    print(json.dumps(write_tables(out, sf, seed)))
