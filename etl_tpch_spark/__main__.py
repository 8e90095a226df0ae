"""CLI: ``python -m etl_tpch_spark <command>``.

The engine's operational entry points without writing a script:

    python -m etl_tpch_spark list
    python -m etl_tpch_spark run q1_pricing_summary --sf-dir /root/testdata/sf0.01
    python -m etl_tpch_spark explain flagship_unshipped_orders
    python -m etl_tpch_spark verify dedup_minhash_lsh sim_ann_topk_ivf
    python -m etl_tpch_spark cycle --root /tmp/lake --sf-dir /root/testdata/sf0.001
    python -m etl_tpch_spark serve --root /tmp/lake --ticks 4 --interval 900
    python -m etl_tpch_spark dashboard --root /tmp/lake
"""

from __future__ import annotations

import argparse
import sys
from datetime import datetime, timezone

from . import registry
from .catalog import DEFAULT_SF_DIR
from .session import get_spark


def _oracle_compare(s, o) -> list[str]:
    """Order-insensitive Spark-vs-oracle frame compare (the driver's
    gate shape: sorted columns, sorted rows, tiny float atol for
    rounding-boundary drift in order-dependent sums)."""
    import numpy as np
    import pandas as pd

    if sorted(s.columns) != sorted(o.columns):
        return [f"columns differ: {sorted(s.columns)} vs {sorted(o.columns)}"]
    if len(s) != len(o):
        return [f"row count differs: spark={len(s)} oracle={len(o)}"]
    cols = sorted(s.columns)

    def norm(df):
        df = df[cols].copy()
        for c in cols:
            if not pd.api.types.is_float_dtype(df[c]):
                df[c] = df[c].astype(str)
        # Sort keys: non-float columns as-is (they are the group keys in
        # practice), float columns ROUNDED — two engines differing within
        # the 1e-6 atol must not order rows differently, or the row-wise
        # compare misaligns and reports a spurious FAIL.
        keys = [
            df[c] if not pd.api.types.is_float_dtype(df[c]) else df[c].round(5)
            for c in cols
        ]
        order = pd.DataFrame({i: k for i, k in enumerate(keys)}).sort_values(
            list(range(len(cols)))
        ).index
        return df.loc[order].reset_index(drop=True)

    g, w = norm(s), norm(o)
    for c in cols:
        if pd.api.types.is_float_dtype(g[c]) or pd.api.types.is_float_dtype(w[c]):
            ga = g[c].astype("float64").to_numpy()
            wa = w[c].astype("float64").to_numpy()
            ok = np.isclose(ga, wa, rtol=0, atol=1e-6) | (
                np.isnan(ga) & np.isnan(wa)
            )
            if not ok.all():
                return [f"col {c}: {int((~ok).sum())} value mismatches"]
        elif not g[c].equals(w[c]):
            return [f"col {c}: value mismatches"]
    return []


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="etl_tpch_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list", help="list registered queries")

    run = sub.add_parser("run", help="run one query, print the result")
    run.add_argument("query")
    run.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    run.add_argument("--limit", type=int, default=20)

    ex = sub.add_parser("explain", help="print a query's physical plan")
    ex.add_argument("query")
    ex.add_argument("--sf-dir", default=DEFAULT_SF_DIR)

    cyc = sub.add_parser("cycle", help="run one pipeline tick")
    cyc.add_argument("--root", required=True)
    cyc.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    cyc.add_argument("--compact", action="store_true")
    cyc.add_argument("--reduce", action="store_true")

    srv = sub.add_parser(
        "serve",
        help="interval scheduling daemon: N pipeline ticks on a timer "
        "(reference workflow.py:12-39 deployment cadences)",
    )
    srv.add_argument("--root", required=True)
    srv.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    srv.add_argument("--ticks", type=int, default=4)
    srv.add_argument("--interval", type=float, default=0.0,
                     help="seconds between ticks (reference: 900)")
    srv.add_argument("--compact-every", type=int, default=24)
    srv.add_argument("--reduce-every", type=int, default=96)

    ver = sub.add_parser(
        "verify",
        help="run a query AND its DuckDB oracle on the same parquet, "
        "compare order-insensitively (the driver's correctness gate)",
    )
    ver.add_argument("query", nargs="*",
                     help="query names (default: every oracle-backed query)")
    ver.add_argument("--sf-dir", default=DEFAULT_SF_DIR)

    ctk = sub.add_parser(
        "corpus-tick",
        help="run one LLM-corpus curation tick (dedup-index → quality "
        "gate → splits → exactly-once corpus append; pipeline/corpus.py)",
    )
    ctk.add_argument("--root", required=True)
    ctk.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    ctk.add_argument("--batch-id", required=True,
                     help="tick identity; replaying an id mutates nothing")
    ctk.add_argument("--doc-id-min", type=int, default=None)
    ctk.add_argument("--doc-id-max", type=int, default=None,
                     help="optional doc_id window simulating one crawl day")
    ctk.add_argument("--compact", action="store_true")
    ctk.add_argument("--export", action="store_true")

    dtk = sub.add_parser(
        "daily-tick",
        help="run ONE integrated daily tick over staged crawl/event "
        "files (pipeline/daily.py: corpus + span + LM ticks under one "
        "checkpoint, HLL event drain, maintenance, shard export)",
    )
    dtk.add_argument("--root", required=True,
                     help="lake root (indexes, corpus, checkpoints)")
    dtk.add_argument("--crawl-dir", required=True,
                     help="staged crawl JSON-lines (doc_id/text/lang/source)")
    dtk.add_argument("--events-dir", default=None,
                     help="staged event JSON-lines (event_id/ts/user_id)")
    dtk.add_argument("--export", action="store_true",
                     help="export train-split shuffle shards after the drain")

    dash = sub.add_parser(
        "dashboard",
        help="render the gold-zone results as formatted tables "
        "(reference dashboard.py:9-70, terminal form)",
    )
    dash.add_argument("--root", required=True)
    dash.add_argument("--limit", type=int, default=10)
    dash.add_argument(
        "--html",
        default=None,
        metavar="OUT",
        help="also render the web form: one static self-contained "
        "HTML page (the reference's Streamlit view as a gold-zone "
        "artifact)",
    )

    hist = sub.add_parser(
        "history",
        help="DESCRIBE HISTORY of a lake table (op, file deltas, row "
        "counts, batch ids per version; pipeline/txlog.py)",
    )
    hist.add_argument("--root", required=True)
    hist.add_argument("--table", default="corpus",
                      help="table dir under the lake root")

    srch = sub.add_parser(
        "search",
        help="BM25 search the persisted inverted index (builds it "
        "from the documents table on first use; "
        "pipeline/search_index.py)",
    )
    srch.add_argument("terms", nargs="+", help="query terms")
    srch.add_argument("--root", required=True,
                      help="dir holding the search_index/ TxTables")
    srch.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    srch.add_argument("--topk", type=int, default=10)

    ltk = sub.add_parser(
        "lm-tick",
        help="score one crawl batch against the persisted bigram LM "
        "(train-once, then O(new) scoring ticks; pipeline/lm_index.py)",
    )
    ltk.add_argument("--root", required=True,
                     help="dir holding the lm/ and scores/ TxTables")
    ltk.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    ltk.add_argument("--batch-id", required=True,
                     help="tick identity; replaying an id appends nothing")
    ltk.add_argument("--doc-id-min", type=int, default=None)
    ltk.add_argument("--doc-id-max", type=int, default=None,
                     help="optional doc_id window simulating one crawl day")

    args = p.parse_args(argv)
    qs = registry.load_all()

    if args.cmd == "list":
        for name in sorted(qs):
            kind = "hash " if qs[name].oracle else "rows "
            print(f"{kind} {name}")
        return 0

    if args.cmd in ("run", "explain"):
        if args.query not in qs:
            print(f"unknown query {args.query!r}; try: list", file=sys.stderr)
            return 2
        spark = get_spark("etl_tpch_spark-cli")
        df = qs[args.query].fn(spark, args.sf_dir)
        if args.cmd == "explain":
            from .plans import explain_text

            print(explain_text(df))
        else:
            df.show(args.limit, truncate=False)
            print(f"({df.count()} rows total)")
        return 0

    if args.cmd == "serve":
        from .pipeline.workflow import serve_loop

        spark = get_spark("etl_tpch_spark-cli")
        outs = serve_loop(
            spark,
            args.sf_dir,
            args.root,
            ticks=args.ticks,
            interval_s=args.interval,
            compact_every=args.compact_every,
            reduce_every=args.reduce_every,
            quality_gate=True,
        )
        for out in outs:
            print(out)
        return 0

    if args.cmd == "verify":
        import duckdb

        from .schemas import TABLE_NAMES

        names = args.query or [n for n, q in qs.items() if q.oracle]
        unknown = [n for n in names if n not in qs]
        if unknown:
            print(f"unknown queries {unknown}; try: list", file=sys.stderr)
            return 2
        con = duckdb.connect()
        import os as _os

        for t in TABLE_NAMES:
            p = _os.path.join(args.sf_dir, f"{t}.parquet")
            if _os.path.exists(p):
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
                )
        spark = get_spark("etl_tpch_spark-cli")
        failed = 0
        for name in names:
            if not qs[name].oracle:
                print(f"SKIP  {name} (rows-only: no SQL oracle)")
                continue
            s = qs[name].fn(spark, args.sf_dir).toPandas()
            o = con.execute(qs[name].oracle).df()
            problems = _oracle_compare(s, o)
            if problems:
                failed += 1
                print(f"FAIL  {name}: {problems[0]}")
            else:
                print(f"ok    {name} ({len(s)} rows)")
        print(f"{len(names) - failed}/{len(names)} verified")
        return 1 if failed else 0

    if args.cmd == "dashboard":
        import os

        from .pipeline.reduce import SEGMENTS
        from .pipeline.serving import format_for_display
        from .pipeline.workflow import results_ready

        # one generation for the whole render: a reduce that publishes
        # meanwhile flips the link, not the files read here
        results = os.path.realpath(os.path.join(args.root, "results"))
        if not results_ready(results):
            # reference pipeline/dashboard.py:24-32: wait-for-results
            # health check; here we report instead of blocking
            print("results not ready (run `serve` or `cycle --reduce`)",
                  file=sys.stderr)
            return 1
        spark = get_spark("etl_tpch_spark-cli")
        for seg in SEGMENTS:
            seg_path = os.path.join(results, f"{seg.lower()}.snappy.parquet")
            print(f"=== {seg} — top unshipped orders by revenue ===")
            format_for_display(spark.read.parquet(seg_path)).show(
                args.limit, truncate=False
            )
        if args.html:
            from .pipeline.serving import render_dashboard_html

            out = render_dashboard_html(spark, results, args.html)
            print(f"wrote {out}")
        return 0

    if args.cmd == "daily-tick":
        from .pipeline.daily import crawl_day_tick

        spark = get_spark("etl_tpch_spark-cli")
        out = crawl_day_tick(
            spark,
            args.crawl_dir,
            args.root,
            events_dir=args.events_dir,
            export=args.export,
        )
        for stage, result in out.items():
            print(f"{stage}: {result}")
        return 0

    if args.cmd == "corpus-tick":
        from pyspark.sql import functions as F

        from .catalog import load_table
        from .pipeline.corpus import corpus_cycle

        spark = get_spark("etl_tpch_spark-cli")
        docs = load_table(spark, args.sf_dir, "documents")
        if args.doc_id_min is not None:
            docs = docs.filter(F.col("doc_id") >= args.doc_id_min)
        if args.doc_id_max is not None:
            docs = docs.filter(F.col("doc_id") < args.doc_id_max)
        out = corpus_cycle(
            spark,
            docs,
            args.root,
            batch_id=args.batch_id,
            compact=args.compact,
            export=args.export,
        )
        for stage, result in out.items():
            print(f"{stage}: {result}")
        return 0

    if args.cmd == "history":
        import os

        from .pipeline.txlog import TxTable

        t = TxTable(os.path.join(args.root, args.table))
        if t.latest_version() is None:
            print(f"no committed table at {args.root}/{args.table}",
                  file=sys.stderr)
            return 1
        spark = get_spark("etl_tpch_spark-cli")
        t.history(spark).orderBy("version").show(100, truncate=False)
        return 0

    if args.cmd == "search":
        import os

        from .catalog import load_table
        from .pipeline.search_index import SearchIndex

        spark = get_spark("etl_tpch_spark-cli")
        idx = SearchIndex(os.path.join(args.root, "search_index"))
        if idx.postings.latest_version() is None:
            docs = load_table(spark, args.sf_dir, "documents")
            idx.ingest(docs, batch_id="initial-corpus")
            print("index built from documents table")
        if len(idx.postings.snapshot_files()) > 8:
            # covers both accreted daily ticks and a first run that
            # crashed between ingest and layout — optimize is driven
            # by the observable file count, not a built-this-run flag
            idx.optimize(spark)
        # MaxScore-pruned plan (exact; falls back to the unpruned
        # shape whenever no term is provably non-essential)
        idx.search_pruned(spark, args.terms, args.topk).show(
            args.topk, truncate=False
        )
        return 0

    if args.cmd == "lm-tick":
        import os

        from pyspark.sql import functions as F

        from .catalog import load_table
        from .pipeline.lm_index import LmIndex
        from .pipeline.txlog import TxTable
        from .queries.text import _LM_REF_SOURCE

        spark = get_spark("etl_tpch_spark-cli")
        idx = LmIndex(os.path.join(args.root, "lm"))
        if idx.table.latest_version() is None:
            ref = load_table(spark, args.sf_dir, "documents").filter(
                F.col("source") == _LM_REF_SOURCE
            )
            v = idx.ingest(ref, batch_id="ref-initial")
            print(f"lm trained: version {v}")
        docs = load_table(spark, args.sf_dir, "documents")
        if args.doc_id_min is not None:
            docs = docs.filter(F.col("doc_id") >= args.doc_id_min)
        if args.doc_id_max is not None:
            docs = docs.filter(F.col("doc_id") < args.doc_id_max)
        scores = TxTable(os.path.join(args.root, "scores"))
        v = scores.append(
            idx.score(spark, docs), batch_id=args.batch_id
        )
        print(f"scores: version {v} ({scores.read(spark).count()} rows)")
        return 0

    if args.cmd == "cycle":
        from .pipeline.workflow import run_cycle

        spark = get_spark("etl_tpch_spark-cli")
        out = run_cycle(
            spark,
            args.sf_dir,
            args.root,
            now=datetime.now(timezone.utc).replace(tzinfo=None),
            compact=args.compact,
            reduce=args.reduce,
            quality_gate=True,
        )
        for stage, result in out.items():
            print(f"{stage}: {result}")
        return 0

    return 2


if __name__ == "__main__":
    sys.exit(main())
