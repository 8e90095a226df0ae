"""Serving/display layer — the engine-side equivalent of the
reference's Streamlit dashboard data prep (dashboard.py:40-69).

The reference reads each segment's result parquet and formats it for
humans: zero-padded order ids (``f"{x:09}"``, dashboard.py:46),
2-decimal rounding (dashboard.py:47), ``$``-prefixed thousands-grouped
revenue and MM/DD/YYYY dates (dashboard.py:58-69).  Here that's a
DataFrame → DataFrame transform (display strings computed JVM-side
with ``format_string``/``format_number``/``date_format``), so the
"dashboard" can be any BI tool reading the gold zone — formatting
stays in the engine where it is testable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .reduce import SEGMENTS


def format_for_display(results: DataFrame) -> DataFrame:
    """reference dashboard.py:40-56 ``prepare_data``: order key
    zero-padded to 9, revenue rounded then ``$``-grouped, order date
    MM/DD/YYYY.  Accepts both result namings: the static-table DATE
    ``o_orderdate`` and the live pipeline's rescaled TIMESTAMP
    ``o_order_time`` (pipeline/generate.py)."""
    date_col = (
        "o_orderdate" if "o_orderdate" in results.columns else "o_order_time"
    )
    key_type = results.schema["l_orderkey"].dataType.simpleString()
    order_id = (
        F.format_string("%09d", F.col("l_orderkey"))
        if key_type in ("int", "bigint", "smallint")
        # live pipeline keys are uuid strings (generate.py rekey) —
        # already display-ready, zero-padding is a numeric-key concept
        else F.col("l_orderkey").cast("string")
    )
    return results.select(
        order_id.alias("order_id"),
        F.concat(
            F.lit("$"), F.format_number(F.round("revenue", 2), 2)
        ).alias("revenue_display"),
        F.date_format(date_col, "MM/dd/yyyy").alias("order_date"),
        F.col("o_orderpriority").alias("priority"),
    )


def render_dashboard_html(
    spark,
    results_dir: str,
    out_path: str,
    *,
    limit: int = 50,
) -> str:
    """The reference's WEB dashboard as a static artifact
    (reference dashboard.py:9-70): one self-contained HTML page with
    each segment's top unshipped orders, formatted by the SAME
    hash-checked transform the terminal form uses
    (:func:`format_for_display` ≙ dashboard.py prepare_data).  A
    static export replaces the Streamlit server deliberately — the
    gold zone is recomputed on the reduce cadence, so the display
    artifact regenerates on the same cadence and needs no serving
    process, no framework dependency, and no engine coupling.  Pure
    stdlib rendering; segment navigation is plain anchors (the
    reference's selectbox).  Returns ``out_path``."""
    import html
    import os

    gen = os.path.realpath(results_dir)  # one generation for the page
    sections = []
    nav = []
    for seg in (s.lower() for s in SEGMENTS):
        seg_path = os.path.join(gen, f"{seg}.snappy.parquet")
        if not os.path.isdir(seg_path):
            continue
        rows = (
            format_for_display(spark.read.parquet(seg_path))
            .limit(limit)
            .collect()
        )
        nav.append(
            f'<a href="#{html.escape(seg)}">{html.escape(seg.title())}</a>'
        )
        body = "\n".join(
            "<tr>"
            + "".join(
                f"<td>{html.escape(str(v))}</td>"
                for v in (
                    r["order_id"],
                    r["order_date"],
                    r["revenue_display"],
                    r["priority"],
                )
            )
            + "</tr>"
            for r in rows
        )
        sections.append(
            f'<section id="{html.escape(seg)}">'
            f"<h2>{html.escape(seg.title())}</h2>"
            "<table><thead><tr><th>Order ID</th><th>Date Ordered</th>"
            "<th>Revenue (in USD)</th><th>Priority</th></tr></thead>"
            f"<tbody>{body}</tbody></table></section>"
        )
    page = (
        "<!DOCTYPE html><html><head><meta charset='utf-8'>"
        "<title>Top Unshipped Orders</title><style>"
        "body{font-family:system-ui,sans-serif;margin:2rem;}"
        "table{border-collapse:collapse;margin:1rem 0;}"
        "td,th{border:1px solid #ccc;padding:0.3rem 0.8rem;"
        "text-align:left;}th{background:#f3f3f3;}"
        "nav a{margin-right:1rem;}</style></head><body>"
        "<h1>Top Unshipped Orders</h1>"
        "<p><em>Top unshipped orders with the highest revenue, "
        "per market segment.</em></p>"
        f"<nav>{''.join(nav)}</nav>"
        f"{''.join(sections)}"
        "</body></html>"
    )
    os.makedirs(os.path.dirname(os.path.abspath(out_path)), exist_ok=True)
    with open(out_path, "w") as f:
        f.write(page)
    return out_path
