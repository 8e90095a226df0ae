"""Single-round-trip expression construction helpers.

Guide §4 (shrink the Python⇄JVM boundary) applied to DataFrame
CONSTRUCTION, not just row data: every ``F.<fn>``/``Column`` operator
call is one or more py4j round-trips, so a builder that assembles a
large expression tree node-by-node from Python pays milliseconds per
node before any job runs — cProfile of warm headline reps (round 11)
measured 1.0-2.1k round-trips per query construction, dominating the
sub-second queries' wall.  ``F.expr(sql)`` ships the WHOLE subtree as
one string and parses it JVM-side: 3 round-trips regardless of size,
and the parsed tree is the same Catalyst expression the node-by-node
builder produced (verified per converted operator in plans/r11).

Literal arrays need one extra trick: SQL ``array(a, b, ...)`` parses
to a CreateArray with N literal children, whose copies inflate
analysis time on wide arrays (the round-11 bloom/hyperplane fix), and
``F.lit(list)`` costs ~2 round-trips per element.  ``from_json`` of a
constant string is one expression node at analysis, is constant-folded
to a single ArrayType ``Literal`` by the optimizer (verified: the
optimized plan prints the folded array), and costs 3 round-trips
total.  Values are exact: ints round-trip digit-for-digit, and Python
``repr``/``json.dumps`` emit shortest-round-trip decimal for float64,
which Jackson parses back to the identical IEEE-754 double.
"""

from __future__ import annotations

import json
from collections.abc import Iterable

from pyspark.sql import Column
from pyspark.sql import functions as F


def sql_str(s: str) -> str:
    """A SQL single-quoted string literal with Spark escaping."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_ident(name: str) -> str:
    """A backtick-quoted SQL identifier: a column name that is a SQL
    keyword or contains spaces/dots parses as the NAME it is instead
    of failing or resolving differently than the ``F.col`` form the
    parser-twin builders replaced (ADVICE r11)."""
    return "`" + name.replace("`", "``") + "`"


def sql_double(x) -> str:
    """A SQL double literal from any real number, validated HERE: a
    non-finite float or a non-castable argument raises a clear Python
    error instead of a JVM parse error mid-plan (ADVICE r11 — ``repr``
    of inf/nan is not a valid Spark literal).  Finite floats/ints
    round-trip exactly (shortest-round-trip decimal + D suffix)."""
    import math

    v = float(x)
    if not math.isfinite(v):
        raise ValueError(f"not a finite double literal: {x!r}")
    return f"{v!r}D"


def json_array_sql(values: Iterable, element_type: str) -> str:
    """SQL text of a constant ``array<element_type>`` literal carried
    through ``from_json`` (one node at analysis, folded to a Literal at
    optimization).  Embed in a larger expression string for zero extra
    round-trips."""
    payload = json.dumps(list(values), ensure_ascii=True)
    return f"from_json({sql_str(payload)}, 'array<{element_type}>')"


def json_array_lit(values: Iterable, element_type: str) -> Column:
    """The same literal as a ``Column`` (3 py4j round-trips total)."""
    return F.expr(json_array_sql(values, element_type))


def _split_schema(schema: str) -> list[tuple[str, str]]:
    """'a LONG, b ARRAY<LONG>' → [('a','LONG'), ('b','ARRAY<LONG>')]
    (top-level comma split, respecting <...> nesting)."""
    cols, depth, cur = [], 0, []
    for ch in schema:
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        if ch == "," and depth == 0:
            cols.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    cols.append("".join(cur))
    out = []
    for c in cols:
        name, typ = c.strip().split(None, 1)
        out.append((name, typ.strip()))
    return out


# integral SQL type → bit width (the value range a cell must fit)
_INT_BITS = {
    "tinyint": 8, "byte": 8, "smallint": 16, "short": 16,
    "int": 32, "integer": 32, "bigint": 64, "long": 64,
}


def _values_cell(v, typ: str) -> str:
    """SQL literal of one cell, checked STRICTLY against its declared
    type the way ``createDataFrame``'s verifier is (a float in an
    integral column, a non-str in a STRING column, an int in a DOUBLE
    or TIMESTAMP column); a mismatch or an unrendered type raises
    TypeError/ValueError so values_frame falls back to
    ``createDataFrame`` — which then coerces or raises exactly as it
    always does — instead of silently coercing the literal here."""
    t = typ.lower()
    if v is None:
        return f"CAST(NULL AS {typ})"
    if t.startswith("array<"):
        if not isinstance(v, (list, tuple)):
            raise TypeError(f"{v!r} is not an {typ}")
        elem = typ[typ.index("<") + 1 : typ.rindex(">")]
        return (
            f"array({', '.join(_values_cell(e, elem) for e in v)})"
        )
    if t in ("string", "varchar") and isinstance(v, str):
        return sql_str(v)
    if t in ("double", "float") and isinstance(v, float):
        return sql_double(v)
    if t == "boolean" and isinstance(v, bool):
        return "true" if v else "false"
    bits = _INT_BITS.get(t)
    if bits and isinstance(v, int) and not isinstance(v, bool):
        if not -(1 << (bits - 1)) <= v < 1 << (bits - 1):
            raise ValueError(f"{v} out of range for {typ}")
        return str(v)
    raise TypeError(f"{v!r} is not a {typ} literal")


def values_frame(spark, rows, schema: str, max_rows: int = 10_000):
    """A driver-embedded ``LocalRelation`` from small literal rows —
    the ``createDataFrame`` twin for frames up to a few thousand rows.

    ``createDataFrame(list)`` parallelizes into ``defaultParallelism``
    RDD partitions, so every scan or broadcast build of the tiny frame
    launches a full N-task stage (measured: a 300-row broadcast side
    cost a 32-task stage per build at local[32]).  SQL ``VALUES``
    resolves to a ``LocalRelation`` at analysis (ResolveInlineTables
    evaluates the foldable tuples eagerly), which a broadcast exchange
    collects DRIVER-SIDE with zero tasks and zero stages.  Every cell
    is rendered by the DECLARED type and the projection casts
    explicitly, so the schema is byte-identical to the
    ``createDataFrame`` form (VALUES alone would infer INT for small
    integers); ``ConvertToLocalRelation`` folds the casting projection
    back into the relation at optimization.  Supports the integral,
    double/float, string and boolean types and array<...> (rows as
    Python lists); falls back to ``createDataFrame`` for any other type
    (decimal, timestamp, ...), for any cell whose Python type does not
    match its declared type (_values_cell), and for row sets past
    ``max_rows`` (a VALUES statement is parsed/analyzed
    driver-side — fine for routing tables, wrong for data)."""
    rows = rows if isinstance(rows, (list, tuple)) else list(rows)
    if len(rows) > max_rows:
        return spark.createDataFrame(rows, schema)
    try:
        cols = _split_schema(schema)
        tuples = ", ".join(
            "("
            + ", ".join(
                _values_cell(row[i], typ)
                for i, (_n, typ) in enumerate(cols)
            )
            + ")"
            for row in rows
        )
    except (TypeError, ValueError, IndexError, KeyError):
        return spark.createDataFrame(rows, schema)
    if not tuples:
        return spark.createDataFrame([], schema)
    # if(isnotnull(...)) keeps every column NULLABLE like the
    # createDataFrame form (VALUES alone infers non-nullable, which
    # would change declared-query schemas); the projection still folds
    # into the LocalRelation (verified: optimizedPlan is LocalRelation)
    proj = ", ".join(
        f"if(isnotnull(col{i + 1}), CAST(col{i + 1} AS {typ}), "
        f"CAST(NULL AS {typ})) AS {sql_ident(name)}"
        for i, (name, typ) in enumerate(cols)
    )
    return spark.sql(f"SELECT {proj} FROM VALUES {tuples}")
