"""values_frame (exprs.py) is the zero-task LocalRelation twin of
``createDataFrame`` for small literal frames.  Parity pinned here: for
nulls, arrays, a decimal schema and type-mismatched literals it must
do exactly what ``createDataFrame`` does — return the same rows under
the same schema, or raise the same error — never silently coerce a
literal ``createDataFrame`` would refuse.
"""

from __future__ import annotations

from decimal import Decimal

import pytest

from etl_tpch_spark.exprs import values_frame


def _outcome(make):
    try:
        df = make()
        return (
            "rows",
            df.schema.simpleString(),
            [tuple(r) for r in df.collect()],
        )
    except Exception as e:  # the error itself is the outcome
        return ("error", type(e).__name__, str(e))


CASES = {
    "nulls": (
        [(1, None, None, None), (None, "x", 1.5, True)],
        "a LONG, b STRING, c DOUBLE, d BOOLEAN",
    ),
    "arrays": (
        [([1, None, 3], ["a", None]), (None, []), ((4,), ("b",))],
        "a ARRAY<LONG>, b ARRAY<STRING>",
    ),
    "decimal": ([(Decimal("1.25"), 7)], "a decimal(10,2), n LONG"),
    "float_in_long": ([(1.5,)], "a LONG"),
    "bool_in_long": ([(True,)], "a LONG"),
    "int_in_double": ([(1,)], "a DOUBLE"),
    "int_in_string": ([(1,)], "a STRING"),
    "int_in_timestamp": ([(1,)], "a TIMESTAMP"),
    "int_out_of_range": ([(2**40,)], "a INT"),
    "scalar_as_array": ([(1,)], "a ARRAY<LONG>"),
    "float_in_long_array": ([([1, 2.5],)], "a ARRAY<LONG>"),
    "nan_double": ([(float("nan"),)], "a DOUBLE"),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_values_frame_matches_create_dataframe(spark, case):
    rows, schema = CASES[case]
    want = _outcome(lambda: spark.createDataFrame(rows, schema))
    got = _outcome(lambda: values_frame(spark, rows, schema))
    if want[0] == "rows" and case == "nan_double":
        assert got[:2] == want[:2] and str(got[2]) == str(want[2])
    else:
        assert got == want


def test_mismatched_literal_is_refused_not_coerced(spark):
    """The ADVICE case: a float in an integral column used to render
    as ``str(int(v))`` and come back truncated."""
    with pytest.raises(Exception, match="can not accept object 1.5"):
        values_frame(spark, [(1.5,)], "a LONG")
