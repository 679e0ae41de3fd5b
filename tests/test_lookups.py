"""C1 value-mapping decode: the literal-map expression
(``value_mapping_expr``) and a plain-Python dict model of the
reference's lookup (cubicerpetl.py:624-649) must give the same label for
every input."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from cubicerp_client_etl_spark.operators.lookups import value_mapping_expr


def dict_decode(v, lines, default, return_null):
    """The reference's rule over a dict: a later line wins."""
    if v is None:
        return None if return_null else default
    table = dict(lines)
    if v in table:
        return table[v]
    return default if default is not None else v


def _inputs(spark, values):
    return spark.createDataFrame(list(enumerate(values)), "i int, v string")


def via_expr(spark, values, lines, default, return_null):
    df = _inputs(spark, values).select(
        "i", value_mapping_expr("v", lines, default, return_null).alias("out")
    )
    return [r.out for r in df.orderBy("i").collect()]


VALUES = ["A", "R", "N", None]
CASES = {
    # id: (lines, default, return_null, expected decode of VALUES)
    "default": ((("A", "Acc"), ("R", "Ret")), "Unk", False, ["Acc", "Ret", "Unk", "Unk"]),
    "default_return_null": (
        (("A", "Acc"), ("R", "Ret")), "Unk", True, ["Acc", "Ret", "Unk", None]
    ),
    "no_default": ((("A", "Acc"),), None, False, ["Acc", "R", "N", None]),
    "no_default_return_null": ((("A", "Acc"),), None, True, ["Acc", "R", "N", None]),
    "empty_lines": ((), "Unk", False, ["Unk", "Unk", "Unk", "Unk"]),
    "empty_lines_no_default": ((), None, True, ["A", "R", "N", None]),
    "none_raw_name": (((None, "Nul"), ("A", "Acc")), None, False, ["Acc", "R", "N", None]),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_decode_rule_cases(spark, case):
    lines, default, return_null, want = CASES[case]
    assert [dict_decode(v, lines, default, return_null) for v in VALUES] == want
    assert via_expr(spark, VALUES, lines, default, return_null) == want


names = st.sampled_from(["a", "b", "c", "d", None])


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    values=st.lists(st.sampled_from(["a", "b", "c", "e", None]), min_size=1, max_size=6),
    lines=st.lists(
        st.tuples(names, st.sampled_from(["L1", "L2", "L3"])),
        max_size=4,
        unique_by=lambda kv: kv[0],
    ),
    default=st.sampled_from([None, "DFLT"]),
    return_null=st.booleans(),
)
def test_expr_join_and_dict_agree(spark, values, lines, default, return_null):
    want = [dict_decode(v, lines, default, return_null) for v in values]
    assert via_expr(spark, values, lines, default, return_null) == want


def test_duplicate_raw_name_keeps_rows_and_last_label(spark):
    """A raw value listed twice: the expression, like the reference's
    dict, keeps one row per input and takes the later line."""
    lines = (("A", "first"), ("R", "Ret"), ("A", "last"))
    values = ["A", "R", "A"]
    want = [dict_decode(v, lines, None, False) for v in values]
    assert want == ["last", "Ret", "last"]
    assert via_expr(spark, values, lines, None, False) == want


@pytest.mark.parametrize(
    "sql, text",
    [
        ("CAST(1 AS BIGINT)", "1"),
        ("CAST(1 AS DOUBLE)", "1.0"),
        ("CAST(1 AS DECIMAL(10, 2))", "1.00"),
    ],
)
def test_expr_matches_non_string_input_by_its_string_form(spark, sql, text):
    """A non-string input is looked up by its Spark string form, as the
    reference's dict is keyed by the text it was given: a double 1.0
    matches a line "1.0", not a line "1"; an unmatched input passes
    through as that string."""
    lines = ((text, "exact"),) if text == "1" else (("1", "int"), (text, "exact"))
    row = spark.range(1).select(
        value_mapping_expr(F.expr(sql), lines).alias("hit"),
        value_mapping_expr(F.expr(sql), (("x", "X"),)).alias("miss"),
    ).first()
    assert (row.hit, row.miss) == ("exact", text)
