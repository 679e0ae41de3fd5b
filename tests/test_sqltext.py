"""The job path's SQL quoting (``compilers.sqltext``): any text must come
back from Spark's parser as the same string value, and any column name as
the same name."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from cubicerp_client_etl_spark.compilers.sqltext import ident, literal

# quotes, backslashes, newlines and escapes Spark's unescaper knows
# (\n, \t, \u, \%, \_) are drawn often; the rest is any text, non-BMP
# characters included
TRICKY = st.sampled_from(
    ["'", '"', "\\", "`", "\n", "\r", "\t", "\\n", "\\u0041", "%", "_", "\U0001f600", "\x00"]
)
texts = st.lists(st.one_of(TRICKY, st.text(max_size=4)), max_size=8).map("".join)

SETTINGS = settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@SETTINGS
@given(values=st.lists(texts, min_size=1, max_size=4))
def test_literal_round_trips_through_the_parser(spark, values):
    exprs = [f"{literal(v)} AS c{i}" for i, v in enumerate(values)]
    assert list(spark.range(1).selectExpr(*exprs).first()) == values


@SETTINGS
@given(names=st.lists(st.text(min_size=1, max_size=8), min_size=1, max_size=4,
                         unique_by=(str.lower, str.upper)))
def test_ident_round_trips_through_the_parser(spark, names):
    df = spark.range(1).selectExpr(*[f"{i} AS {ident(n)}" for i, n in enumerate(names)])
    assert df.columns == names
    # and each quoted name selects its own column back
    assert list(df.selectExpr(*[ident(n) for n in reversed(names)]).first()) == list(
        reversed(range(len(names)))
    )


def test_literal_types_follow_lit(spark):
    values = [None, True, 7, 2**40, 1.5, float("inf"), "x"]
    row = spark.range(1).selectExpr(*[f"{literal(v)} AS c{i}" for i, v in enumerate(values)])
    assert [f.dataType.simpleString() for f in row.schema.fields] == [
        "void", "boolean", "int", "bigint", "double", "double", "string"
    ]
    assert list(row.first()) == values
