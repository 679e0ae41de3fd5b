"""CSV resource physics (SURVEY A3).

Plain CSV goes straight to ``spark.read.csv`` (splittable, vectorized,
pushdown-friendly — the right path at scale). The reference's quirky
variant — a *footer resource* whose parsed values are carried onto
every body row, with header/footer lines excluded from the body
(cubicerpetl/cubicerpetl.py:249-270) — needs each file's own ordered
lines, since "last line" is not a Spark-native concept: the job path
(``plans.interpreter._parse_text`` → ``sources.lines.parse_texts``)
parses each line once with ``csv_columns``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from cubicerp_client_etl_spark.compilers.sqltext import ident, literal


def csv_columns(line: str, names: list[str], sep: str, quote: str) -> str:
    """SQL text parsing the SQL ``line`` expression into a struct of
    ``names`` via one from_csv (JVM-side uniVocity parser — handles
    quoting/escapes, unlike a naive split)."""
    schema = ", ".join(f"{ident(n)} string" for n in names)
    options = f"map('quote', {literal(quote)}, 'sep', {literal(sep)})"
    return f"from_csv({line}, {literal(schema)}, {options})"


def read_csv_resource(
    spark: SparkSession,
    path: str,
    columns: list[str],
    sep: str = ",",
    quote: str = '"',
    encoding: str = "UTF-8",
) -> DataFrame:
    """Plain CSV through the native source (splittable, vectorized) with
    the declared column names."""
    return spark.read.csv(
        path, sep=sep, quote=quote, encoding=encoding, schema=None, header=False
    ).toDF(*columns)
