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

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def csv_columns(line: Column, names: list[str], sep: str, quote: str) -> Column:
    """Parse one CSV line into a struct of ``names`` via one from_csv
    (JVM-side uniVocity parser — handles quoting/escapes, unlike a
    naive split)."""
    schema = ", ".join(f"`{n}` string" for n in names)
    return F.from_csv(line, F.lit(schema), {"sep": sep, "quote": quote})


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
