"""CSV reader with header/footer-resource broadcast (SURVEY A3).

Plain CSV goes straight to ``spark.read.csv`` (splittable, vectorized,
pushdown-friendly — the right path at scale). The reference's quirky
variant — a *footer resource* whose parsed values are broadcast onto
every body row, with header/footer lines excluded from the body
(cubicerpetl/cubicerpetl.py:249-270) — needs the ordered line read,
since "last line" is not a Spark-native concept.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from cubicerp_client_etl_spark.sources.lines import parse_lines, read_lines


def csv_columns(names: list[str], sep: str, quote: str) -> list[Column]:
    """Parse one CSV line via from_csv (JVM-side uniVocity parser —
    handles quoting/escapes, unlike a naive split)."""
    schema = ", ".join(f"`{n}` string" for n in names)
    parsed = F.from_csv(
        F.col("value"), F.lit(schema), {"sep": sep, "quote": quote}
    )
    return [parsed.getField(n).alias(n) for n in names]


def read_csv_resource(
    spark: SparkSession,
    path: str,
    columns: list[str],
    sep: str = ",",
    quote: str = '"',
    header_columns: list[str] | None = None,
    footer_columns: list[str] | None = None,
    encoding: str = "UTF-8",
) -> DataFrame:
    """CSV with the reference's header/footer-broadcast semantics.

    With neither header nor footer resource this delegates to the native
    CSV source (splittable; use that path for big files). With them, the
    per-file ordered read isolates line 0 / line N-1, parses each with
    its own column list, and broadcasts the values onto the body rows.
    """
    if header_columns is None and footer_columns is None:
        return spark.read.csv(
            path, sep=sep, quote=quote, encoding=encoding, schema=None, header=False
        ).toDF(*columns)
    return parse_lines(
        read_lines(spark, path, encoding),
        lambda names: csv_columns(names, sep, quote),
        columns,
        header_columns,
        footer_columns,
    )
