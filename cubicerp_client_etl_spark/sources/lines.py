"""Ordered line parsing — the shared substrate for the text codecs.

The reference's file semantics are order-dependent (header = line 0,
footer = last line, body in physical order; cubicerpetl/cubicerpetl.py:
228-270). Spark gives no implicit row order, and its line-mode text
source may split one file across partitions, so line order is never
rebuilt from a distributed read. Instead each file is read whole and
decoded once into one ``(file, text)`` row; the file's own line array then
gives the header (``element_at(lines, 1)``), the footer
(``element_at(lines, -1)``) and the body (``posexplode`` of the slice
between them, ``_line_no`` = physical 0-based line number). That is one
narrow stage per file: no shuffle, no join, one scan. It is the honest
scale posture too: a format whose last line changes the meaning of
every row is inherently per-file sequential; parallelism comes from the
number of files (the realistic 100 TB layout), never from within one
file.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def read_texts(spark: SparkSession, path: str, encoding: str = "UTF-8") -> DataFrame:
    """Text file(s) → one ``(file, text)`` row per file. The whole-text
    source decompresses a codec extension (``.gz``, ``.bz2``, ...) and
    hands over the file's raw bytes, which are decoded once with
    ``encoding``, so a non-UTF-8 file is never seen through a UTF-8
    reader first. A UTF-8 file is used as read: an invalid byte becomes
    U+FFFD rather than failing the job."""
    # NB: wholetext must be passed as the text() parameter — the
    # DataFrameReader option of the same name is not picked up.
    text = F.col("value")
    if encoding.upper() != "UTF-8":
        text = F.decode(text.cast("binary"), encoding)
    return spark.read.text(path, wholetext=True).select(
        F.input_file_name().alias("file"), text.alias("text")
    )


def split_lines(text: Column) -> Column:
    """One text value → its array of lines. A run of trailing newlines
    yields no phantom line, and an empty text (an empty file or inline
    payload) has no lines, as with the csv / readlines codecs of the
    reference."""
    lines = F.split(F.regexp_replace(text, r"(\r?\n)+$", ""), r"\r?\n")
    return F.when(text == "", F.array().cast("array<string>")).otherwise(lines)


def parse_texts(
    texts: DataFrame,
    parse: Callable[[Column, list], Column],
    columns: list,
    header_columns: list | None = None,
    footer_columns: list | None = None,
) -> DataFrame:
    """``(file, text)`` rows → parsed body rows ``(file, _line_no,
    *columns, *header_columns, *footer_columns)``, the codec-independent
    half of every text reader.

    ``parse(line, cols)`` turns one line into a struct of the declared
    columns (the CSV or fixed-width physics). Header and footer are the
    first and last line of the same file, parsed once per file with
    their own column lists and carried onto every body row; both are
    dropped from the body (the reference's slicing, cubicerpetl.py:
    242-245,267-270). With neither declared, the body is a plain
    ``posexplode`` of every line.
    """
    first = 1 if header_columns is not None else 0
    last = 1 if footer_columns is not None else 0
    lines = F.col("__lines")
    # try_: an empty payload (no lines) still gets its header/footer
    # projection, and element_at on an empty array raises under ANSI
    ends = {
        name: parse(F.try_element_at(lines, F.lit(at)), cols)
        for name, cols, at in (
            ("__header", header_columns, 1),
            ("__footer", footer_columns, -1),
        )
        if cols is not None
    }
    body = lines
    if first or last:
        body = F.slice(lines, first + 1, F.greatest(F.size(lines) - first - last, F.lit(0)))
    line_no = F.col("_line_no")
    if first:
        line_no = (line_no + first).alias("_line_no")
    # the header/footer structs get their own projection below the
    # explode, so each is parsed once per file, not once per body row
    per_file = texts.select("file", split_lines(F.col("text")).alias("__lines"))
    per_file = per_file.select("file", "__lines", *[c.alias(n) for n, c in ends.items()])
    exploded = per_file.select("file", *ends, F.posexplode(body).alias("_line_no", "value"))
    parsed = exploded.select(
        "file", line_no, parse(F.col("value"), columns).alias("__body"), *ends
    )
    return parsed.select("file", "_line_no", "__body.*", *[f"{n}.*" for n in ends])
