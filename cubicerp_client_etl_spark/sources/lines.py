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

from cubicerp_client_etl_spark.compilers.sqltext import as_column, literal


# the charsets Spark's ``decode`` accepts (a text extract's encodings),
# keyed by Python's canonical codec name for each
DECODE_CHARSETS = {
    "utf-8": "UTF-8",
    "ascii": "US-ASCII",
    "iso8859-1": "ISO-8859-1",
    "utf-16": "UTF-16",
    "utf-16-be": "UTF-16BE",
    "utf-16-le": "UTF-16LE",
    "utf-32": "UTF-32",
}


def decoded_sql(binary: str, encoding: str) -> str:
    """SQL text of the string held in the SQL ``binary`` expression's
    bytes. UTF-8 bytes are taken as they are, as the text source takes a
    file's, so an invalid byte reads as U+FFFD rather than failing the
    job; any other encoding goes through ``decode``, which accepts the
    ``DECODE_CHARSETS`` names (any Java charset under
    ``spark.sql.legacy.javaCharsets``)."""
    if encoding.upper() == "UTF-8":
        return f"CAST({binary} AS STRING)"
    return f"decode({binary}, {literal(encoding)})"


def read_texts(spark: SparkSession, path: str, encoding: str = "UTF-8") -> DataFrame:
    """Text file(s) → one ``(file, text)`` row per file. The whole-text
    source decompresses a codec extension (``.gz``, ``.bz2``, ...) and
    hands over the file's raw bytes, which are decoded once with
    ``encoding`` (``decoded_sql``), so a non-UTF-8 file is never seen
    through a UTF-8 reader first. A UTF-8 file is used as read: an
    invalid byte becomes U+FFFD rather than failing the job."""
    # NB: wholetext must be passed as the text() parameter — the
    # DataFrameReader option of the same name is not picked up.
    text = "value"
    if encoding.upper() != "UTF-8":
        text = decoded_sql("CAST(value AS BINARY)", encoding)
    return spark.read.text(path, wholetext=True).selectExpr(
        "input_file_name() AS file", f"{text} AS text"
    )


def split_lines_sql(text: str) -> str:
    """SQL text of the SQL ``text`` expression's array of lines. A run of
    trailing newlines yields no phantom line, and an empty text (an
    empty file or inline payload) has no lines, as with the csv /
    readlines codecs of the reference."""
    trailing, newline = literal(r"(\r?\n)+$"), literal(r"\r?\n")
    lines = f"split(regexp_replace({text}, {trailing}, ''), {newline})"
    return f"CASE WHEN ({text}) = '' THEN CAST(array() AS ARRAY<STRING>) ELSE {lines} END"


def split_lines(text: Column | str) -> Column:
    """``split_lines_sql`` as a Column over a column name or a Column."""
    return as_column(text, split_lines_sql)


def parse_texts(
    texts: DataFrame,
    parse: Callable[[str, list], str],
    columns: list,
    header_columns: list | None = None,
    footer_columns: list | None = None,
) -> DataFrame:
    """``(file, text)`` rows → parsed body rows ``(file, _line_no,
    *columns, *header_columns, *footer_columns)``, the codec-independent
    half of every text reader.

    ``parse(line, cols)`` turns the SQL text of one line into the SQL
    text of a struct of the declared columns (the CSV or fixed-width
    physics). Header and footer are the first and last line of the same
    file, parsed once per file with their own column lists and carried
    onto every body row; both are dropped from the body (the reference's
    slicing, cubicerpetl.py:242-245,267-270). With neither declared, the
    body is a plain ``posexplode`` of every line. Each of the four
    projections reaches the JVM as one ``selectExpr``.
    """
    first = 1 if header_columns is not None else 0
    last = 1 if footer_columns is not None else 0
    # try_: an empty payload (no lines) still gets its header/footer
    # projection, and element_at on an empty array raises under ANSI
    ends = {
        name: parse(f"try_element_at(__lines, {at})", cols)
        for name, cols, at in (
            ("__header", header_columns, 1),
            ("__footer", footer_columns, -1),
        )
        if cols is not None
    }
    body = "__lines"
    if first or last:
        body = f"slice(__lines, {first + 1}, greatest(size(__lines) - {first} - {last}, 0))"
    line_no = f"_line_no + {first} AS _line_no" if first else "_line_no"
    # the header/footer structs get their own projection below the
    # explode, so each is parsed once per file, not once per body row
    per_file = texts.selectExpr("file", f"{split_lines_sql('text')} AS __lines")
    per_file = per_file.selectExpr(
        "file", "__lines", *[f"{sql} AS {n}" for n, sql in ends.items()]
    )
    exploded = per_file.selectExpr(
        "file", *ends, f"posexplode({body}) AS (_line_no, value)"
    )
    parsed = exploded.selectExpr(
        "file", line_no, f"{parse('value', columns)} AS __body", *ends
    )
    return parsed.selectExpr("file", "_line_no", "__body.*", *[f"{n}.*" for n in ends])
