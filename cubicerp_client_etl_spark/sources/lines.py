"""Ordered line reading — the shared substrate for the text codecs.

The reference's file semantics are order-dependent (header = line 0,
footer = last line, body in physical order; cubicerpetl/cubicerpetl.py:
228-270). Spark gives no implicit row order, so every text read carries
an explicit ``_line_no`` column.

Correctness over cleverness here: Spark's line-mode text source may
split one file across partitions and bin-pack the splits in size order,
so ``monotonically_increasing_id`` does NOT reconstruct physical order.
Order-dependent codecs are read ``wholetext`` — one task per file, line
numbers from ``posexplode``. That is the honest scale posture too: a
format whose last line changes the meaning of every row is inherently
per-file sequential; parallelism comes from the number of files (the
realistic 100 TB layout), never from within one file.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def read_lines(spark: SparkSession, path: str, encoding: str = "UTF-8") -> DataFrame:
    """Read text file(s) → (file, _line_no, value), 0-based physical
    order per file. Trailing newline does not produce a phantom line
    (mirrors csv/readlines behavior in the reference's codecs)."""
    # NB: wholetext must be passed as the text() parameter — the
    # DataFrameReader option of the same name is not picked up.
    df = spark.read.text(path, wholetext=True).withColumn(
        "file", F.input_file_name()
    )
    if encoding.upper() not in ("UTF-8", "UTF8", "ASCII"):
        df = df.withColumn("value", F.decode(F.encode("value", "UTF-8"), encoding))
    lines = F.split(F.regexp_replace("value", r"(\r?\n)+$", ""), r"\r?\n")
    return df.select(
        "file", F.posexplode(lines).alias("_line_no", "value")
    )


def split_header_footer(
    lines: DataFrame, has_header: bool, has_footer: bool
) -> tuple[DataFrame, DataFrame | None, DataFrame | None]:
    """Split per-file line sets into (body, header_lines, footer_lines).

    Mirrors the reference's slicing (header = row 0, footer = row N-1,
    both removed from the body; cubicerpetl.py:242-245,267-270), as a
    window max per file instead of driver-side indexing. Only a footer
    needs the window: line 0 is known without one.
    """
    from pyspark.sql import Window as W

    header = footer = None
    body = lines
    if has_footer:
        marked = lines.withColumn(
            "__max_line", F.max("_line_no").over(W.partitionBy("file"))
        )
        footer = marked.filter(F.col("_line_no") == F.col("__max_line")).drop(
            "__max_line"
        )
        body = marked.filter(F.col("_line_no") < F.col("__max_line")).drop(
            "__max_line"
        )
    if has_header:
        header = lines.filter(F.col("_line_no") == 0)
        body = body.filter(F.col("_line_no") > 0)
    return body, header, footer


def parse_lines(
    lines: DataFrame,
    project: Callable[[list], list[Column]],
    columns: list,
    header_columns: list | None = None,
    footer_columns: list | None = None,
) -> DataFrame:
    """Ordered lines → parsed body rows ``(file, _line_no, *columns)``,
    the codec-independent half of every text reader.

    ``project(cols)`` turns one line's ``value`` into the declared
    columns (the CSV or fixed-width physics). Header/footer lines are
    parsed with their own column lists and broadcast onto every body
    row of the same file; with neither declared, the body is a plain
    projection (no window, no join).
    """
    body, header, footer = split_header_footer(
        lines, header_columns is not None, footer_columns is not None
    )
    out = body.select("file", "_line_no", *project(columns))
    for hf, cols in ((header, header_columns), (footer, footer_columns)):
        if hf is not None:
            parsed = hf.select(F.col("file").alias("__hf_file"), *project(cols))
            out = out.join(
                F.broadcast(parsed), out.file == F.col("__hf_file"), "left"
            ).drop("__hf_file")
    return out
