"""Fixed-width TXT reader (SURVEY A4, H2).

The reference slices each line with per-column ``slice(txt_position-1,
txt_position+txt_lenght-1)`` specs from ``etl.resource.column``
(cubicerpetl/cubicerpetl.py:228-248 — `lenght` [sic] is the reference's
own field name). Here each column is one ``substring`` expression —
pure Catalyst projection over the ordered line read; header/footer rows
(their own slice specs) are parsed separately and broadcast onto every
body row, exactly the reference's semantics at :235-240.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from cubicerp_client_etl_spark.sources.lines import parse_lines, read_lines


@dataclass(frozen=True)
class FWColumn:
    """One fixed-width field (etl.resource.column physics, SURVEY §1.2):
    1-based start position and byte length; trailing/leading fill is the
    writer's concern (functions.fw_render), the reader just slices."""

    name: str
    position: int  # 1-based, like the reference's txt_position
    length: int
    strip: bool = True


def fixed_width_columns(cols: list[FWColumn]) -> list[Column]:
    """Slice one line's ``value`` into the declared fields."""
    out = []
    for c in cols:
        e = F.substring("value", c.position, c.length)
        if c.strip:
            e = F.trim(e)
        out.append(e.alias(c.name))
    return out


def read_fixed_width(
    spark: SparkSession,
    path: str,
    columns: list[FWColumn],
    header_columns: list[FWColumn] | None = None,
    footer_columns: list[FWColumn] | None = None,
    encoding: str = "UTF-8",
) -> DataFrame:
    """Parse fixed-width file(s) → body DataFrame with ``_line_no``;
    header/footer fields (if declared) broadcast onto every body row."""
    return parse_lines(
        read_lines(spark, path, encoding),
        fixed_width_columns,
        columns,
        header_columns,
        footer_columns,
    )
