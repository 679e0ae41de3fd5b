"""Fixed-width TXT line physics (SURVEY A4, H2).

The reference slices each line with per-column ``slice(txt_position-1,
txt_position+txt_lenght-1)`` specs from ``etl.resource.column``
(cubicerpetl/cubicerpetl.py:228-248 — `lenght` [sic] is the reference's
own field name). Here each column is one ``substring`` expression —
pure Catalyst projection over a file's ordered lines. The job path
(``plans.interpreter._parse_text`` → ``sources.lines.parse_texts``)
parses the file's first and last line with the header/footer slice
specs and carries them onto every body row, the reference's semantics
at :235-240.
"""

from __future__ import annotations

from dataclasses import dataclass

from cubicerp_client_etl_spark.compilers.sqltext import ident


@dataclass(frozen=True)
class FWColumn:
    """One fixed-width field (etl.resource.column physics, SURVEY §1.2):
    1-based start position and byte length. Padding is the writer's
    concern (functions.fw_render); the reader slices and trims spaces."""

    name: str
    position: int  # 1-based, like the reference's txt_position
    length: int


def fixed_width_columns(line: str, cols: list[FWColumn]) -> str:
    """SQL text slicing the SQL ``line`` expression into a struct of the
    declared, space-trimmed fields."""
    fields = ", ".join(
        f"trim(substring({line}, {c.position}, {c.length})) AS {ident(c.name)}"
        for c in cols
    )
    return f"struct({fields})"
