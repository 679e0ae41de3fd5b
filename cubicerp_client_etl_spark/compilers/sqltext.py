"""Spark SQL text for the job path's plan builders.

Every PySpark ``Column`` node (``F.lit``, ``F.when``, ``.alias``,
``.cast`` ...) is built in the JVM through one or more py4j round trips,
so a job plan assembled node by node costs thousands of them. The job
path's builders therefore write Spark SQL text and hand each projection
to the JVM once (``selectExpr``, ``filter(str)``, ``F.expr``), where one
parse builds the same expression tree. This module holds the two quoting
rules that text needs, and ``as_column`` for the builders' Column-API
callers.
"""

from __future__ import annotations

import math
from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F


def ident(name: str) -> str:
    """``name`` as one quoted SQL identifier: backticks, with embedded
    backticks doubled (a dot stays part of the name)."""
    return "`" + name.replace("`", "``") + "`"


def literal(value) -> str:
    """A Python scalar as a Spark SQL literal of the type ``F.lit`` gives
    it: NULL, BOOLEAN, INT or BIGINT, DOUBLE, or a STRING whose
    backslashes and single quotes are backslash-escaped (any other
    character, newlines included, stands as itself)."""
    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, int):
        return str(value)
    if isinstance(value, float):
        if math.isfinite(value):
            return f"{value!r}D"
        return f"CAST('{value}' AS DOUBLE)"
    if isinstance(value, str):
        return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"
    raise TypeError(f"no SQL literal for {type(value).__name__}: {value!r}")


def as_column(value: Column | str, sql_of: Callable[[str], str]) -> Column:
    """``sql_of(x)`` — a SQL text builder over its input's text ``x`` —
    as a Column, for a caller holding a column name or a Column. A name
    goes in as its ``ident``; a Column goes in as the one argument of a
    SQL lambda (``transform(array(value), __in -> sql_of(__in))[0]``),
    so the builder stays the one implementation of its rule."""
    if isinstance(value, str):
        return F.expr(sql_of(ident(value)))
    bound = F.expr(f"__in -> {sql_of('__in')}")
    return F.call_function("transform", F.array(value), bound)[0]
