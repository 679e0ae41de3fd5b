"""The csv/txt text codec (SURVEY A3, A4, A6): every ordered-line read
of a file or an inline payload, and the rules every csv/txt resource
obeys, read or written.

The reference's file semantics are order-dependent (header = line 0,
footer = last line, body in physical order; cubicerpetl/cubicerpetl.py:
228-270). Spark gives no implicit row order, and its line-mode text
source may split one file across partitions, so line order is never
rebuilt from a distributed read. Instead each file is read whole and
decoded once into one ``(file, text)`` row; an online job's base64
payload (``base64.b64decode(job['input_file'])``, cubicerpetl.py:205-214)
becomes one more such row. The file's own line array then gives the
header (``element_at(lines, 1)``), the footer (``element_at(lines, -1)``)
and the body (``posexplode`` of the slice between them, ``_line_no`` =
physical 0-based line number). Each line is parsed by one ``from_csv``
struct (csv) or one struct of trimmed ``substring``s at the
``ColumnSpec``'s ``txt_position``/``txt_length`` (txt, the reference's
``slice(txt_position-1, txt_position+txt_lenght-1)``). That is one narrow
stage per file: no shuffle, no join, one scan. It is the honest scale
posture too: a format whose last line changes the meaning of every row
is inherently per-file sequential; parallelism comes from the number of
files (the realistic 100 TB layout), never from within one file. A plain
csv file (no header, no footer) needs no order and is read by the
splittable ``spark.read.csv`` in ``plans.interpreter.extract`` instead.

``read_text_resource`` is the one reader; ``check_text_resource`` holds
the rules, checked while the plan is built.
"""

from __future__ import annotations

import codecs
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cubicerp_client_etl_spark.compilers.sqltext import ident, literal

if TYPE_CHECKING:  # plans imports this module: no runtime import back
    from cubicerp_client_etl_spark.plans.spec import ColumnSpec, ResourceSpec


# the charsets both Spark's ``decode`` and its csv source and writer
# accept, keyed by Python's canonical codec name for each
DECODE_CHARSETS = {
    "utf-8": "UTF-8",
    "ascii": "US-ASCII",
    "iso8859-1": "ISO-8859-1",
    "utf-16": "UTF-16",
    "utf-16-be": "UTF-16BE",
    "utf-16-le": "UTF-16LE",
    "utf-32": "UTF-32",
}
_JAVA_CHARSETS = "spark.sql.legacy.javaCharsets"
# a csv line holding a character above U+0020: what survives Java's
# String.trim, the blank-line rule of Spark's csv source
_NOT_BLANK = r"[^\x00-\x20]"


def check_text_resource(
    spark: SparkSession, res: ResourceSpec, encoding: str, load: bool = False
) -> str:
    """Spark's name for the csv/txt resource ``res``'s declared
    ``encoding``, once its rules hold; a ValueError naming the resource
    otherwise, raised while the plan is built (before any Spark job or
    merge).

    Charset rule: the reference declares Python codec names ('utf8',
    'latin1', 'ascii'); each resolves to the ``DECODE_CHARSETS`` name,
    which ``decode`` and the csv source and writer all take. Any other
    encoding is refused, unless ``spark.sql.legacy.javaCharsets`` is on,
    under which all three take any Java charset. A txt load writes UTF-8
    only: Spark's text writer writes no other encoding.

    Column rule: every txt column has a ``txt_length`` of at least 1, and
    every txt extract, header or footer column a ``txt_position`` of at
    least 1 (a load renders its columns in order and has no positions)."""
    try:
        charset = DECODE_CHARSETS.get(codecs.lookup(encoding).name, encoding)
    except LookupError:
        charset = encoding
    accepted = DECODE_CHARSETS.values()
    if charset not in accepted and spark.conf.get(_JAVA_CHARSETS) != "true":
        raise ValueError(
            f"{res.f_type} resource {res.name!r}: encoding {encoding!r} is not "
            f"one Spark's csv source and decode accept: {', '.join(accepted)} "
            f"(or any Java charset with {_JAVA_CHARSETS}=true)"
        )
    if res.f_type != "txt":
        return charset
    if load and charset != "UTF-8":
        raise ValueError(
            f"fixed-width load {res.name!r} cannot write encoding {encoding!r}: "
            "the text writer only writes UTF-8"
        )
    columns = list(res.columns)
    if not load:
        columns += [*(res.header_columns or ()), *(res.footer_columns or ())]
    for c in columns:
        if c.txt_length < 1 or (not load and c.txt_position < 1):
            raise ValueError(
                f"txt resource {res.name!r}: column {c.name!r} has position "
                f"{c.txt_position}, length {c.txt_length}; a txt column needs "
                "txt_length >= 1, and one that is read txt_position >= 1"
            )
    return charset


def read_text_resource(
    spark: SparkSession,
    res: ResourceSpec,
    encoding: str,
    path: str = "",
    payload_b64: str | None = None,
) -> DataFrame:
    """The csv/txt resource ``res``'s body rows ``(file, _line_no,
    *columns, *header_columns, *footer_columns)``, read from the file(s)
    at ``path`` or, when given, from an online job's base64 payload
    (``file`` = '<inline>'). ``encoding`` is ``check_text_resource``'s.

    A file is read whole by the whole-text source, which decompresses a
    codec extension (``.gz``, ``.bz2``, ...); a file's or a payload's
    bytes are decoded once, by the same rule (``_decoded_sql``).

    Header and footer are the first and last line of the same file,
    parsed once per file with their own column lists and carried onto
    every body row; both are dropped from the body (the reference's
    slicing, cubicerpetl.py:242-245,267-270). A csv body line that is
    blank — empty, or only characters <= U+0020 (spaces, tabs), Java's
    ``String.trim`` rule — is no row, as ``spark.read.csv`` skips it on
    the plain csv path. The reference's ``csv.DictReader`` skips only an
    empty line and keeps a whitespace-only one as a row of its first
    field; the engine follows its splittable source there. A txt line
    is sliced whatever it holds. Each projection reaches the JVM as one
    ``selectExpr``.
    """
    if res.f_type == "csv":
        sep, quote = res.txt_separator, res.txt_quote
        parse = lambda line, cols: _csv_columns(line, cols, sep, quote)  # noqa: E731
    elif res.f_type == "txt":
        parse = _fixed_width_columns
    else:
        raise ValueError(f"line codec needs csv/txt physics, got {res.f_type}")
    if payload_b64 is None:
        # NB: wholetext must be passed as the text() parameter — the
        # DataFrameReader option of the same name is not picked up.
        text = "value"
        if encoding != "UTF-8":
            text = _decoded_sql("CAST(value AS BINARY)", encoding)
        texts = spark.read.text(path, wholetext=True).selectExpr(
            "input_file_name() AS file", f"{text} AS text"
        )
    else:
        # range + lit keeps the one-row frame in the JVM: no Python-pickled
        # scan for the payload; the payload stays one literal, so multi-MB
        # text never goes through the SQL parser
        texts = spark.range(0, 1, 1, 1).select(F.lit(payload_b64).alias("b64"))
        texts = texts.selectExpr(
            "'<inline>' AS file", f"{_decoded_sql('unbase64(b64)', encoding)} AS text"
        )
    header = res.header_columns or None
    footer = res.footer_columns or None
    first, last = int(header is not None), int(footer is not None)
    # try_: an empty text (no lines) still gets its header/footer
    # projection, and element_at on an empty array raises under ANSI
    ends = {
        name: parse(f"try_element_at(__lines, {at})", cols)
        for name, cols, at in (("__header", header, 1), ("__footer", footer, -1))
        if cols is not None
    }
    body = "__lines"
    if first or last:
        body = f"slice(__lines, {first + 1}, greatest(size(__lines) - {first} - {last}, 0))"
    line_no = f"_line_no + {first} AS _line_no" if first else "_line_no"
    # the header/footer structs get their own projection below the
    # explode, so each is parsed once per file, not once per body row
    per_file = texts.selectExpr("file", f"{_split_lines_sql('text')} AS __lines")
    per_file = per_file.selectExpr(
        "file", "__lines", *[f"{sql} AS {n}" for n, sql in ends.items()]
    )
    exploded = per_file.selectExpr(
        "file", *ends, f"posexplode({body}) AS (_line_no, value)"
    )
    if res.f_type == "csv":
        exploded = exploded.filter(f"value RLIKE {literal(_NOT_BLANK)}")
    parsed = exploded.selectExpr(
        "file", line_no, f"{parse('value', res.columns)} AS __body", *ends
    )
    return parsed.selectExpr("file", "_line_no", "__body.*", *[f"{n}.*" for n in ends])


def _decoded_sql(binary: str, encoding: str) -> str:
    """SQL text of the string held in the SQL ``binary`` expression's
    bytes. UTF-8 bytes are taken as they are, as the text source takes a
    file's, so an invalid byte reads as U+FFFD rather than failing the
    job; any other encoding goes through ``decode``."""
    if encoding == "UTF-8":
        return f"CAST({binary} AS STRING)"
    return f"decode({binary}, {literal(encoding)})"


def _split_lines_sql(text: str) -> str:
    """SQL text of the SQL ``text`` expression's array of lines. A run of
    trailing newlines yields no phantom line, and an empty text (an
    empty file or inline payload) has no lines, as with the csv /
    readlines codecs of the reference."""
    trailing, newline = literal(r"(\r?\n)+$"), literal(r"\r?\n")
    lines = f"split(regexp_replace({text}, {trailing}, ''), {newline})"
    return f"CASE WHEN ({text}) = '' THEN CAST(array() AS ARRAY<STRING>) ELSE {lines} END"


def _csv_columns(line: str, cols: list[ColumnSpec], sep: str, quote: str) -> str:
    """SQL text parsing the SQL ``line`` expression into a struct of the
    columns via one from_csv (JVM-side uniVocity parser — handles
    quoting/escapes, unlike a naive split)."""
    schema = ", ".join(f"{ident(c.name)} string" for c in cols)
    options = f"map('quote', {literal(quote)}, 'sep', {literal(sep)})"
    return f"from_csv({line}, {literal(schema)}, {options})"


def _fixed_width_columns(line: str, cols: list[ColumnSpec]) -> str:
    """SQL text slicing the SQL ``line`` expression into a struct of the
    columns' space-trimmed fields (1-based ``txt_position``,
    ``txt_length`` characters)."""
    fields = ", ".join(
        f"trim(substring({line}, {c.txt_position}, {c.txt_length})) AS {ident(c.name)}"
        for c in cols
    )
    return f"struct({fields})"
