"""A3/A4 — model-based property test: the text extract must agree with a
plain-Python model of the reference's in-memory slicing
(cubicerpetl.py:228-270: header = line 0, footer = last line, body =
the lines between, each parsed with its own column list) for csv and
fixed-width txt, with or without header and footer, over several
files of 0-3 lines (blank ones among them) with LF or CRLF line ends and
trailing newlines. A blank csv body line — empty, or only characters
<= U+0020 (Java's ``String.trim`` rule, as ``spark.read.csv`` skips on
the plain csv path) — is no row; a txt line is sliced whatever it
holds."""

from __future__ import annotations

import os
import re
import tempfile

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from cubicerp_client_etl_spark.plans.spec import ColumnSpec, ResourceSpec
from cubicerp_client_etl_spark.sources.lines import read_text_resource

BODY, HEADER, FOOTER = ["a", "b"], ["h"], ["f", "g"]

line = st.one_of(st.just(""), st.text(alphabet="xy;1 \té", max_size=6))
text_file = st.tuples(
    st.lists(line, max_size=3),
    st.sampled_from(["\n", "\r\n"]),
    st.integers(min_value=0, max_value=2),  # trailing newlines
).map(lambda t: t[1].join(t[0]) + t[1] * t[2] if t[0] else "")


def model_lines(text: str) -> list[str]:
    """The trailing-newline rule: a run of trailing newlines is no line."""
    if text == "":
        return []
    return re.split(r"\r?\n", re.sub(r"(\r?\n)+$", "", text))


def csv_model(value: str, names: list[str]) -> tuple:
    # from_csv: an empty field is NULL, missing fields are NULL, extra
    # fields are dropped; an empty header/footer line is a row of NULLs
    fields = value.split(";") if value else []
    fields += [""] * len(names)
    return tuple(f or None for f in fields[: len(names)])


def fw_spec(names: list[str]) -> tuple[ColumnSpec, ...]:
    return tuple(ColumnSpec(n, txt_position=1 + 2 * i, txt_length=2)
                 for i, n in enumerate(names))


def fw_model(value: str, names: list[str]) -> tuple:
    return tuple(
        value[c.txt_position - 1 :][: c.txt_length].strip(" ") for c in fw_spec(names)
    )


def model(files: list[str], f_type: str, header: bool, footer: bool) -> list[tuple]:
    parse = csv_model if f_type == "csv" else fw_model
    rows = []
    for name, text in files:
        lines = model_lines(text)
        first, last = int(header), len(lines) - int(footer)
        for no in range(first, last):
            if f_type == "csv" and all(ch <= " " for ch in lines[no]):
                continue
            row = (name, no, *parse(lines[no], BODY))
            if header:
                row += parse(lines[0], HEADER)
            if footer:
                row += parse(lines[-1], FOOTER)
            rows.append(row)
    return sorted(rows)


@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    contents=st.lists(text_file, min_size=1, max_size=3),
    f_type=st.sampled_from(["csv", "txt"]),
    header=st.booleans(),
    footer=st.booleans(),
)
def test_text_extract_matches_reference_slicing(
    spark, contents, f_type, header, footer
):
    with tempfile.TemporaryDirectory() as d:
        files = [(f"f{i}.{f_type}", c) for i, c in enumerate(contents)]
        for name, c in files:
            with open(os.path.join(d, name), "wb") as fh:
                fh.write(c.encode("utf-8"))
        if f_type == "csv":
            to_cols = lambda names: tuple(map(ColumnSpec, names))  # noqa: E731
        else:
            to_cols = fw_spec
        res = ResourceSpec(
            name="prop", f_type=f_type, txt_separator=";", columns=to_cols(BODY),
            header_columns=to_cols(HEADER) if header else None,
            footer_columns=to_cols(FOOTER) if footer else None,
        )
        df = read_text_resource(spark, res, "UTF-8", path=d)
        expected_cols = ["file", "_line_no", *BODY]
        expected_cols += HEADER if header else []
        expected_cols += FOOTER if footer else []
        assert df.columns == expected_cols
        got = sorted((os.path.basename(r[0]), *r[1:]) for r in df.collect())
    assert got == model(files, f_type, header, footer), (files, f_type, header, footer)
