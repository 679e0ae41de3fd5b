"""One charset rule for every csv/txt resource: a file and an inline
payload read the same bytes as the same text, and an encoding that
Spark's ``decode`` and csv source cannot take is refused while the plan
is built, for an extract and a load alike."""

from __future__ import annotations

import base64

import pytest

from cubicerp_client_etl_spark.plans.interpreter import extract, run_job
from cubicerp_client_etl_spark.plans.spec import (
    ColumnSpec,
    FieldSpec,
    JobSpec,
    ResourceSpec,
    TransformSpec,
)
from cubicerp_client_etl_spark.sources.lines import DECODE_CHARSETS


def _job(resource: ResourceSpec, payload: bytes | None = None) -> JobSpec:
    return JobSpec(
        name="read",
        job_type="online" if payload is not None else "batch",
        input_payload_b64=None if payload is None else base64.b64encode(payload).decode(),
        extract=resource,
        transform=TransformSpec(name="t"),
        load=ResourceSpec(name="unused"),
    )


def test_invalid_utf8_byte_reads_alike_from_file_and_payload(spark, tmp_path):
    """``b"ab\\xffc"``: the file path and the inline path both read the
    bad byte as U+FFFD; neither fails."""
    raw = b"ab\xffc"
    p = tmp_path / "bad.txt"
    p.write_bytes(raw)
    cols = (ColumnSpec("v", txt_position=1, txt_length=9),)
    in_file = ResourceSpec(name="in", f_type="txt", f_filename=str(p), columns=cols)
    inline = ResourceSpec(name="in", f_type="txt", columns=cols)
    from_file = [r.v for r in extract(spark, _job(in_file)).collect()]
    assert [r.v for r in extract(spark, _job(inline, raw)).collect()] == from_file
    assert from_file == ["ab\ufffdc"]


@pytest.mark.parametrize("encoding", ["cp1252", "windows-1252", "UTF-32BE"])
@pytest.mark.parametrize("shape", ["csv_footer", "txt", "inline", "plain_csv"])
def test_text_extract_refuses_a_charset_decode_cannot_take(
    spark, tmp_path, shape, encoding
):
    p = tmp_path / "in.txt"
    p.write_bytes(b"a\nb\n")
    cols = (ColumnSpec("v", txt_position=1, txt_length=1),)
    if shape == "csv_footer":
        res = ResourceSpec(name="in", f_type="csv", f_filename=str(p), columns=cols,
                           footer_columns=cols, encoding=encoding)
        job = _job(res)
    elif shape == "plain_csv":
        job = _job(ResourceSpec(name="in", f_type="csv", f_filename=str(p), columns=cols,
                                encoding=encoding))
    elif shape == "txt":
        job = _job(ResourceSpec(name="in", f_type="txt", f_filename=str(p), columns=cols,
                                encoding=encoding))
    else:
        job = _job(ResourceSpec(name="in", f_type="csv", columns=cols, encoding=encoding),
                   b"a\n")
    with pytest.raises(ValueError) as err:
        extract(spark, job)
    msg = str(err.value)
    assert repr(encoding) in msg
    assert all(charset in msg for charset in DECODE_CHARSETS.values())


def test_java_charsets_under_the_legacy_conf(spark, tmp_path):
    """With ``spark.sql.legacy.javaCharsets`` on, ``decode`` takes any
    Java charset: a txt extract reads cp1252, as the plain csv source
    (which follows the same conf) does."""
    p = tmp_path / "in.csv"
    p.write_bytes("caf\u00e9;\u20ac\n".encode("cp1252"))
    as_csv = ResourceSpec(name="in", f_type="csv", f_filename=str(p), txt_separator=";",
                          columns=(ColumnSpec("a"), ColumnSpec("b")), encoding="cp1252")
    as_txt = ResourceSpec(name="in", f_type="txt", f_filename=str(p), encoding="cp1252",
                          columns=(ColumnSpec("a", txt_position=1, txt_length=6),))
    spark.conf.set("spark.sql.legacy.javaCharsets", "true")
    try:
        assert [tuple(r) for r in extract(spark, _job(as_csv)).collect()] == [
            ("caf\u00e9", "\u20ac")
        ]
        assert [r.a for r in extract(spark, _job(as_txt)).collect()] == ["caf\u00e9;\u20ac"]
    finally:
        spark.conf.unset("spark.sql.legacy.javaCharsets")


@pytest.mark.parametrize("encoding", ["cp1252", "windows-1252"])
def test_csv_load_refuses_a_charset_its_writer_cannot_take(spark, tmp_path, encoding):
    """A csv load declared with a Java-only charset raises, naming the
    encoding, before the merge runs: no output and no ledger."""
    src = tmp_path / "src.csv"
    src.write_text("1,a\n")
    out = tmp_path / "out_csv"
    job = JobSpec(
        name="cp1252-csv-load",
        extract=ResourceSpec(
            name="src", f_type="csv", f_filename=str(src),
            columns=(ColumnSpec("id"), ColumnSpec("word")),
        ),
        transform=TransformSpec(name="t", fields=(FieldSpec("id"), FieldSpec("word"))),
        load=ResourceSpec(name="dst", f_type="csv", f_filename=str(out), encoding=encoding),
        pk_field="id",
        ledger_path=str(tmp_path / "ledger"),
    )
    with pytest.raises(ValueError, match=encoding):
        run_job(spark, job)
    assert not out.exists()
    assert not (tmp_path / "ledger").exists()
