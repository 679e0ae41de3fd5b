"""One decode rule for the text extracts: a file and an inline payload
read the same bytes as the same text, and an encoding Spark's ``decode``
cannot take is refused while the plan is built."""

from __future__ import annotations

import base64

import pytest

from cubicerp_client_etl_spark.plans.interpreter import extract
from cubicerp_client_etl_spark.plans.spec import (
    ColumnSpec,
    JobSpec,
    ResourceSpec,
    TransformSpec,
)
from cubicerp_client_etl_spark.sources.inline import read_inline_payload
from cubicerp_client_etl_spark.sources.lines import DECODE_CHARSETS, read_texts


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
    via_file = read_texts(spark, str(p)).first().text
    via_payload = read_inline_payload(spark, base64.b64encode(raw).decode()).first().text
    assert via_file == via_payload == "ab\ufffdc"

    # and through whole extracts: a txt file and an online job's payload
    cols = (ColumnSpec("v", txt_position=1, txt_length=9),)
    in_file = ResourceSpec(name="in", f_type="txt", f_filename=str(p), columns=cols)
    inline = ResourceSpec(name="in", f_type="txt", columns=cols)
    from_file = [r.v for r in extract(spark, _job(in_file)).collect()]
    assert [r.v for r in extract(spark, _job(inline, raw)).collect()] == from_file
    assert from_file == ["ab\ufffdc"]


@pytest.mark.parametrize("encoding", ["cp1252", "windows-1252", "UTF-32BE"])
@pytest.mark.parametrize("shape", ["csv_footer", "txt", "inline"])
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
