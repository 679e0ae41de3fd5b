"""Codec tests (SURVEY §5.2.3/4): golden bytes for the fixed-width
writer, round-trips for CSV/fixed-width/inline-base64, header/footer
broadcast semantics per FIXTURES.md B1/B2/B6."""

from __future__ import annotations

import base64
import glob
import gzip

import pytest
from pyspark.sql import functions as F

from cubicerp_client_etl_spark.plans.interpreter import extract
from cubicerp_client_etl_spark.plans.spec import (
    ColumnSpec,
    JobSpec,
    ResourceSpec,
    TransformSpec,
)
from cubicerp_client_etl_spark.sinks.writers import (
    render_fixed_width_lines,
    write_fixed_width,
)
from cubicerp_client_etl_spark.sources.lines import read_text_resource

NATION_ROWS = [(0, "ALGERIA", 0), (1, "ARGENTINA", 1), (24, "UNITED STATES", 1)]

# FIXTURES.md B2 layout: rjust-0 key, ljust name, rjust-0 regionkey,
# centered forced tag with '-' fill; one spec writes and reads the file
FW = (
    ColumnSpec("n_nationkey", txt_position=1, txt_length=4, txt_align="rjust",
               txt_fill_char="0"),
    ColumnSpec("n_name", txt_position=5, txt_length=20),
    ColumnSpec("n_regionkey", txt_position=25, txt_length=2, txt_align="rjust",
               txt_fill_char="0"),
    ColumnSpec("forced_tag", txt_position=27, txt_length=3, txt_align="center",
               txt_fill_char="-", forced_value="X"),
)


def _extract(spark, resource: ResourceSpec):
    """Read ``resource`` the way a job does (``interpreter.extract``)."""
    job = JobSpec(
        name="read",
        extract=resource,
        transform=TransformSpec(name="t"),
        load=ResourceSpec(name="unused"),
    )
    return extract(spark, job)


@pytest.fixture()
def nation_df(spark):
    return spark.createDataFrame(
        NATION_ROWS, "n_nationkey int, n_name string, n_regionkey int"
    )


def test_fixed_width_golden_bytes(nation_df):
    lines = [
        r["value"]
        for r in render_fixed_width_lines(nation_df, FW).collect()
    ]
    # golden: matches python f"{key:0>4}{name:<20}{rk:0>2}{'X':-^3}"
    assert lines[0] == "0000ALGERIA             00-X-"
    assert lines[1] == "0001ARGENTINA           01-X-"
    assert lines[2] == "0024UNITED STATES       01-X-"
    assert all(len(ln) == 29 for ln in lines)


def test_fw_render_matches_python_semantics(spark):
    # property-style check against str.ljust/rjust/center + truncation
    cases = [
        ("abc", 5, "ljust", "."), ("abc", 5, "rjust", "."),
        ("abc", 5, "center", "."), ("abcdefgh", 5, "ljust", "."),
        ("abcdefgh", 5, "rjust", "."), ("abcdefgh", 5, "center", "."),
        ("", 4, "center", "-"), ("ab", 7, "center", "-"),
    ]
    df = spark.createDataFrame([(s,) for s, *_ in cases], "v string")
    for s, ln, align, fill in cases:
        got = (
            spark.createDataFrame([(s,)], "v string")
            .select(
                __import__(
                    "cubicerp_client_etl_spark.functions", fromlist=["fw_render"]
                ).fw_render(F.col("v"), ln, align, fill)
            )
            .collect()[0][0]
        )
        if align == "ljust":
            want = s.ljust(ln, fill)[:ln]
        elif align == "rjust":
            # reference quirk: rjust overflow keeps the LAST n chars
            want = s.rjust(ln, fill) if len(s) <= ln else s[-ln:]
        else:
            want = s.center(ln, fill)[:ln]
        assert got == want, (s, ln, align, fill, got, want)


def test_fixed_width_roundtrip_with_header_footer(spark, nation_df, tmp_path):
    """The rendered body, between a header and a footer line of the
    test's own, reads back through the same spec."""
    out = str(tmp_path / "fw")
    write_fixed_width(nation_df, out, FW, order_by=["n_nationkey"])
    files = glob.glob(f"{out}/part-*")
    assert len(files) == 1, "an ordered write must emit a single file"
    body = open(files[0]).read()
    framed = tmp_path / "framed.txt"
    framed.write_text("H2024010599\n" + body + "F0000000003\n")

    hdr = (
        ColumnSpec("h_tag", txt_position=1, txt_length=1),
        ColumnSpec("h_date", txt_position=2, txt_length=8),
        ColumnSpec("h_batch", txt_position=10, txt_length=2),
    )
    ftr = (
        ColumnSpec("f_tag", txt_position=1, txt_length=1),
        ColumnSpec("f_count", txt_position=2, txt_length=10),
    )
    res = ResourceSpec(
        name="nation_fw",
        f_type="txt",
        f_filename=str(framed),
        columns=FW,
        header_columns=hdr,
        footer_columns=ftr,
    )
    back = _extract(spark, res).orderBy("n_nationkey")
    rows = back.collect()
    assert len(rows) == 3  # header/footer excluded from body
    assert [int(r["n_nationkey"]) for r in rows] == [0, 1, 24]
    assert rows[0]["n_name"] == "ALGERIA"
    assert rows[0]["forced_tag"] == "-X-"
    # header/footer values broadcast onto every body row (FIXTURES B1)
    assert all(r["h_date"] == "20240105" and r["h_batch"] == "99" for r in rows)
    assert all(int(r["f_count"]) == 3 for r in rows)


def test_fixed_width_ordered_write_keeps_key_order(spark, tmp_path):
    """About 2k rows spread over 4 shuffled partitions, written with
    ``order_by``: one part file, lines in key order."""
    n = 2000
    df = (
        spark.range(n)
        .select(
            ((F.col("id") * 7919) % n).cast("int").alias("n_nationkey"),
            F.concat(F.lit("N"), F.col("id").cast("string")).alias("n_name"),
            (F.col("id") % 5).cast("int").alias("n_regionkey"),
        )
        .repartition(4, "n_name")
    )
    assert df.rdd.getNumPartitions() >= 4
    out = str(tmp_path / "fw_ordered")
    write_fixed_width(df, out, FW, order_by=["n_nationkey"])
    files = glob.glob(f"{out}/part-*")
    assert len(files) == 1
    raw = open(files[0]).read().rstrip("\n").split("\n")
    assert len(raw) == n
    keys = [int(line[:4]) for line in raw]
    assert keys == list(range(n))


def test_csv_header_footer_broadcast(spark, tmp_path):
    p = tmp_path / "hf.csv"
    p.write_text(
        "2024-01-05;42\n"
        '0;"ALGERIA";0\n'
        '1;"ARG;ENTINA";1\n'  # separator inside quotes
        "3;5340.25\n"
    )
    res = ResourceSpec(
        name="hf",
        f_type="csv",
        f_filename=str(p),
        txt_separator=";",
        txt_quote='"',
        columns=tuple(map(ColumnSpec, ["n_nationkey", "n_name", "n_regionkey"])),
        header_columns=tuple(map(ColumnSpec, ["file_date", "batch_no"])),
        footer_columns=tuple(map(ColumnSpec, ["row_count", "total_amount"])),
    )
    df = _extract(spark, res).orderBy("_line_no")
    rows = df.collect()
    assert len(rows) == 2
    assert rows[1]["n_name"] == "ARG;ENTINA"
    assert all(r["file_date"] == "2024-01-05" and r["batch_no"] == "42" for r in rows)
    assert all(r["total_amount"] == "5340.25" for r in rows)


def test_inline_base64_equals_file_parse(spark, tmp_path):
    content = "a;1\nb;2\nc;3\n"
    p = tmp_path / "plain.csv"
    p.write_text(content)
    payload = base64.b64encode(content.encode()).decode()

    res = ResourceSpec(name="plain", f_type="csv", txt_separator=";",
                       columns=(ColumnSpec("k"), ColumnSpec("v")))

    def lines(path="", payload=None):
        df = read_text_resource(spark, res, "UTF-8", path=path, payload_b64=payload)
        return sorted(tuple(r) for r in df.select("_line_no", "k", "v").collect())

    via_file = lines(path=str(p))
    assert via_file == [(0, "a", "1"), (1, "b", "2"), (2, "c", "3")]
    assert lines(payload=payload) == via_file
    # an empty file and an empty payload both have no lines
    empty = tmp_path / "empty.csv"
    empty.write_text("")
    assert lines(path=str(empty)) == []
    assert lines(payload="") == []


def test_empty_payload_with_header_footer_has_no_rows(spark):
    """An empty inline payload has no lines: with header and footer
    declared it yields no rows (not an out-of-range line index)."""
    job = JobSpec(
        name="empty_online",
        job_type="online",
        input_payload_b64="",
        extract=ResourceSpec(
            name="in", f_type="csv", txt_separator=";",
            columns=(ColumnSpec("k"),),
            header_columns=(ColumnSpec("batch"),),
            footer_columns=(ColumnSpec("n"),),
        ),
        transform=TransformSpec(name="t"),
        load=ResourceSpec(name="unused"),
    )
    df = extract(spark, job)
    assert df.columns == ["file", "_line_no", "k", "batch", "n"]
    assert df.collect() == []


@pytest.mark.parametrize("compressed", [False, True])
@pytest.mark.parametrize("encoding", ["ISO-8859-1", "UTF-8"])
def test_text_extracts_decode_once(spark, tmp_path, encoding, compressed):
    """A file is decoded from its bytes with the declared encoding, once,
    after a ``.gz`` file is decompressed: a csv-with-footer extract and a
    txt extract both yield the original words."""
    suffix, write = (".gz", gzip.open) if compressed else ("", open)

    def put(name, text):
        path = tmp_path / (name + suffix)
        with write(path, "wb") as fh:
            fh.write(text.encode(encoding))
        return str(path)

    csv = put("rows.csv", "1;caf\u00e9\n2;na\u00efve\n2;tot\u00e9\n")
    csv_rows = _extract(
        spark,
        ResourceSpec(
            name="csv",
            f_type="csv",
            f_filename=csv,
            txt_separator=";",
            encoding=encoding,
            columns=(ColumnSpec("id"), ColumnSpec("word")),
            footer_columns=(ColumnSpec("n"), ColumnSpec("tag")),
        ),
    ).orderBy("_line_no").collect()
    assert [(r.id, r.word, r.tag) for r in csv_rows] == [
        ("1", "caf\u00e9", "tot\u00e9"),
        ("2", "na\u00efve", "tot\u00e9"),
    ]
    txt = put("rows.txt", "1caf\u00e9 \n2na\u00efve\n")
    txt_rows = _extract(
        spark,
        ResourceSpec(
            name="txt",
            f_type="txt",
            f_filename=txt,
            encoding=encoding,
            columns=(
                ColumnSpec("id", txt_position=1, txt_length=1),
                ColumnSpec("word", txt_position=2, txt_length=5),
            ),
        ),
    ).orderBy("_line_no").collect()
    assert [(r.id, r.word) for r in txt_rows] == [
        ("1", "caf\u00e9"),
        ("2", "na\u00efve"),
    ]


def test_invalid_utf8_byte_becomes_replacement_char(spark, tmp_path):
    """A UTF-8 extract with an invalid byte does not fail the job: the
    byte reads as U+FFFD, as the text source has always read it."""
    p = tmp_path / "bad.csv"
    p.write_bytes(b"H;1\n1;ab\xffc\nT;1\n")
    rows = _extract(
        spark,
        ResourceSpec(
            name="bad", f_type="csv", f_filename=str(p), txt_separator=";",
            columns=(ColumnSpec("id"), ColumnSpec("word")),
            header_columns=(ColumnSpec("h"), ColumnSpec("batch")),
            footer_columns=(ColumnSpec("t"), ColumnSpec("n")),
        ),
    ).collect()
    assert [(r.id, r.word, r.batch, r.n) for r in rows] == [
        ("1", "ab\ufffdc", "1", "1")
    ]


@pytest.mark.parametrize(
    "declared, content_encoding",
    [("utf8", "utf-8"), ("UTF8", "utf-8"), ("latin1", "latin-1"), ("ascii", "ascii")],
)
def test_python_codec_names_read_text_extracts(
    spark, tmp_path, declared, content_encoding
):
    """Encodings are declared with Python codec names, as in the
    reference; each resolves to the charset Spark decodes with."""
    word = "na\u00efve" if content_encoding != "ascii" else "naive"
    p = tmp_path / "rows.csv"
    p.write_bytes(f"1;{word}\nT;1\n".encode(content_encoding))
    rows = _extract(
        spark,
        ResourceSpec(
            name="named", f_type="csv", f_filename=str(p), txt_separator=";",
            encoding=declared,
            columns=(ColumnSpec("id"), ColumnSpec("word")),
            footer_columns=(ColumnSpec("t"), ColumnSpec("n")),
        ),
    ).collect()
    assert [(r.id, r.word, r.n) for r in rows] == [("1", word, "1")]

def test_csv_plain_path_roundtrip(spark, tmp_path, nation_df):
    from cubicerp_client_etl_spark.sinks.writers import write_csv_resource

    out = str(tmp_path / "csv")
    write_csv_resource(nation_df, out, sep="|")
    back = (
        spark.read.csv(out, sep="|")
        .toDF("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")
        .collect()
    )
    assert [(int(r[0]), r[1], int(r[2])) for r in back] == NATION_ROWS


# --------------------------------------------------------------------------
# DBF round-trip (SURVEY A5/I5): built-in dBase III writer → built-in
# reader, covering C/N/L/D types, nulls, and deleted-record skip.
# --------------------------------------------------------------------------
def test_dbf_roundtrip(spark, tmp_path):
    from cubicerp_client_etl_spark.sinks.dbf import DbfField, write_dbf
    from cubicerp_client_etl_spark.sources.dbf import read_dbf

    df = spark.createDataFrame(
        [
            (0, "ALGERIA", 4.5, True, "2024-01-31"),
            (1, "ARGENTINA", None, False, None),
            (24, None, -12.25, None, "1999-12-31"),
        ],
        "k bigint, name string, score double, flag boolean, d string",
    )
    path = str(tmp_path / "out.dbf")
    specs = [
        DbfField("k", "N", 19, 0),
        DbfField("name", "C", 20, 0),
        DbfField("score", "N", 12, 2),
        DbfField("flag", "L", 1, 0),
        DbfField("d", "D", 8, 0),
    ]
    n = write_dbf(df, path, specs)
    assert n == 3

    back = read_dbf(
        spark, path, schema="k bigint, name string, score double, flag boolean, d string"
    )
    got = {r["k"]: r for r in back.collect()}
    assert set(got) == {0, 1, 24}
    assert got[0]["name"] == "ALGERIA" and got[0]["flag"] is True
    assert got[0]["d"] == "2024-01-31"
    assert got[1]["score"] is None and got[1]["flag"] is False and got[1]["d"] is None
    assert got[24]["name"] is None and got[24]["score"] == -12.25
    assert got[24]["flag"] is None


def test_dbf_inferred_specs_roundtrip(spark, tmp_path):
    from cubicerp_client_etl_spark.sinks.dbf import write_dbf
    from cubicerp_client_etl_spark.sources.dbf import read_dbf

    nation = spark.createDataFrame(
        NATION_ROWS, "n_nationkey int, n_name string, n_regionkey int"
    )
    path = str(tmp_path / "nation.dbf")
    assert write_dbf(nation, path) == 3
    back = read_dbf(spark, path)  # schema inferred from the file header
    rows = sorted((int(r[0]), r[1], int(r[2])) for r in back.collect())
    assert rows == sorted(NATION_ROWS)


def test_jsonl_roundtrip_and_quarantine(spark, tmp_path):
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from cubicerp_client_etl_spark.sources.jsonl import (
        quarantine,
        read_jsonl,
        write_jsonl,
    )

    schema = StructType(
        [
            StructField("doc_id", LongType(), False),
            StructField("text", StringType(), True),
        ]
    )
    df = spark.createDataFrame(
        [(1, "hello"), (2, None), (3, 'quote " and , comma')], schema
    )
    out = str(tmp_path / "docs_jsonl")
    write_jsonl(df, out)
    back, bad = quarantine(read_jsonl(spark, out, schema=schema))
    assert bad.count() == 0
    assert sorted((r.doc_id, r.text) for r in back.collect()) == [
        (1, "hello"),
        (2, None),
        (3, 'quote " and , comma'),
    ]

    # malformed line goes to quarantine, good lines survive
    p = tmp_path / "mixed.jsonl"
    p.write_text('{"doc_id": 1, "text": "ok"}\n{not json at all\n')
    good, bad = quarantine(read_jsonl(spark, str(p), schema=schema))
    assert [(r.doc_id, r.text) for r in good.collect()] == [(1, "ok")]
    assert bad.count() == 1


def test_compact_parquet_small_files(spark, tmp_path):
    from cubicerp_client_etl_spark.sinks.writers import compact_parquet

    src = str(tmp_path / "fragmented")
    # simulate the small-files problem: 64 shards of a 1000-row table
    spark.range(1000).withColumnRenamed("id", "k").repartition(64).write.parquet(src)
    dst = str(tmp_path / "compacted")
    n_files = compact_parquet(
        spark, src, dst, target_rows_per_file=500, sort_within_by=["k"]
    )
    assert n_files == 2
    back = spark.read.parquet(dst)
    assert back.count() == 1000
    assert sorted(r.k for r in back.collect()) == list(range(1000))


def test_write_clustered_disjoint_file_ranges(spark, tmp_path):
    """I8/L-scale: range-clustered layout must give files pairwise
    disjoint cluster-key ranges (verified from Parquet footer stats) —
    the property that makes min/max file pruning effective."""
    import glob

    import pyarrow.parquet as pq

    from cubicerp_client_etl_spark.sinks.writers import write_clustered
    from tests.conftest import SF_SMOKE

    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").select(
        "l_orderkey", "l_extendedprice"
    )
    dst = str(tmp_path / "clustered")
    write_clustered(li, dst, ["l_orderkey"], n_files=4)

    ranges = []
    for f in sorted(glob.glob(f"{dst}/part-*.parquet")):
        md = pq.ParquetFile(f).metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(0)  # l_orderkey
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        ranges.append((min(mins), max(maxs)))
    assert len(ranges) == 4
    ranges.sort()
    for (lo_a, hi_a), (lo_b, hi_b) in zip(ranges, ranges[1:]):
        assert hi_a <= lo_b, f"overlapping file ranges: {ranges}"


def test_zorder_key_interleaves_bits(spark):
    from cubicerp_client_etl_spark.sinks.writers import zorder_key

    df = spark.createDataFrame([(0b101, 0b011)], "x long, y long")
    z = df.select(zorder_key([F.col("x"), F.col("y")], bits=3).alias("z")).collect()[0]["z"]
    # x bits (1,0,1) land at even positions, y bits (1,1,0) at odd:
    # bit0=x0=1, bit1=y0=1, bit2=x1=0, bit3=y1=1, bit4=x2=1, bit5=y2=0
    # MSB-first that is 0b011011
    assert z == 0b011011


def test_zorder_key_rejects_over_budget_bits(spark):
    """ADVICE r2: bits*len(cols) > 63 reaches the int64 sign bit and
    Java's shift-mod-64 wraparound — must raise, not silently scramble
    the Morton ordering. write_zorder clamps instead (quality knob)."""
    import warnings

    import pytest as _pytest

    from cubicerp_client_etl_spark.sinks.writers import write_zorder, zorder_key

    cols = [F.col(c) for c in ("a", "b", "c", "d")]
    with _pytest.raises(ValueError, match="63"):
        zorder_key(cols, bits=16)  # 16*4 = 64 > 63
    assert zorder_key(cols, bits=15) is not None  # 60 <= 63 ok

    df = spark.createDataFrame([(1, 2, 3, 4)], "a long, b long, c long, d long")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        import tempfile

        with tempfile.TemporaryDirectory() as tmp:
            write_zorder(df, f"{tmp}/z", ["a", "b", "c", "d"], bits=16)
    assert any("clamping bits" in str(w.message) for w in caught)


def test_write_zorder_prunes_both_columns(spark, tmp_path):
    """L-scale: z-order layout must give BOTH z-ordered columns
    non-trivial per-file ranges — a selective predicate on either
    column can skip files (range clustering only achieves this for the
    leading key)."""
    import glob

    import pyarrow.parquet as pq

    from cubicerp_client_etl_spark.sinks.writers import write_zorder

    rows = [(x, y) for x in range(64) for y in range(64)]
    df = spark.createDataFrame(rows, "x long, y long")
    dst = str(tmp_path / "zordered")
    write_zorder(df, dst, ["x", "y"], n_files=16, bits=6)

    files = sorted(glob.glob(f"{dst}/part-*.parquet"))
    assert len(files) == 16

    def spans(col_idx):
        out = []
        for f in files:
            md = pq.ParquetFile(f).metadata
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(col_idx).statistics
                mins.append(st.min)
                maxs.append(st.max)
            out.append((min(mins), max(maxs)))
        return out

    # average per-file span on EACH column must be well under the full
    # domain (64) — i.e. both columns are clustered, not just one
    for ci in (0, 1):
        sp = spans(ci)
        avg_span = sum(hi - lo for lo, hi in sp) / len(sp)
        assert avg_span <= 32, (ci, sp)
