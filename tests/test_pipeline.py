"""End-to-end pipeline slice (SURVEY §7.1): parquet scan → domain filter
→ computed columns → value-mapping decode → CSV sink + ledger, then the
merge-mode matrix through the spec interpreter (§5.2.6)."""

from __future__ import annotations

import base64

import pytest
from pyspark.sql import functions as F

from cubicerp_client_etl_spark.plans.spec import (
    ColumnSpec,
    FieldSpec,
    JobSpec,
    MappingSpec,
    ResourceSpec,
    TransformSpec,
)
from cubicerp_client_etl_spark.plans.interpreter import extract, run_job, transform
from tests.conftest import SF_SMOKE

FLAG_MAPPING = MappingSpec(
    name="flags",
    lines=(("A", "Accepted"), ("R", "Returned")),
    default="Unknown",
)


def _job(tmp_path, reprocess="insert", ledger=True):
    return JobSpec(
        name="slice71",
        extract=ResourceSpec(
            name="lineitem",
            f_type="parquet",
            f_filename=f"{SF_SMOKE}/lineitem.parquet",
            domain=(("l_shipdate", "<=", "1998-09-02"),),
        ),
        transform=TransformSpec(
            name="t",
            fields=(
                FieldSpec("id", value="l_orderkey * 10 + l_linenumber"),
                FieldSpec("orderkey", field_name="l_orderkey"),
                FieldSpec("flag", field_name="l_returnflag", mapping="flags"),
                FieldSpec("revenue", value="round(l_extendedprice * (1 - l_discount), 2)"),
            ),
            reprocess=reprocess,
            mappings=(FLAG_MAPPING,),
        ),
        load=ResourceSpec(
            name="out", f_type="csv", f_filename=str(tmp_path / "out_csv")
        ),
        run_date="2024-01-05",
        pk_field="id",
        ledger_path=str(tmp_path / "ledger") if ledger else None,
    )


def test_pipeline_slice_end_to_end(spark, tmp_path):
    job = _job(tmp_path)
    merged = run_job(spark, job)
    n = merged.count()
    assert n > 0
    # decoded labels only
    labels = {r["flag"] for r in merged.select("flag").distinct().collect()}
    assert labels == {"Accepted", "Returned", "Unknown"}
    # sink wrote the rows
    back = spark.read.csv(str(tmp_path / "out_csv")).count()
    assert back == n
    # ledger wrote one row per row with the action tag (I7)
    ledger = spark.read.parquet(str(tmp_path / "ledger"))
    assert ledger.count() == n
    assert {r["message"] for r in ledger.select("message").distinct().collect()} == {
        "inserted"
    }


@pytest.mark.parametrize(
    "mode,expect",
    [
        ("insert", {"kept": 4, "inserted": 3}),
        ("update", {"kept": 2, "updated": 2, "inserted": 1}),
        ("noupdate", {"kept": 4, "inserted": 1}),
        ("onlyupdate", {"kept": 2, "updated": 2}),
        ("delete", {"kept": 2, "replaced": 2, "inserted": 1}),
    ],
)
def test_merge_mode_matrix(spark, mode, expect):
    """SURVEY §5.2.6: modes × {new, existing} rows; counts per action."""
    from cubicerp_client_etl_spark.operators.merge import apply_reprocess_mode

    target = spark.createDataFrame(
        [(1, "t1"), (2, "t2"), (3, "t3"), (4, "t4")], "pk int, v string"
    )
    staged = spark.createDataFrame(
        [(3, "s3"), (4, "s4"), (9, "s9")], "pk int, v string"
    )
    merged = apply_reprocess_mode(target, staged, "pk", mode)
    got = {
        r["action"]: r["n"]
        for r in merged.groupBy("action").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == expect
    # staged values win wherever an update/replace/insert happened
    if mode in ("update", "onlyupdate", "delete"):
        assert merged.filter((F.col("pk") == 3) & (F.col("v") == "s3")).count() == 1
    if mode == "noupdate":
        assert merged.filter((F.col("pk") == 3) & (F.col("v") == "t3")).count() == 1


def test_online_job_inline_payload(spark, tmp_path):
    """A6: an online job parses its base64 payload through CSV physics."""
    content = "10;X\n20;Y\n30;\n"
    job = JobSpec(
        name="online1",
        extract=ResourceSpec(
            name="inline",
            f_type="csv",
            txt_separator=";",
            columns=(ColumnSpec("k"), ColumnSpec("tag")),
            row_default_value={"tag": "NONE"},  # B3 fills the NULL hole
        ),
        transform=TransformSpec(
            name="t",
            fields=(
                FieldSpec("id", value="CAST(k AS INT)"),
                FieldSpec("tag", field_name="tag"),
            ),
        ),
        load=ResourceSpec(name="out", f_type="parquet", f_filename=str(tmp_path / "o")),
        job_type="online",
        input_payload_b64=base64.b64encode(content.encode()).decode(),
        pk_field="id",
    )
    merged = run_job(spark, job)
    rows = {(r["id"], r["tag"]) for r in merged.select("id", "tag").collect()}
    assert rows == {(10, "X"), (20, "Y"), (30, "NONE")}


@pytest.mark.parametrize("f_type", ["csv", "txt"])
def test_online_payload_parses_like_file(spark, tmp_path, f_type):
    """A6: an inline payload goes through the file codec itself, so a
    resource with header and footer columns gives the same body rows,
    header/footer fields broadcast, whether its bytes arrive as a file
    or as an online job's base64 payload."""
    if f_type == "csv":
        content = "H;B7\n01;a\n02;b\nT;2\n"
        cols = lambda *names: tuple(ColumnSpec(n) for n in names)  # noqa: E731
        body, header, footer = cols("k", "s"), cols("hrec", "batch"), cols("trec", "n")
    else:
        content = "HB7\n01a\n02b\nT2\n"
        cols = lambda *spec: tuple(  # noqa: E731
            ColumnSpec(n, txt_position=p, txt_length=w) for n, p, w in spec
        )
        body = cols(("k", 1, 2), ("s", 3, 1))
        header = cols(("hrec", 1, 1), ("batch", 2, 2))
        footer = cols(("trec", 1, 1), ("n", 2, 1))
    path = tmp_path / f"in.{f_type}"
    path.write_text(content)

    def rows(f_filename="", payload=None):
        res = ResourceSpec(
            name="in", f_type=f_type, txt_separator=";", columns=body,
            header_columns=header, footer_columns=footer, f_filename=f_filename,
        )
        job = JobSpec(
            name="hf", extract=res, transform=TransformSpec(name="t"),
            load=ResourceSpec(name="out"),
            job_type="online" if payload else "batch", input_payload_b64=payload,
        )
        names = [c.name for c in body + header + footer]
        return sorted(tuple(r) for r in extract(spark, job).select(*names).collect())

    via_file = rows(f_filename=str(path))
    assert via_file == [("01", "a", "H", "B7", "T", "2"), ("02", "b", "H", "B7", "T", "2")]
    payload = base64.b64encode(content.encode()).decode()
    assert rows(payload=payload) == via_file


def test_sql_passthrough_resource(spark):
    """A1 re-owned: the resource's sql_query runs in Spark SQL (with date
    template vars), not shipped to a foreign DB."""
    spark.read.parquet(f"{SF_SMOKE}/orders.parquet").createOrReplaceTempView(
        "orders_v"
    )
    job = JobSpec(
        name="sqlq",
        extract=ResourceSpec(
            name="q",
            etl_type="db",
            sql_query="SELECT o_orderkey, year(o_orderdate) AS y FROM orders_v "
            "WHERE year(o_orderdate) = {aaaa}",
        ),
        transform=TransformSpec(name="t", fields=(FieldSpec("o_orderkey"), FieldSpec("y"))),
        load=ResourceSpec(name="out", f_type="parquet", f_filename="/tmp/unused"),
        run_date="1995-06-01",
    )
    df = extract(spark, job)
    years = {r["y"] for r in df.select("y").distinct().collect()}
    assert years == {1995}


def test_sql_begin_end_lifecycle(spark):
    """A1 begin/end hooks: sql_begin runs (date-templated) before the
    main query with the settle delay honored; sql_end runs after the
    extract materializes — a staging-table workflow reads its own
    setup and survives its own teardown (cubicerpetl.py:288-302)."""
    import time

    spark.read.parquet(f"{SF_SMOKE}/orders.parquet").createOrReplaceTempView(
        "orders_src"
    )
    spark.sql("DROP VIEW IF EXISTS staging_{aaaa}".replace("{aaaa}", "1995"))
    t0 = time.perf_counter()
    job = JobSpec(
        name="sql-lifecycle",
        extract=ResourceSpec(
            name="q",
            etl_type="db",
            sql_begin="CREATE OR REPLACE TEMP VIEW staging_{aaaa} AS "
            "SELECT * FROM orders_src WHERE year(o_orderdate) = {aaaa}",
            sql_begin_delay=0.5,
            sql_query="SELECT o_orderkey FROM staging_{aaaa}",
            sql_end="DROP VIEW staging_{aaaa}",
        ),
        transform=TransformSpec(name="t", fields=(FieldSpec("o_orderkey"),)),
        load=ResourceSpec(name="out", f_type="parquet", f_filename="/tmp/unused"),
        run_date="1995-06-01",
    )
    df = extract(spark, job)
    assert time.perf_counter() - t0 >= 0.5  # delay honored
    # teardown already ran (begin's view is gone)...
    assert not spark.catalog.tableExists("staging_1995")
    # ...yet the extracted rows are still readable (materialized first)
    assert df.count() > 0


def test_hooks_run_in_order(spark, tmp_path):
    """K1/K2/K3 hooks: explicit DataFrame→DataFrame callables."""
    calls = []
    job = _job(tmp_path, ledger=False)
    object.__setattr__(
        job,
        "python_hooks",
        {
            "pre": lambda df: (calls.append("pre"), df.limit(100))[1],
            "post": lambda df: (calls.append("post"), df.withColumn(
                "hooked", F.lit(True)))[1],
            "end": lambda df: (calls.append("end"), df)[1],
        },
    )
    merged = run_job(spark, job)
    assert calls == ["pre", "post", "end"]
    assert merged.filter(~F.col("hooked")).count() == 0
    assert merged.count() <= 100


def test_cron_sweep_isolates_failures(spark, tmp_path):
    """§3.1 orchestration: ready→running→done transitions, one failing
    job lands in state='error' with its traceback in the ledger, and the
    sweep still completes the remaining ready jobs (unlike the
    reference's cascade, etl_cron.py:39-55)."""
    from cubicerp_client_etl_spark.connectors.xmlrpc import XmlRpcTransport
    from cubicerp_client_etl_spark.plans.interpreter import run_ready_jobs
    from cubicerp_client_etl_spark.sinks.ledger import ledger_job_id
    from tests.test_rpc_connector import _JobServer, _broken_job, _start_server

    bad_ledger = str(tmp_path / "bad_ledger")
    specs = {
        1: _job(tmp_path / "a"),
        2: _broken_job(tmp_path, "broken", bad_ledger),
        3: _job(tmp_path / "b"),
        4: _job(tmp_path / "c"),
    }
    srv, state, port = _start_server(_JobServer([
        (1, "good_a", "ready", "batch"),
        (2, "broken", "ready", "batch"),
        (3, "good_b", "ready", "batch"),
        (4, "done_already", "done", "batch"),
    ]))
    try:
        t = XmlRpcTransport(f"http://127.0.0.1:{port}", "erp", "admin", "secret")
        out = run_ready_jobs(spark, t, lambda row: specs[int(row["id"])])

        states = [state.store[jid]["state"] for jid in range(1, 5)]
        assert states == ["done", "error", "done", "done"]
        assert state.history[2] == ["ready", "running", "error"]
        assert state.history[4] == ["done"]
        # failure is in the broken job's ledger, not swallowed
        led = spark.read.parquet(bad_ledger)
        err = led.filter(F.col("level") == "error").collect()
        assert len(err) == 1 and err[0]["job_id"] == ledger_job_id("broken")
        assert "nope.parquet" in err[0]["message"]
        # completed jobs produced their sinks
        assert sorted(out) == [1, 3]
        assert out[1].count() > 0 and out[3].count() > 0
        # re-sweep is a no-op: nothing left in 'ready'
        assert run_ready_jobs(spark, t, lambda row: specs[int(row["id"])]) == {}
        assert [state.store[jid]["state"] for jid in range(1, 5)] == states
    finally:
        srv.shutdown()


def test_orc_and_xml_resource_roundtrip(spark, tmp_path):
    """A9 extension: engine-native ORC and XML resources run the full
    extract→transform→load lifecycle (XML rowTag honored both ways)."""
    src = spark.read.parquet(f"{SF_SMOKE}/nation.parquet").select(
        "n_nationkey", "n_name"
    )
    orc_in = str(tmp_path / "in_orc")
    src.write.orc(orc_in)
    xml_out = str(tmp_path / "out_xml")
    job = JobSpec(
        name="orc-xml",
        extract=ResourceSpec(name="src", f_type="orc", f_filename=orc_in),
        transform=TransformSpec(
            name="t",
            fields=(
                FieldSpec("n_nationkey"),
                FieldSpec("n_name_uc", value="upper(n_name)"),
            ),
        ),
        load=ResourceSpec(
            name="dst", f_type="xml", f_filename=xml_out, xml_row_tag="nation"
        ),
        pk_field="n_nationkey",
    )
    run_job(spark, job)
    back = (
        spark.read.format("xml").option("rowTag", "nation").load(xml_out)
    )
    got = {(r.n_nationkey, r.n_name_uc) for r in back.collect()}
    want = {(r.n_nationkey, r.n_name.upper()) for r in src.collect()}
    assert got == want
