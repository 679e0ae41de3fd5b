"""The planning layer's cost: building an ETL job's plan (no Spark job
runs) must take a few py4j round trips, not one per Column node.

The four job shapes mirror the ``etl_jobs`` benchmark's: a csv and a
fixed-width txt extract with header and footer, a parquet extract, and
an online job's inline csv payload; each with a domain filter, SQL field
expressions and a value-mapping decode, a reprocess merge against an
existing target (the online job tags its rows ``inserted``), the ledger
projection, and for txt the fixed-width render."""

from __future__ import annotations

import base64
import threading

import pytest
from py4j.clientserver import ClientServerConnection
from pyspark.sql import functions as F

from cubicerp_client_etl_spark.operators.merge import apply_reprocess_mode
from cubicerp_client_etl_spark.plans import interpreter as it
from cubicerp_client_etl_spark.plans.spec import (
    ColumnSpec,
    FieldSpec,
    JobSpec,
    MappingSpec,
    ResourceSpec,
    TransformSpec,
)
from cubicerp_client_etl_spark.sinks.ledger import build_ledger, ledger_job_id
from cubicerp_client_etl_spark.sinks.writers import render_fixed_width_lines

RAW = ("pk", "orderkey", "quantity", "price", "discount", "flag", "shipmode")
ROWS = [
    ("1", "10", "3", "12.50", "0.05", "A", "AIR"),
    ("2", "11", "1", "3.00", "0.00", "N", "FOB"),
    ("3", "12", "2", "7.25", "0.10", "R", "MAIL"),  # the domain drops flag R
]
TXT_IN = ((1, 4), (5, 4), (9, 3), (12, 8), (20, 5), (25, 1), (26, 8))  # (position, length)
TXT_OUT = (("pk", 4, "ljust", " "), ("orderkey", 6, "rjust", "0"), ("qty", 3, "rjust", "0"),
           ("net", 10, "rjust", " "), ("flag", 1, "ljust", " "), ("mode", 8, "center", "-"),
           ("batch", 8, "ljust", " "))
DOMAIN = (("flag", "!=", "R"),)

# see test_job_plan_builds_in_few_round_trips
COLUMN_API_CALLS = {"csv": 1627, "txt": 2514, "parquet": 1213, "online": 956}


def _transform(mode: str) -> TransformSpec:
    return TransformSpec(
        name="t",
        fields=(
            FieldSpec("pk", field_name="pk"),
            FieldSpec("orderkey", value="CAST(orderkey AS BIGINT)"),
            FieldSpec("qty", value="CAST(quantity AS INT)"),
            FieldSpec("net", value="CAST(ROUND(CAST(price AS DECIMAL(12,2)) * "
                                   "(1 - CAST(discount AS DECIMAL(4,2))), 2) AS STRING)"),
            FieldSpec("flag", field_name="flag"),
            FieldSpec("mode", field_name="shipmode", mapping="modes"),
            FieldSpec("batch", value="'B1'"),
        ),
        reprocess=mode,
        mappings=(
            MappingSpec(
                "modes",
                lines=(("AIR", "Air"), ("MAIL", "Mail"), ("SHIP", "Ship"),
                       ("TRUCK", "Truck"), ("RAIL", "Rail")),
                default="Other",
            ),
        ),
    )


def _shapes(spark, tmp_path) -> dict:
    """{shape: (job, existing target or None)} over small written inputs."""
    csv_text = "H;B1;2024-01-01\n" + "".join(";".join(r) + "\n" for r in ROWS) + "T;2\n"
    txt_text = "HB1      \n" + "".join(
        "".join(v.ljust(n) for v, (_, n) in zip(r, TXT_IN)) + "\n" for r in ROWS
    ) + "T2       \n"
    (tmp_path / "in.csv").write_text(csv_text)
    (tmp_path / "in.txt").write_text(txt_text)
    staged = spark.createDataFrame(ROWS, ", ".join(f"{c} string" for c in RAW))
    staged.write.parquet(str(tmp_path / "in.parquet"))
    spark.createDataFrame(
        [("1", 10, 3, "11.88", "A", "Air", "B0")],
        "pk string, orderkey long, qty int, net string, flag string, mode string, "
        "batch string",
    ).write.parquet(str(tmp_path / "target"))
    target = spark.read.parquet(str(tmp_path / "target"))

    cols = tuple(ColumnSpec(c) for c in RAW)
    extracts = {
        "csv": ResourceSpec(
            name="in_csv", f_type="csv", f_filename=str(tmp_path / "in.csv"),
            txt_separator=";", columns=cols,
            header_columns=(ColumnSpec("hrec"), ColumnSpec("hbatch"), ColumnSpec("hdate")),
            footer_columns=(ColumnSpec("trec"), ColumnSpec("n_lines")),
            domain=DOMAIN,
        ),
        "txt": ResourceSpec(
            name="in_txt", f_type="txt", f_filename=str(tmp_path / "in.txt"),
            columns=tuple(
                ColumnSpec(c, txt_position=p, txt_length=n)
                for c, (p, n) in zip(RAW, TXT_IN)
            ),
            header_columns=(ColumnSpec("hrec", txt_position=1, txt_length=1),
                            ColumnSpec("hbatch", txt_position=2, txt_length=8)),
            footer_columns=(ColumnSpec("trec", txt_position=1, txt_length=1),
                            ColumnSpec("n_lines", txt_position=2, txt_length=8)),
            domain=DOMAIN,
        ),
        "parquet": ResourceSpec(
            name="in_parquet", f_type="parquet", f_filename=str(tmp_path / "in.parquet"),
            domain=DOMAIN,
        ),
        "online": ResourceSpec(name="in_online", f_type="csv", txt_separator=";",
                               columns=cols, domain=DOMAIN),
    }
    modes = {"csv": "update", "txt": "noupdate", "parquet": "delete", "online": "insert"}
    load_cols = tuple(ColumnSpec(n, txt_length=w, txt_align=a, txt_fill_char=f)
                      for n, w, a, f in TXT_OUT)
    shapes = {}
    for kind, res in extracts.items():
        online = kind == "online"
        job = JobSpec(
            name=f"plan_{kind}",
            job_type="online" if online else "batch",
            input_payload_b64=base64.b64encode(
                "".join(";".join(r) + "\n" for r in ROWS).encode()
            ).decode() if online else None,
            extract=res,
            transform=_transform(modes[kind]),
            load=ResourceSpec(name=f"out_{kind}", f_type="txt" if kind == "txt" else "csv",
                              columns=load_cols if kind == "txt" else ()),
            pk_field="pk",
        )
        shapes[kind] = (job, None if online else target)
    return shapes


def _build(spark, job: JobSpec, target) -> list:
    """extract → transform → merge → ledger projection (→ fixed-width
    render): every plan the job path builds, no action."""
    staged = it.transform(it.extract(spark, job), job.transform, job)
    if target is not None:
        merged = apply_reprocess_mode(target, staged, job.pk_field, job.transform.reprocess)
    else:
        merged = staged.withColumn("action", F.lit("inserted"))
    out = [merged, build_ledger(merged, ledger_job_id(job.name), job.pk_field,
                                message_col="action", model=job.load.name)]
    if job.load.f_type == "txt":
        out.append(render_fixed_width_lines(merged.drop("action"), job.load.columns))
    return out


def count_plan_calls(spark, tmp_path) -> dict:
    """py4j round trips per shape while its plans are built: the second
    of two builds, so one-time set-up is not counted."""
    shapes = _shapes(spark, tmp_path)
    calls = [0]
    send = ClientServerConnection.send_command
    builder = threading.get_ident()

    def counted(self, *args, **kwargs):
        # only the building thread's: py4j's own thread frees JVM
        # objects of dead proxies whenever the collector runs
        calls[0] += threading.get_ident() == builder
        return send(self, *args, **kwargs)

    counts = {}
    for kind, (job, target) in shapes.items():
        _build(spark, job, target)
        ClientServerConnection.send_command = counted
        try:
            before = calls[0]
            _build(spark, job, target)
            counts[kind] = calls[0] - before
        finally:
            ClientServerConnection.send_command = send
    return counts


@pytest.fixture(scope="module")
def plan_calls(spark, tmp_path_factory):
    return count_plan_calls(spark, tmp_path_factory.mktemp("plan_calls"))


@pytest.mark.parametrize("kind", sorted(COLUMN_API_CALLS))
def test_job_plan_builds_in_few_round_trips(plan_calls, kind):
    """At 6b3fb6e, where the job path built every Column node through
    py4j, these shapes took csv 1627, txt 2514, parquet 1213 and online
    956 round trips (``COLUMN_API_CALLS``); with the builders writing SQL text
    they take 136, 148, 83 and 125. The budget is a quarter of the old
    count."""
    assert plan_calls[kind] > 0, "the round-trip counter saw no py4j call"
    assert plan_calls[kind] <= COLUMN_API_CALLS[kind] // 4, plan_calls


def test_plain_csv_plan_runs_no_spark_job(spark, tmp_path):
    """A plain csv extract (no header, no footer) reads by the declared
    columns: building its job's plans runs no Spark job, where taking
    the column count from the file's first line would run one."""
    (tmp_path / "in.csv").write_text("".join(";".join(r) + "\n" for r in ROWS))
    res = ResourceSpec(name="in_plain", f_type="csv", f_filename=str(tmp_path / "in.csv"),
                       txt_separator=";", columns=tuple(ColumnSpec(c) for c in RAW),
                       domain=DOMAIN)
    job = JobSpec(name="plan_plain_csv", extract=res, transform=_transform("insert"),
                  load=ResourceSpec(name="out_plain", f_type="csv"), pk_field="pk")
    sc = spark.sparkContext
    group = "plan_plain_csv"
    sc.setJobGroup(group, "plan build only")
    try:
        _build(spark, job, None)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
