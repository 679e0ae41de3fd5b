"""A7/I6 — FTP transport: staged fetch/put against a local stub server
(no pyftpdlib in the container), date-templated names, and the
job-level wiring (extract stages the remote file before the parallel
read; load renders locally then uploads)."""

from __future__ import annotations

import os

import pytest
from ftp_stub import StubFtpServer

from cubicerp_client_etl_spark.config import server_spec_from_ini
from cubicerp_client_etl_spark.plans.interpreter import run_job
from cubicerp_client_etl_spark.plans.spec import (
    ColumnSpec,
    FieldSpec,
    JobSpec,
    ResourceSpec,
    ServerSpec,
    TransformSpec,
)
from cubicerp_client_etl_spark.sources.dbf import read_dbf
from cubicerp_client_etl_spark.transports.ftp import FtpTransport


def _ftp_server_spec(srv, spool) -> ServerSpec:
    return ServerSpec(
        name="legacy-ftp",
        etl_type="fs",
        fs_protocol="ftp",
        fs_host="127.0.0.1",
        fs_port=srv.port,
        login="u",
        password="p",
        spool_dir=str(spool),
    )


def test_ftp_fetch_put_roundtrip(tmp_path):
    root = tmp_path / "remote"
    root.mkdir()
    (root / "in_2024_03.csv").write_bytes(b"1,a\n2,b\n")
    spool = tmp_path / "spool"
    spool.mkdir()
    with StubFtpServer(str(root)) as srv:
        t = FtpTransport(
            "127.0.0.1", srv.port, "u", "p", spool_dir=str(spool)
        )
        # date-templated fetch (reference vocabulary: aaaa/mm/dd)
        local = t.fetch("in_{aaaa}_{mm}.csv", run_date="2024-03-15")
        assert open(local, "rb").read() == b"1,a\n2,b\n"
        # put a new file back, templated name
        out = tmp_path / "out.txt"
        out.write_bytes(b"payload")
        remote = t.put(str(out), "out_{dd}.txt", run_date="2024-03-15")
        assert remote == "out_15.txt"
        assert (root / "out_15.txt").read_bytes() == b"payload"
        assert "out_15.txt" in t.listdir()


@pytest.mark.parametrize("load_type", ["csv", "dbf"])
def test_ftp_job_extract_and_load(spark, tmp_path, load_type):
    """End-to-end: extract a CSV from FTP, transform, load a CSV (or a
    single-file DBF) back to FTP — the reference's fs_protocol='ftp'
    lifecycle."""
    root = tmp_path / "remote"
    root.mkdir()
    (root / "src_2024.csv").write_text("1,apple\n2,banana\n3,cherry\n")
    spool = tmp_path / "spool"
    spool.mkdir()
    with StubFtpServer(str(root)) as srv:
        server = _ftp_server_spec(srv, spool)
        job = JobSpec(
            name="ftp-job",
            extract=ResourceSpec(
                name="src",
                f_type="csv",
                f_filename="src_{aaaa}.csv",
                columns=(ColumnSpec("id"), ColumnSpec("fruit")),
                server=server,
            ),
            transform=TransformSpec(
                name="t",
                fields=(
                    FieldSpec("id", field_name="id"),
                    FieldSpec("fruit_uc", value="upper(fruit)"),
                ),
            ),
            load=ResourceSpec(
                name="dst",
                f_type=load_type,
                f_filename=f"dst_{{aaaa}}.{load_type}",
                server=server,
            ),
            run_date="2024-06-01",
            pk_field="id",
        )
        run_job(spark, job)
        uploaded = root / f"dst_2024.{load_type}"
        assert uploaded.exists()
        if load_type == "csv":
            body = uploaded.read_text().strip().splitlines()
            assert sorted(body) == ["1,APPLE", "2,BANANA", "3,CHERRY"]
        else:
            back = read_dbf(spark, str(uploaded)).collect()
            assert [(r.id, r.fruit_uc) for r in back] == [
                ("1", "APPLE"),
                ("2", "BANANA"),
                ("3", "CHERRY"),
            ]


def test_ini_bootstrap_builds_server_spec(tmp_path, monkeypatch):
    ini = tmp_path / "config" / "etl.ini"
    os.makedirs(ini.parent)
    ini.write_text(
        "[legacy]\n"
        "etl_type = fs\n"
        "fs_protocol = ftp\n"
        "host = ftp.example.test\n"
        "port = 2121\n"
        "username = loader\n"
        "password = hunter2\n"
    )
    monkeypatch.setenv("ETL_INI_CONFIG_PWD", str(tmp_path))
    spec = server_spec_from_ini("legacy")
    assert spec.fs_protocol == "ftp"
    assert spec.fs_host == "ftp.example.test"
    assert spec.fs_port == 2121
    assert spec.login == "loader"
    assert spec.password == "hunter2"
    # explicit override wins (reference argument precedence)
    spec2 = server_spec_from_ini("legacy", login="other")
    assert spec2.login == "other"
