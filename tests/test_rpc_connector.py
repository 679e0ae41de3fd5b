"""RPC connector tests (SURVEY A2/I1 transport, §7.2.9): mock-server
round trip, batched partition-parallel load, per-row error isolation."""

from __future__ import annotations

from pyspark.sql import functions as F

from cubicerp_client_etl_spark.connectors.mock import MockTransport
from cubicerp_client_etl_spark.connectors.rpc import rpc_apply_actions, rpc_extract


def _creates(df):
    """Plain rows as a load sees them: every row tagged ``inserted``
    with no recovered server id, so each one ships as a create."""
    return df.withColumn("action", F.lit("inserted"))


def test_rpc_extract_mock_roundtrip(spark):
    df = rpc_extract(
        spark,
        MockTransport(),
        "res.partner",
        domain=[("active", "=", True)],
        fields=["id", "name"],
        schema="id long, name string",
    )
    assert df.count() == 7
    assert df.filter(F.col("name") == "p0").count() == 1


def test_rpc_create_batches_and_isolates_errors(spark):
    rows = [(i, float(i if i % 5 else -i)) for i in range(1, 251)]
    df = spark.createDataFrame(rows, "k int, v double").repartition(4)
    ledger = rpc_apply_actions(
        _creates(df), MockTransport, "res.partner", pk_col="k", batch_size=100
    )
    got = ledger.collect()
    assert len(got) == 250  # no tail-drop: every row gets an outcome
    errors = [r for r in got if r["level"] == "error"]
    infos = [r for r in got if r["level"] == "info"]
    assert len(errors) == 50  # multiples of 5 fail (v negative)
    assert all(r["model_id"] is None for r in errors)
    assert all("bad v=" in r["message"] for r in errors)
    assert all(r["model_id"] == int(r["pk"]) * 2 for r in infos)


def test_rpc_create_respects_batch_size(spark):
    # single partition so the mock's call log is observable via an
    # accumulator-free check: route results through the ledger count
    df = spark.createDataFrame([(i, 1.0) for i in range(7)], "k int, v double").coalesce(1)
    ledger = rpc_apply_actions(
        _creates(df), MockTransport, "res.partner", pk_col="k", batch_size=3
    )
    assert ledger.count() == 7  # 3+3+1 — remainder batch not dropped


def test_rpc_python_datasource_parallel_slices(spark):
    """A2 as a Spark 4 Python DataSource: executor-side reads, id-range
    slicing, domain passthrough — union is partitioning-independent."""
    from cubicerp_client_etl_spark.sources.rpc_datasource import RpcModelDataSource

    spark.dataSource.register(RpcModelDataSource)

    def read(n_parts: int, domain: str = "[]"):
        return (
            spark.read.format("rpc_model")
            .option(
                "transport",
                "cubicerp_client_etl_spark.connectors.mock:range_mock_factory",
            )
            .option("model", "res.partner")
            .option("domain", domain)
            .option("fields", "id,name,amount")
            .option("schema", "id long, name string, amount double")
            .option("id_lo", "0")
            .option("id_hi", "103")
            .option("num_partitions", str(n_parts))
            .load()
        )

    df8 = read(8)
    assert df8.rdd.getNumPartitions() == 8
    rows = sorted((r.id, r.name, r.amount) for r in df8.collect())
    assert len(rows) == 103
    assert rows[5] == (5, "rec5", 7.5)
    # same union regardless of slicing
    assert rows == sorted((r.id, r.name, r.amount) for r in read(1).collect())
    # user domain composes with the slice predicate on the executor side
    odd = read(8, domain='[["parity", "=", 1]]')
    assert sorted(r.id for r in odd.collect()) == list(range(1, 103, 2))


# ---------------------------------------------------------------------------
# LIVE transport: a real XML-RPC server (stdlib SimpleXMLRPCServer,
# loopback socket, Odoo wire protocol: /xmlrpc/2/common authenticate +
# /xmlrpc/2/object execute_kw) driven end-to-end through
# connectors.xmlrpc.XmlRpcTransport — including executor-side calls
# from inside mapInPandas. This covers the transport LAYER the mock
# tests stub out (serialization, faults, auth, per-row degradation).
# ---------------------------------------------------------------------------


def _matches(row: dict, domain) -> bool:
    """AND of (field, op, value) leaves, the subset the tests ship."""

    def hit(f, op, v):
        x = row.get(f)
        if op == "=":
            return x == v
        if op == "!=":
            return x != v
        if op == ">=":
            return x is not None and x >= v
        if op == "<":
            return x is not None and x < v
        raise ValueError(op)

    return all(hit(*leaf) for leaf in domain)


class _OdooLikeServer:
    """Minimal in-memory Odoo-protocol endpoint for loopback tests."""

    DB, LOGIN, PWD, UID = "erp", "admin", "secret", 7

    def __init__(self):
        self.store: dict[int, dict] = {
            1: {"id": 1, "name": "p1", "active": True},
            2: {"id": 2, "name": "p2", "active": False},
            3: {"id": 3, "name": "p3", "active": True},
        }
        self.next_id = 100
        self.create_calls: list[int] = []  # rows per create call

    def authenticate(self, db, login, password, _ctx):
        ok = (db, login, password) == (self.DB, self.LOGIN, self.PWD)
        return self.UID if ok else 0

    def execute_kw(self, db, uid, password, model, method, args, kwargs):
        import xmlrpc.client

        if (db, uid, password) != (self.DB, self.UID, self.PWD):
            raise xmlrpc.client.Fault(3, "AccessDenied")
        if method == "search_read":
            fields = kwargs.get("fields") or []
            return [
                {f: row.get(f) for f in fields} if fields else dict(row)
                for row in self.store.values()
                if _matches(row, args[0])
            ]
        if method == "create":
            vals_list = args[0]
            self.create_calls.append(len(vals_list))
            if any(r.get("v", 0) < 0 for r in vals_list):
                raise xmlrpc.client.Fault(
                    2, f"ValidationError: negative v in batch"
                )
            ids = []
            for r in vals_list:
                rid = self.next_id
                self.next_id += 1
                self.store[rid] = {"id": rid, **r}
                ids.append(rid)
            return ids
        if method == "write":
            ids, vals = args[0], args[1]
            for rid in ids:
                if rid not in self.store:
                    raise xmlrpc.client.Fault(4, f"missing id {rid}")
                if vals.get("v", 0) < 0:
                    raise xmlrpc.client.Fault(2, "ValidationError: negative v")
                self.store[rid].update(vals)
            return True
        if method == "unlink":
            for rid in args[0]:
                if rid not in self.store:
                    raise xmlrpc.client.Fault(4, f"missing id {rid}")
            for rid in args[0]:
                del self.store[rid]
            return True
        raise xmlrpc.client.Fault(1, f"unknown method {method}")


def _start_server(state=None):
    import threading
    from socketserver import ThreadingMixIn
    from xmlrpc.server import SimpleXMLRPCRequestHandler, SimpleXMLRPCServer

    class Handler(SimpleXMLRPCRequestHandler):
        rpc_paths = ("/xmlrpc/2/common", "/xmlrpc/2/object")

        def log_message(self, *a):  # keep pytest output clean
            pass

    class Server(ThreadingMixIn, SimpleXMLRPCServer):
        daemon_threads = True

    state = state or _OdooLikeServer()
    srv = Server(("127.0.0.1", 0), requestHandler=Handler, allow_none=True,
                 logRequests=False)
    srv.register_instance(state)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    return srv, state, srv.server_address[1]


def test_live_xmlrpc_extract_and_auth(spark):
    from cubicerp_client_etl_spark.connectors.rpc import rpc_extract
    from cubicerp_client_etl_spark.connectors.xmlrpc import XmlRpcTransport

    srv, state, port = _start_server()
    try:
        t = XmlRpcTransport(f"http://127.0.0.1:{port}", "erp", "admin", "secret")
        df = rpc_extract(
            spark, t, "res.partner", domain=[("active", "=", True)],
            fields=["id", "name"], schema="id long, name string",
        )
        rows = {(r.id, r.name) for r in df.collect()}
        assert rows == {(1, "p1"), (3, "p3")}

        import pytest

        bad = XmlRpcTransport(f"http://127.0.0.1:{port}", "erp", "admin", "wrong")
        with pytest.raises(PermissionError):
            bad.search_read("res.partner", [], [])
    finally:
        srv.shutdown()


def test_live_xmlrpc_load_batch_and_per_row_degradation(spark):
    """rpc_apply_actions creates through the REAL socket from executor
    workers: a clean Arrow chunk lands as ONE batched create; a chunk
    with a poisoned row degrades to per-row creates, the bad row turns
    into a ledger error and its neighbors still commit."""
    from cubicerp_client_etl_spark.connectors.xmlrpc import XmlRpcTransport

    srv, state, port = _start_server()
    try:
        url = f"http://127.0.0.1:{port}"

        def factory(u=url):
            return XmlRpcTransport(u, "erp", "admin", "secret")

        df = spark.createDataFrame(
            [(1, 10), (2, 20), (3, -5), (4, 40)], "k long, v long"
        ).coalesce(1)
        ledger = rpc_apply_actions(
            _creates(df), factory, "res.partner", "k", batch_size=10
        )
        rows = {r.pk: (r.level, r.model_id) for r in ledger.collect()}
        assert rows["3"][0] == "error" and rows["3"][1] is None
        assert all(rows[k][0] == "info" for k in ("1", "2", "4"))
        created = [r for r in state.store.values() if "v" in r]
        assert sorted(r["v"] for r in created) == [10, 20, 40]
        # one failed batch attempt then per-row degradation (4 singles)
        assert state.create_calls[0] == 4
        assert state.create_calls[1:] == [1, 1, 1, 1]
    finally:
        srv.shutdown()


def test_live_xmlrpc_from_ini_bootstrap(spark, tmp_path):
    """The reference's cbc_xmlrpc.get_connection shape: host/port/
    username/password from an INI section -> live transport."""
    from cubicerp_client_etl_spark.config import server_spec_from_ini
    from cubicerp_client_etl_spark.connectors.xmlrpc import XmlRpcTransport

    srv, state, port = _start_server()
    try:
        ini = tmp_path / "etl.ini"
        ini.write_text(
            f"[erp]\netl_type = rpc\nhost = 127.0.0.1\nport = {port}\n"
            "username = admin\npassword = secret\n"
        )
        spec = server_spec_from_ini("erp", path=str(ini))
        t = XmlRpcTransport.from_server_spec(spec, database="erp")
        got = t.search_read("res.partner", [("active", "=", True)], ["id"])
        assert sorted(r["id"] for r in got) == [1, 3]
    finally:
        srv.shutdown()


def test_live_xmlrpc_partitioned_datasource(spark):
    """A2 at full posture over a REAL socket: the rpc_model Python
    DataSource splits the id space into slices, each EXECUTOR builds
    its own authenticated client from the transport_config option
    (json_config_factory) and fetches only its slice — union equals
    the unpartitioned read."""
    import json as _json

    from cubicerp_client_etl_spark.sources.rpc_datasource import (
        RpcModelDataSource,
    )

    srv, state, port = _start_server()
    try:
        # a contiguous id range with a filterable attribute
        for i in range(10, 30):
            state.store[i] = {"id": i, "name": f"rec{i}", "active": i % 2 == 0}
        spark.dataSource.register(RpcModelDataSource)
        cfg = _json.dumps(
            {
                "url": f"http://127.0.0.1:{port}",
                "database": "erp",
                "login": "admin",
                "password": "secret",
            }
        )
        df = (
            spark.read.format("rpc_model")
            .option(
                "transport",
                "cubicerp_client_etl_spark.connectors.xmlrpc:json_config_factory",
            )
            .option("transport_config", cfg)
            .option("model", "res.partner")
            .option("domain", '[["active", "=", true]]')
            .option("fields", "id,name")
            .option("schema", "id long, name string")
            .option("id_lo", "10")
            .option("id_hi", "30")
            .option("num_partitions", "4")
            .load()
        )
        assert df.rdd.getNumPartitions() == 4
        got = sorted(r.id for r in df.collect())
        assert got == [i for i in range(10, 30) if i % 2 == 0]
    finally:
        srv.shutdown()


def test_live_xmlrpc_apply_actions_matrix(spark):
    """I1 over RPC, end-to-end live: merged rows route to the
    reference's verbs by action tag — create (no recovered id), write
    (recovered id), unlink (deleted), no-op (kept) — with a failed
    write captured as a ledger error while its neighbors commit."""
    from cubicerp_client_etl_spark.connectors.rpc import rpc_apply_actions
    from cubicerp_client_etl_spark.connectors.xmlrpc import XmlRpcTransport

    srv, state, port = _start_server()
    try:
        # pre-existing target records the merge "recovered" ids for
        state.store[50] = {"id": 50, "name": "old50", "v": 1}
        state.store[51] = {"id": 51, "name": "old51", "v": 1}
        state.store[52] = {"id": 52, "name": "old52", "v": 1}
        url = f"http://127.0.0.1:{port}"

        def factory(u=url):
            return XmlRpcTransport(u, "erp", "admin", "secret")

        merged = spark.createDataFrame(
            [
                ("a", None, "inserted", "newA", 10),
                ("b", 50, "updated", "newB", 20),
                ("c", 51, "updated", "newC", -9),  # server rejects v<0
                ("d", 52, "deleted", "oldD", 0),
                ("e", None, "kept", "keepE", 5),
            ],
            "pk string, model_id long, action string, name string, v long",
        ).coalesce(1)
        ledger = rpc_apply_actions(merged, factory, "res.partner", "pk")
        rows = {r.pk: (r.level, r.message) for r in ledger.collect()}
        assert rows["a"][0] == "info" and "create" in rows["a"][1]
        assert rows["b"][0] == "info" and "write" in rows["b"][1]
        assert rows["c"][0] == "error" and "negative v" in rows["c"][1]
        assert rows["d"][0] == "info" and "unlink" in rows["d"][1]
        assert rows["e"][0] == "info" and "kept" in rows["e"][1]
        assert state.store[50]["name"] == "newB"  # write applied
        assert state.store[51]["name"] == "old51"  # failed write untouched
        assert 52 not in state.store  # unlinked
        created = [r for r in state.store.values() if r.get("name") == "newA"]
        assert len(created) == 1  # created exactly once
    finally:
        srv.shutdown()


def test_declared_rpc_job_lifecycle_end_to_end(spark, tmp_path):
    """The reference's PRIMARY job shape (§3.1: RPC extract → field
    program → reprocess merge → RPC load + ledger) as ONE declared
    JobSpec against the live loopback server: the domain delegates to
    the server, the merge tags actions, the load routes verbs through
    the transport, and the run ledger records the SERVER's per-row
    outcomes."""
    from pyspark.sql import functions as F

    from cubicerp_client_etl_spark.plans.interpreter import run_job
    from cubicerp_client_etl_spark.plans.spec import (
        ColumnSpec,
        FieldSpec,
        JobSpec,
        ResourceSpec,
        ServerSpec,
        TransformSpec,
    )

    srv, state, port = _start_server()
    try:
        # source model rows on the server: id 10..15, some inactive
        for i in range(10, 16):
            state.store[i] = {
                "id": i,
                "name": f"src{i}",
                "amount": float(i),
                "active": i != 12,
            }
        server = ServerSpec(
            name="erp",
            etl_type="rpc",
            fs_host="127.0.0.1",
            fs_port=port,
            login="admin",
            password="secret",
        )
        job = JobSpec(
            name="rpc_lifecycle",
            extract=ResourceSpec(
                name="partners_in",
                etl_type="rpc",
                rpc_model="res.partner",
                rpc_schema="id long, name string, amount double",
                columns=(
                    ColumnSpec("id"),
                    ColumnSpec("name"),
                    ColumnSpec("amount"),
                ),
                domain=(("active", "=", True), ("id", ">=", 10)),
                server=server,
            ),
            transform=TransformSpec(
                name="decorate",
                fields=(
                    FieldSpec("pk", value="CAST(id AS STRING)"),
                    FieldSpec("name", value="UPPER(name)"),
                    FieldSpec("v", value="CAST(amount AS BIGINT)"),
                ),
                reprocess="update",
            ),
            load=ResourceSpec(
                name="partners_out",
                etl_type="rpc",
                rpc_model="res.partner",
                server=server,
            ),
            pk_field="pk",
            ledger_path=str(tmp_path / "ledger"),
        )
        # pre-existing target rows for ids 10-11 (so they become
        # 'updated' with recovered server ids 50/51; the rest insert)
        state.store[50] = {"id": 50, "name": "tgt10", "v": 0}
        state.store[51] = {"id": 51, "name": "tgt11", "v": 0}
        existing = spark.createDataFrame(
            [("10", "tgt10", 0, 50), ("11", "tgt11", 0, 51)],
            "pk string, name string, v long, model_id long",
        )
        merged = run_job(spark, job, existing_target=existing)
        acts = {r.pk: r.action for r in merged.collect()}
        # id 12 is inactive → excluded by the DELEGATED domain
        assert "12" not in acts
        assert acts["10"] == acts["11"] == "updated"
        assert all(acts[str(i)] == "inserted" for i in (13, 14, 15))
        # server state: recovered ids 50/51 written, new rows created
        assert state.store[50]["name"] == "SRC10"
        assert state.store[51]["name"] == "SRC11"
        created = sorted(
            r["name"] for r in state.store.values()
            if str(r.get("name", "")).startswith("SRC1")
            and r.get("id") not in (50, 51)
        )
        assert created == ["SRC13", "SRC14", "SRC15"]
        # run ledger records the server's per-row outcomes
        ledger = spark.read.parquet(str(tmp_path / "ledger"))
        lrows = {r.pk: r.level for r in ledger.collect()}
        assert set(lrows) == {"10", "11", "13", "14", "15"}
        assert all(v == "info" for v in lrows.values())
    finally:
        srv.shutdown()


class _JobServer(_OdooLikeServer):
    """The loopback server plus the ``etl.job`` registry: the sweep's
    search_read honors its domain, ``action_start``/``action_done``
    move a job's state, and every state a job passes through is kept
    in ``history``."""

    def __init__(self, jobs):
        super().__init__()
        self.history: dict[int, list[str]] = {}
        for jid, name, state, type_ in jobs:
            self.add_job(jid, name, state, type_)

    def add_job(self, jid, name, state, type_="batch"):
        self.store[jid] = {"id": jid, "name": name, "state": state,
                           "type": type_, "model": "etl.job"}
        self.history[jid] = [state]

    def execute_kw(self, db, uid, pwd, model, method, args, kwargs):
        import xmlrpc.client

        if model != "etl.job":
            return super().execute_kw(db, uid, pwd, model, method, args, kwargs)
        if method == "search_read":
            fields = kwargs.get("fields") or []
            return [
                {f: r.get(f) for f in fields}
                for r in self.store.values()
                if r.get("model") == "etl.job" and _matches(r, args[0])
            ]
        if method in ("action_start", "action_done", "write"):
            new = {"action_start": "running", "action_done": "done"}.get(method)
            for rid in args[0]:
                if rid not in self.store:
                    raise xmlrpc.client.Fault(4, f"missing id {rid}")
                self.store[rid]["state"] = new or args[1]["state"]
                self.history[rid].append(self.store[rid]["state"])
            return True
        raise xmlrpc.client.Fault(1, f"unknown etl.job method {method}")


def _csv_job(spark, tmp_path, jid, ledger_path=None):
    """A tiny CSV-in → CSV-out lifecycle named after the server job."""
    from cubicerp_client_etl_spark.plans.spec import (
        ColumnSpec,
        FieldSpec,
        JobSpec,
        ResourceSpec,
        TransformSpec,
    )
    from cubicerp_client_etl_spark.sinks.writers import write_csv_resource

    src = tmp_path / f"in_{jid}"
    write_csv_resource(
        spark.createDataFrame(
            [(str(jid), "x"), (str(jid + 1), "y")], "k string, s string"
        ),
        str(src),
    )
    return JobSpec(
        name=f"job{jid}",
        extract=ResourceSpec(
            name="in",
            f_type="csv",
            f_filename=str(src),
            columns=(ColumnSpec("k"), ColumnSpec("s")),
        ),
        transform=TransformSpec(
            name="t",
            fields=(
                FieldSpec("pk", value="CAST(k AS STRING)"),
                FieldSpec("s", field_name="s"),
            ),
            reprocess="insert",
        ),
        load=ResourceSpec(
            name="out", f_type="csv", f_filename=str(tmp_path / f"out_{jid}")
        ),
        pk_field="pk",
        ledger_path=ledger_path,
    )


def _broken_job(tmp_path, name, ledger_path):
    """A job whose extract reads a parquet path that does not exist."""
    from cubicerp_client_etl_spark.plans.spec import (
        FieldSpec,
        JobSpec,
        ResourceSpec,
        TransformSpec,
    )

    return JobSpec(
        name=name,
        extract=ResourceSpec(
            name="missing", f_type="parquet",
            f_filename=str(tmp_path / "nope.parquet"),
        ),
        transform=TransformSpec(name="t", fields=(FieldSpec("id", field_name="x"),)),
        load=ResourceSpec(name="out", f_type="csv",
                          f_filename=str(tmp_path / "bad_out")),
        pk_field="id",
        ledger_path=ledger_path,
    )


def test_cron_sweep_runs_only_ready_jobs(spark, tmp_path):
    """etl_cron parity against the live server: the sweep asks for the
    ready BATCH jobs only (ready -> running -> done via action_start/
    action_done model calls), so done, draft and online jobs are never
    started. A job that raises ends in state 'error' (never left
    'running') with its traceback in its ledger, the later ready jobs
    still run, a re-sweep is a no-op, and the job_id override runs a
    pinned job regardless of state."""
    from cubicerp_client_etl_spark.connectors.xmlrpc import XmlRpcTransport
    from cubicerp_client_etl_spark.plans.interpreter import run_ready_jobs
    from cubicerp_client_etl_spark.sinks.ledger import LEDGER_COLUMNS, ledger_job_id

    state = _JobServer([
        (201, "job_a", "ready", "batch"),
        (202, "job_b", "done", "batch"),
        (203, "job_c", "draft", "batch"),
        (204, "job_d", "ready", "online"),
        (205, "broken", "ready", "batch"),
        (206, "job_f", "ready", "batch"),
    ])
    srv, state, port = _start_server(state)
    try:
        started: list[int] = []
        bad_ledger = str(tmp_path / "bad_ledger")

        def job_builder(row):
            jid = int(row["id"])
            started.append(jid)
            if row["name"] == "broken":
                return _broken_job(tmp_path, "broken", bad_ledger)
            return _csv_job(spark, tmp_path, jid)

        t = XmlRpcTransport(f"http://127.0.0.1:{port}", "erp", "admin", "secret")
        ran = run_ready_jobs(spark, t, job_builder)
        assert sorted(ran) == [201, 206]
        assert started == [201, 205, 206]
        final = {jid: state.store[jid]["state"] for jid in range(201, 207)}
        assert final == {201: "done", 202: "done", 203: "draft",
                         204: "ready", 205: "error", 206: "done"}
        assert state.history[205] == ["ready", "running", "error"]
        assert state.history[202] == ["done"]  # never restarted
        assert ran[201].count() == 2 and ran[206].count() == 2
        # the failure is in the broken job's ledger, not swallowed
        led = spark.read.parquet(bad_ledger)
        assert tuple(led.columns) == LEDGER_COLUMNS
        err = led.collect()
        assert len(err) == 1 and err[0]["level"] == "error"
        assert err[0]["job_id"] == ledger_job_id("broken")
        assert "nope.parquet" in err[0]["message"]

        # re-sweep is a no-op: nothing left in 'ready' that is batch
        assert run_ready_jobs(spark, t, job_builder) == {}
        assert started == [201, 205, 206]
        assert {jid: state.store[jid]["state"] for jid in range(201, 207)} == final

        # job_id override runs a non-ready job (the reference's
        # explicit-job path skips the state check)
        ran2 = run_ready_jobs(spark, t, job_builder, job_id=203)
        assert sorted(ran2) == [203]
        assert state.store[203]["state"] == "done"
    finally:
        srv.shutdown()


def test_sweep_ledger_keeps_one_schema_across_success_and_failure(spark, tmp_path):
    """A job's run ledger holds both its load rows and a later failed
    run's error row: one directory, read back with exactly the ledger
    columns and one job id, the failure at level 'error'."""
    from cubicerp_client_etl_spark.connectors.xmlrpc import XmlRpcTransport
    from cubicerp_client_etl_spark.plans.interpreter import run_ready_jobs
    from cubicerp_client_etl_spark.sinks.ledger import LEDGER_COLUMNS, ledger_job_id

    srv, state, port = _start_server(_JobServer([(301, "nightly", "ready", "batch")]))
    try:
        ledger = str(tmp_path / "ledger")
        builds = iter([
            _csv_job(spark, tmp_path, 301, ledger_path=ledger),
            _broken_job(tmp_path, "job301", ledger),
        ])
        t = XmlRpcTransport(f"http://127.0.0.1:{port}", "erp", "admin", "secret")
        assert sorted(run_ready_jobs(spark, t, lambda row: next(builds))) == [301]
        state.add_job(301, "nightly", "ready")  # the server re-queues it
        assert run_ready_jobs(spark, t, lambda row: next(builds)) == {}
        assert state.store[301]["state"] == "error"

        led = spark.read.parquet(ledger)
        assert tuple(led.columns) == LEDGER_COLUMNS
        rows = led.collect()
        assert {r["job_id"] for r in rows} == {ledger_job_id("job301")}
        assert sorted(r["level"] for r in rows) == ["error", "info", "info"]
        assert sorted(r["pk"] for r in rows if r["level"] == "info") == ["301", "302"]
    finally:
        srv.shutdown()


def test_ledger_job_id_is_stable_across_hash_seeds():
    """The ledger's job id is a digest of the job name, not Python's
    per-process randomized ``hash``: two interpreters with different
    hash seeds give the same id."""
    import os
    import subprocess
    import sys

    from cubicerp_client_etl_spark.sinks.ledger import ledger_job_id

    code = (
        "from cubicerp_client_etl_spark.sinks.ledger import ledger_job_id;"
        "print(ledger_job_id('nightly_invoices'))"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ids = {
        subprocess.run(
            [sys.executable, "-c", code],
            env={**os.environ, "PYTHONHASHSEED": seed},
            cwd=root,
            capture_output=True,
            text=True,
            check=True,
        ).stdout.strip()
        for seed in ("1", "2")
    }
    assert ids == {str(ledger_job_id("nightly_invoices"))}
    assert 0 <= ledger_job_id("nightly_invoices") < 2**31
