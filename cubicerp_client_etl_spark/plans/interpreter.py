"""Spec interpreter: JobSpec → DataFrame lineage → sink (SURVEY §3.1
re-architected).

The reference's run loop (etl_cron.py:39-55) fetches metadata, pulls all
rows into client memory, chunks them 100 at a time, and round-trips the
network per loaded row. Here the whole job is ONE lazy DataFrame plan:

    extract (reader per ResourceSpec) → transform (Column expressions,
    mappings, domain filters) → load (merge-mode sink + ledger append)

No driver-side row loops, no chunking (partitions are the unit of
parallelism), state transitions on the driver only. The 100-row-chunk
tail-drop bug (etl_cron.py:49-50) has no analogue — there is no chunking
to get wrong. The package's one cron sweep is ``run_ready_jobs``
(ready→running→done|error over the live transport, per-job isolation,
loopback-server-tested). Every ledger row, from a load or a failed
run, goes through ``sinks.ledger.build_ledger`` under one stable job id.
Every csv/txt file, inline payload and load obeys the rules of the one
text codec (``sources.lines.check_text_resource``), checked while the
plan is built: files and payloads are read by
``sources.lines.read_text_resource``, a plain csv file by
``spark.read.csv``, and the spec's ``ColumnSpec``s go to the codec and
the fixed-width writer as they are.
"""

from __future__ import annotations

import logging
import os
import traceback
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from cubicerp_client_etl_spark.compilers.domain import compile_domain
from cubicerp_client_etl_spark.compilers.sqltext import ident, literal
from cubicerp_client_etl_spark.compilers.template import render_date_template
from cubicerp_client_etl_spark.operators.lookups import value_mapping_sql
from cubicerp_client_etl_spark.operators.merge import apply_reprocess_mode
from cubicerp_client_etl_spark.plans.spec import JobSpec, ResourceSpec, TransformSpec
from cubicerp_client_etl_spark.sinks.ledger import (
    build_ledger,
    ledger_job_id,
    ship_once,
    write_ledger,
)
from cubicerp_client_etl_spark.sinks.dbf import write_dbf
from cubicerp_client_etl_spark.sinks.writers import (
    write_csv_resource,
    write_fixed_width,
    write_parquet,
)
from cubicerp_client_etl_spark.sources.lines import check_text_resource, read_text_resource
from cubicerp_client_etl_spark.checkpointing import pin_eager

_log = logging.getLogger(__name__)


def _ftp_server(res: ResourceSpec):
    """The resource's ServerSpec when its files live on an FTP server."""
    srv = res.server
    if srv is not None and srv.etl_type == "fs" and srv.fs_protocol == "ftp":
        return srv
    return None


def _resolve_file(
    spark: SparkSession, res: ResourceSpec, run_date: str, load: bool = False
) -> tuple[str, str]:
    """``(path, encoding)`` of a file resource, for extract and load
    alike. The path is ``f_filename`` date-rendered (H4/H5) and, on a
    'file' server, joined under its ``fs_path`` (the reference's
    fs_path/filename, SURVEY A7; an absolute f_filename stays as is).
    The encoding is the resource's, else the server's, else UTF-8; a
    csv/txt resource's comes back under Spark's charset name once the
    text codec's rules hold for it (``check_text_resource``), so a
    resource that breaks them raises before any Spark job or merge."""
    path = render_date_template(res.f_filename, run_date) if res.f_filename else ""
    srv = res.server
    if path and srv is not None and srv.etl_type == "fs" and srv.fs_protocol == "file":
        path = os.path.join(srv.fs_path, path)
    encoding = res.encoding or (srv.encoding if srv is not None else "") or "UTF-8"
    if res.f_type in ("csv", "txt"):
        encoding = check_text_resource(spark, res, encoding, load)
    return path, encoding


@contextmanager
def _described(spark: SparkSession, description: str):
    """Label the Spark jobs of one job-path action with
    ``description`` (``setJobDescription``), then restore the caller's."""
    sc = spark.sparkContext
    previous = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(description)
    try:
        yield
    finally:
        sc.setJobDescription(previous)


def _ftp_transport(server):
    from cubicerp_client_etl_spark.transports.ftp import FtpTransport

    return FtpTransport(
        host=server.fs_host,
        port=server.fs_port,
        user=server.login,
        password=server.password,
        spool_dir=server.spool_dir,
    )


def _rpc_transport_for(res: ResourceSpec):
    """Transport for an etl_type='rpc' resource: a custom
    'module:factory' (rpc_transport, the K4 surface) wins; otherwise
    the resource's ServerSpec maps onto the stdlib Odoo-wire client
    (database = section name, cbc_xmlrpc.get_connection's shape)."""
    if res.rpc_transport:
        from cubicerp_client_etl_spark.connectors.rpc import load_transport

        return load_transport(res.rpc_transport, res.rpc_transport_config)
    if res.server is None or res.server.etl_type != "rpc":
        raise ValueError(
            f"rpc resource {res.name!r} needs rpc_transport or an "
            "etl_type='rpc' ServerSpec"
        )
    from cubicerp_client_etl_spark.connectors.xmlrpc import XmlRpcTransport

    return XmlRpcTransport.from_server_spec(res.server, database=res.server.name)


# --------------------------------------------------------------------- extract
def extract(spark: SparkSession, job: JobSpec) -> DataFrame:
    """Resource → DataFrame (SURVEY A3/A4/A6/A9 dispatch, date-templated
    paths per H4/H5; A7 FTP staging; A1 begin/end hooks)."""
    res = job.extract
    path, encoding = _resolve_file(spark, res, job.run_date)
    ftp_server = _ftp_server(res)
    if ftp_server is not None and res.f_filename:
        # A7: stage the remote file into the local spool; everything
        # downstream is the normal parallel read over the staged copy.
        path = _ftp_transport(ftp_server).fetch(res.f_filename, job.run_date)

    delegated = res.etl_type == "rpc" and res.rpc_model
    if delegated:
        # A2 declared form: the scan runs through the live transport;
        # the domain ships to the server VERBATIM (the reference's
        # delegation, cubicerpetl.py:314-328) — no local re-filter.
        from cubicerp_client_etl_spark.connectors.rpc import rpc_extract

        df = rpc_extract(
            spark,
            _rpc_transport_for(res),
            res.rpc_model,
            domain=list(res.domain),
            fields=[c.name for c in res.columns],
            schema=res.rpc_schema or None,
        )
    elif job.job_type == "online" and job.input_payload_b64 is not None:
        # A6: the inline payload goes through the file codec itself,
        # header/footer included
        df = read_text_resource(spark, res, encoding, payload_b64=job.input_payload_b64)
    elif res.etl_type == "db" and res.sql_query:
        # A1 re-owned: the reference ships this SQL to the source DB
        # wrapped in optional begin/end statements with a settle delay
        # (cubicerpetl.py:288-302); we execute the same lifecycle in
        # Spark SQL over registered views.
        if res.sql_begin:
            spark.sql(render_date_template(res.sql_begin, job.run_date)).collect()
            if res.sql_begin_delay:
                import time as _time

                _time.sleep(res.sql_begin_delay)
        df = spark.sql(render_date_template(res.sql_query, job.run_date))
        if res.sql_end:
            # the reference runs sql_end after fetchall(); a lazy plan
            # must materialize first or teardown would race the read —
            # localCheckpoint pins the rows, then teardown runs.
            df = df.transform(pin_eager)
            spark.sql(render_date_template(res.sql_end, job.run_date)).collect()
    elif res.f_type == "parquet":
        df = spark.read.parquet(path)
    elif res.f_type == "orc":
        df = spark.read.orc(path)
    elif res.f_type == "xml":
        df = spark.read.format("xml").option("rowTag", res.xml_row_tag).load(path)
    elif res.f_type == "csv" and not (res.header_columns or res.footer_columns):
        # plain csv needs no line order: the splittable native source,
        # read by the declared columns (a missing field is NULL, an extra
        # one dropped, as on the codec path; no first-line job to count
        # the columns)
        schema = ", ".join(f"{ident(c.name)} STRING" for c in res.columns)
        df = spark.read.csv(
            path, schema=schema, sep=res.txt_separator, quote=res.txt_quote,
            encoding=encoding, header=False,
        )
    elif res.f_type in ("csv", "txt"):
        df = read_text_resource(spark, res, encoding, path=path)
    elif res.f_type == "dbf":
        from cubicerp_client_etl_spark.sources.dbf import read_dbf

        df = read_dbf(spark, path)
    else:
        raise ValueError(f"unsupported extract resource: {res}")

    if res.domain and not delegated:
        df = df.filter(compile_domain(list(res.domain)))
    # B3: defaults fill NULL holes (reference merges defaults *under*
    # extracted values, cubicerpetl.py:330-335 — same outcome over NULLs),
    # in one projection
    defaults = res.row_default_value
    if defaults:
        cols = df.columns
        kept = [
            f"coalesce({ident(c)}, {literal(defaults[c])}) AS {ident(c)}"
            if c in defaults
            else ident(c)
            for c in cols
        ]
        added = [
            f"{literal(v)} AS {ident(k)}" for k, v in defaults.items() if k not in cols
        ]
        df = df.selectExpr(*kept, *added)
    return df


# ------------------------------------------------------------------- transform
def transform(df: DataFrame, spec: TransformSpec, job: JobSpec) -> DataFrame:
    """Field program → one select (B1/B2/B9/C1, K-hooks).

    Expressions are SQL strings — declarative and optimizer-visible
    (never exec'd Python, SURVEY §4.4.6) — and the whole field program,
    mapped fields included, reaches the JVM as one ``selectExpr``. A
    mapped field decodes inside that select: its mapping is a literal
    map expression (``value_mapping_sql``), not a frame to join. A
    ``field_name`` (or a bare field's own name) is one source column.
    """
    if "pre" in job.python_hooks:  # K1 — explicit, registered, typed
        df = job.python_hooks["pre"](df)

    mappings = {m.name: m for m in spec.mappings}
    out_cols = []
    for f_ in spec.fields:
        if f_.value:
            # the newline ends a trailing -- comment before the paren
            expr = f"({render_date_template(f_.value, job.run_date)}\n)"
        else:
            expr = ident(f_.field_name or f_.name)
        if f_.mapping:
            m = mappings[f_.mapping]
            expr = value_mapping_sql(
                expr, m.lines, m.default, m.return_null or f_.search_null
            )
        out_cols.append(f"{expr} AS {ident(f_.name)}")

    out = df.selectExpr(*out_cols)

    if spec.filter_domain:  # B7 continue_on, declaratively
        out = out.filter(compile_domain(list(spec.filter_domain)))
    if spec.limit is not None:  # B7 break_on re-specced as a bound
        out = out.limit(spec.limit)
    if "post" in job.python_hooks:  # K2
        out = job.python_hooks["post"](out)
    return out


# ------------------------------------------------------------------------ load
def load_sink(
    df: DataFrame, job: JobSpec, existing_target: DataFrame | None = None
) -> DataFrame:
    """Apply the reprocess-mode merge against the current target state,
    write per the load resource, append the ledger (I1/I7/C4). Returns
    the merged frame (with the per-row action tag) for inspection."""
    res = job.load
    mode = job.transform.reprocess
    path, encoding = _resolve_file(df.sparkSession, res, job.run_date, load=True)
    # C4 shape: the target's recovered server ids (model_id) are load
    # METADATA, not merge payload — pull the (pk -> model_id) map out
    # before the merge (staged rows never carry one) and re-attach it
    # for the RPC load's write/unlink routing.
    id_map = None
    if (
        existing_target is not None
        and "model_id" in existing_target.columns
        and "model_id" not in df.columns
    ):
        id_map = existing_target.select(job.pk_field, "model_id")
        existing_target = existing_target.drop("model_id")
    if existing_target is not None:
        merged = apply_reprocess_mode(existing_target, df, job.pk_field, mode)
    else:
        merged = df.withColumn("action", F.lit("inserted"))
    # the merged frame feeds up to THREE actions (load write, ledger
    # append, and whatever the caller does with the returned frame);
    # without a persist each action re-parses the extract and re-runs
    # the merge join from scratch — measured 3x the whole pipeline on
    # the q005 lifecycle. MEMORY_AND_DISK spills instead of evicting,
    # so at scale this trades one extra materialization for N-1 full
    # recomputes of the source scan + merge.
    merged = merged.persist(StorageLevel.MEMORY_AND_DISK)

    if res.etl_type == "rpc" and res.rpc_model:
        # I1 over RPC (the reference's primary load, cubicerpetl.py:
        # 494-537): merged rows route to create/write/unlink by their
        # action tag through the live transport; the returned ledger
        # carries the SERVER's per-row outcome, which is what the run
        # ledger records (not the plan's optimistic action).
        from cubicerp_client_etl_spark.connectors.rpc import rpc_apply_actions

        out = merged
        if id_map is not None and "model_id" not in out.columns:
            out = out.join(id_map, job.pk_field, "left")
        if "model_id" not in out.columns:
            out = out.withColumn("model_id", F.lit(None).cast("long"))
        with _described(merged.sparkSession, f"etl {job.name}: rpc ship"):
            rpc_ledger = ship_once(
                rpc_apply_actions(
                    out,
                    lambda res=res: _rpc_transport_for(res),
                    res.rpc_model,
                    pk_col=job.pk_field,
                )
            )
        _append_ledger(
            job, rpc_ledger, "pk", level_col="level", message_col="message",
            model_id_col="model_id",
        )
        rpc_ledger.unpersist()
        return merged

    ftp_server = _ftp_server(res)
    if ftp_server is not None:
        # I6: render the single-file output into the local spool, then
        # put it to the remote endpoint after the write completes.
        if res.f_type in ("parquet", "orc", "xml"):
            raise ValueError(
                "FTP load supports single-file formats (csv/txt/dbf); "
                f"{res.f_type} is a directory layout — use a distributed FS"
            )
        transport = _ftp_transport(ftp_server)
        remote_name = path or res.f_filename
        path = os.path.join(transport.spool_dir, os.path.basename(remote_name))
    to_write = merged.drop("action")
    pk_order = [job.pk_field] if job.pk_field in to_write.columns else None
    with _described(merged.sparkSession, f"etl {job.name}: load write"):
        _write_file(to_write, res, path, encoding, pk_order, ftp_server is not None)

    if ftp_server is not None:
        upload = path
        if res.f_type != "dbf":
            # the Spark writers produce a directory; the single part
            # file inside (single_file/ordered mode ⇒ exactly one) is
            # the upload
            import glob as _glob

            parts = sorted(_glob.glob(f"{path}/part-*"))
            if len(parts) != 1:
                raise RuntimeError(
                    f"FTP load expected exactly one part file in {path}, "
                    f"found {len(parts)}"
                )
            upload = parts[0]
        transport.put(upload, remote_name)

    _append_ledger(job, merged, job.pk_field, message_col="action")
    return merged


def _write_file(
    df: DataFrame,
    res: ResourceSpec,
    path: str,
    encoding: str,
    order_by: list[str] | None,
    single_file: bool,
) -> None:
    """Write ``df`` to ``path`` per the load resource's file type."""
    if res.f_type == "parquet":
        write_parquet(df, path)
    elif res.f_type == "orc":
        df.write.mode("overwrite").orc(path)
    elif res.f_type == "xml":
        (
            df.write.mode("overwrite")
            .option("rowTag", res.xml_row_tag)
            .format("xml")
            .save(path)
        )
    elif res.f_type == "csv":
        write_csv_resource(
            df, path, sep=res.txt_separator, quote=res.txt_quote,
            header=res.txt_header, single_file=single_file, encoding=encoding,
        )
    elif res.f_type == "txt":
        write_fixed_width(df, path, list(res.columns), order_by=order_by)
    elif res.f_type == "dbf":
        # I5: one dBase file, streamed driver-side in pk order (always
        # latin-1, whatever the resolved encoding)
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        write_dbf(df.orderBy(*order_by) if order_by else df, path)
    else:
        raise ValueError(f"unsupported load resource: {res}")


def _append_ledger(job: JobSpec, rows: DataFrame, pk_col: str, **cols) -> None:
    """Append ``rows`` to the job's run ledger (if it has one) under the
    job's stable ledger id — the one writer for loads and failed runs."""
    if job.ledger_path:
        ledger = build_ledger(
            rows, ledger_job_id(job.name), pk_col, model=job.load.name, **cols
        )
        with _described(rows.sparkSession, f"etl {job.name}: ledger append"):
            write_ledger(ledger, job.ledger_path)


def run_job(
    spark: SparkSession, job: JobSpec, existing_target: DataFrame | None = None
) -> DataFrame:
    """The full lifecycle: extract → transform → load (§3.1 steps 4-7
    collapsed into one plan; the ready→running→done state machine is the
    caller's concern — the engine is pure dataflow)."""
    staged = transform(extract(spark, job), job.transform, job)
    if "end" in job.python_hooks:  # K3 batch-end hook
        staged = job.python_hooks["end"](staged)
    return load_sink(staged, job, existing_target)


def run_ready_jobs(
    spark: SparkSession,
    transport,
    job_builder,
    existing_target_for=None,
    job_id: int | None = None,
    job_model: str = "etl.job",
) -> dict[int, DataFrame]:
    """The reference's cron sweep (etl_cron.run, :39-55) re-owned: ask
    the server for the ready batch jobs (or only ``job_id`` when one is
    pinned — the reference's explicit override, cubicerpetl.py:76), flip
    each to running via ``action_start``, run the full declared
    lifecycle, flip to done via ``action_done``.

    ``job_builder(job_row) -> JobSpec`` compiles the server's job
    metadata into the engine's declarative spec (deployment-specific —
    the reference reads extract_resource_id/transform_id/... relations;
    a test or deployment supplies the mapping). ``existing_target_for
    (job_row) -> DataFrame | None`` supplies the reprocess target.

    Each job is isolated, unlike the reference's cascade: a job that
    raises is written to state 'error' (never left 'running'), its
    traceback goes to its run ledger and the log, and the sweep moves
    on — the per-row discipline of cubicerpetl.py:738-745 lifted to
    job granularity.

    The 100-row chunk loop (etl_cron.py:46-53, with its tail-drop bug
    at :49-50) has no analogue: run_job is one lazy plan and partitions
    are the unit of parallelism. State transitions happen on the
    driver, one RPC each — metadata-sized, like the reference.

    Returns {job id: merged frame} for the jobs that completed.
    """
    if job_id is not None:
        domain = [("id", "=", job_id)]
    else:
        domain = [("state", "=", "ready"), ("type", "=", "batch")]
    rows = transport.search_read(job_model, domain, ["id", "name", "state"])
    ran: dict[int, DataFrame] = {}
    for row in rows:
        jid = int(row["id"])
        transport.execute_kw(job_model, "action_start", [[jid]])
        job = None
        try:
            job = job_builder(row)
            existing = existing_target_for(row) if existing_target_for else None
            ran[jid] = run_job(spark, job, existing_target=existing)
        except Exception:  # noqa: BLE001 -- recorded, and the sweep goes on
            tb = traceback.format_exc()
            _log.warning("etl job %s failed:\n%s", jid, tb)
            transport.execute_kw(job_model, "write", [[jid], {"state": "error"}])
            if job is not None:
                error_row = spark.range(0, 1, 1, 1).select(
                    F.lit(None).cast("string").alias("pk"),
                    F.lit("error").alias("level"),
                    F.lit(tb).alias("message"),
                )
                _append_ledger(
                    job, error_row, "pk", level_col="level", message_col="message"
                )
            continue
        transport.execute_kw(job_model, "action_done", [[jid]])
    return ran
