"""DBAPI SQL sinks with per-row error isolation (SURVEY I2).

The reference's db load runs ``sql_query % row`` per row through a raw
cursor (cubicerpetl/cubicerpetl.py:466-492) — string-templating row
values into SQL text (injection by design, §4.4.5). The engine's form:
**bind parameters**, partition-parallel connections, batched commits,
and per-row error capture into the outcome frame the RPC sink returns
too — load errors are data, not exceptions (cubicerpetl.py:738-745
semantics, minus the per-row network round-trip). Both sinks are
per-chunk senders over ``sinks.ledger.ship_chunks``: one connection per
partition, closed on exit; ``model_id`` is NULL (SQL targets assign no
server id).

Works with any DBAPI-2 driver importable on the executors. Targets
with SQL savepoints (sqlite3, psycopg2, ...) get savepoint-scoped rows
with batched commits; targets without them (e.g. duckdb) are detected
per-connection and fall back to commit-per-row, which preserves row
isolation at lower throughput. A rollback that fails too is logged as
a warning. ``connect_factory`` must be a top-level callable or
otherwise picklable.

Delivery semantics: the load runs EXACTLY ONCE per call — the outcome
frame goes through ``sinks.ledger.ship_once`` inside the sink, so later
actions on the returned frame re-read the cached result instead of
re-executing the statements. Spark task retries/speculation can still
re-run a partition whose executor died mid-batch, so for
at-least-once-safe targets make ``insert_sql`` idempotent (upsert /
INSERT OR IGNORE keyed on the PK) and prefer ``spark.speculation=false``
on load jobs.

Scale posture: one connection per partition (not per row); commit every
``batch_size`` rows so a mid-partition failure re-runs bounded work;
per-row ``execute`` keeps error isolation — when the target supports
savepoints-free batch inserts and you don't need row isolation, raise
``batch_size`` and let executemany-style batching win. Write the
returned frame with sinks/ledger if you need it durable.
"""

from __future__ import annotations

import itertools
import logging
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from functools import partial
from typing import Any

import pandas as pd
from pyspark import TaskContext
from pyspark.sql import DataFrame

from cubicerp_client_etl_spark.sinks.ledger import Outcome, ship_chunks, ship_once

_log = logging.getLogger(__name__)


def _rollback(conn: Any) -> None:
    """Roll back after a failed row or chunk. A rollback that fails too
    is logged, not raised: the failure is already the outcome."""
    try:
        conn.rollback()
    except Exception as ex:  # noqa: BLE001 — the row's error is the outcome
        _log.warning("rollback failed: %s: %s", type(ex).__name__, ex)


def _supports_savepoints(cur: Any, conn: Any) -> bool:
    """Capability probe: one SAVEPOINT/RELEASE round-trip."""
    try:
        cur.execute("SAVEPOINT cap_probe")
        cur.execute("RELEASE SAVEPOINT cap_probe")
        return True
    except Exception:  # noqa: BLE001 — any failure means "no savepoints"
        _rollback(conn)
        return False


@contextmanager
def _load_session(
    connect_factory: Callable[[], Any],
    begin_sql: str | None,
    end_sql: str | None,
    begin_delay: float,
) -> Iterator[tuple]:
    """One partition's connection for ``dbapi_load``: probe savepoints,
    run ``begin_sql`` (+ delay), yield ``(conn, cursor, savepoints)``,
    run ``end_sql`` after the partition's rows; closed on exit."""
    conn = connect_factory()
    try:
        cur = conn.cursor()
        sp = _supports_savepoints(cur, conn)
        if begin_sql:
            cur.execute(begin_sql)
            conn.commit()
            if begin_delay:
                time.sleep(begin_delay)
        yield conn, cur, sp
        if end_sql:
            cur.execute(end_sql)
            conn.commit()
    finally:
        conn.close()


def dbapi_load(
    df: DataFrame,
    connect_factory: Callable[[], Any],
    insert_sql: str,
    pk_col: str,
    batch_size: int = 500,
    begin_sql: str | None = None,
    end_sql: str | None = None,
    begin_delay: float = 0.0,
) -> DataFrame:
    """Execute ``insert_sql`` (with ``?``/``%s`` placeholders matching
    df's column order) once per row, parameterized, committing every
    ``batch_size`` rows. Returns the outcome frame (one row per input
    row, ``model_id`` NULL), already materialized — the inserts ran
    exactly once by the time this returns.

    Row isolation: savepoint-scoped rows where the target has
    savepoints (probed once per connection), commit-per-row where it
    has not.

    ``begin_sql``/``end_sql``/``begin_delay`` mirror the reference's
    load-side setup/teardown (cubicerpetl.py:466-492 runs them around
    every row's query). Per-ROW execution with a per-row sleep is a
    scale-killer, so the engine form runs them once per CONNECTION
    (partition): begin → optional delay → the partition's rows → end.
    Statements take no bind parameters (setup/teardown DDL shape).
    """
    cols = df.columns
    pk_at = cols.index(pk_col)

    def send(session, chunk: pd.DataFrame) -> list[Outcome]:
        conn, cur, sp = session
        out = []
        for vals in chunk[cols].itertuples(index=False, name=None):
            pk = str(vals[pk_at])
            if sp:
                # savepoint-scoped row: a failure rolls back ONLY this
                # row, never the commit-pending chunk — a plain
                # rollback() here would silently discard rows already
                # reported as 'info'.
                cur.execute("SAVEPOINT row_sp")
                try:
                    cur.execute(insert_sql, vals)
                    cur.execute("RELEASE SAVEPOINT row_sp")
                except Exception as ex:  # noqa: BLE001 — per-row isolation
                    cur.execute("ROLLBACK TO SAVEPOINT row_sp")
                    cur.execute("RELEASE SAVEPOINT row_sp")
                    out.append((pk, None, "error", str(ex)))
                    continue
            else:
                # no savepoints on this target: commit-per-row is the
                # only way a failed row can't take committed neighbors
                # down with it.
                try:
                    cur.execute(insert_sql, vals)
                    conn.commit()
                except Exception as ex:  # noqa: BLE001 — per-row isolation
                    _rollback(conn)
                    out.append((pk, None, "error", str(ex)))
                    continue
            out.append((pk, None, "info", "Ok"))
        conn.commit()
        return out

    session = partial(_load_session, connect_factory, begin_sql, end_sql, begin_delay)
    return ship_once(ship_chunks(df, session, send, batch_size))


def merge_statements(
    mode: str,
    table: str,
    stage: str,
    pk: str,
    cols: list[str],
    dialect: str = "upsert",
) -> list[str]:
    """The mode-derived fold statement(s) ``dbapi_merge`` runs after
    staging a batch — a pure function so every (mode x dialect) cell is
    golden-testable without a database.

    ``dialect="upsert"`` (default): ``ON CONFLICT`` / ``UPDATE ... FROM``
    forms for targets without MERGE (duckdb 1.0, sqlite, Postgres).
    ``dialect="merge"``: ANSI/SQL:2003 ``MERGE INTO`` forms for targets
    WITH it (DuckDB >= 1.4, Spark SQL on Delta/Iceberg, most MPP
    warehouses) — one statement per mode except ``delete``/``insert``
    whose replace/append halves stay separate statements by design
    (MERGE cannot append already-matched rows):

    * ``insert``     -> plain ``INSERT ... SELECT`` (both dialects —
                        append is dialect-free)
    * ``update``     -> ``WHEN MATCHED THEN UPDATE / WHEN NOT MATCHED
                        THEN INSERT``
    * ``noupdate``   -> ``WHEN NOT MATCHED THEN INSERT``
    * ``onlyupdate`` -> ``WHEN MATCHED THEN UPDATE``
    * ``delete``     -> ``WHEN MATCHED THEN DELETE`` then ``INSERT``
                        (staged replaces matched)
    """
    from cubicerp_client_etl_spark.operators.merge import REPROCESS_MODES

    if mode not in REPROCESS_MODES:
        raise ValueError(f"unknown reprocess mode: {mode!r}")
    if dialect not in ("upsert", "merge"):
        raise ValueError(f"unknown dialect: {dialect!r}")
    collist = ", ".join(cols)
    non_pk = [c for c in cols if c != pk]
    append = f"INSERT INTO {table} ({collist}) SELECT {collist} FROM {stage}"
    if mode == "insert":
        return [append]
    if dialect == "upsert":
        if mode == "update":
            sets = ", ".join(f"{c} = excluded.{c}" for c in non_pk)
            return [f"{append} ON CONFLICT ({pk}) DO UPDATE SET {sets}"]
        if mode == "noupdate":
            return [f"{append} ON CONFLICT ({pk}) DO NOTHING"]
        if mode == "onlyupdate":
            sets = ", ".join(f"{c} = s.{c}" for c in non_pk)
            return [
                f"UPDATE {table} SET {sets} FROM {stage} s "
                f"WHERE {table}.{pk} = s.{pk}"
            ]
        return [  # delete: staged replaces matched
            f"DELETE FROM {table} WHERE {pk} IN (SELECT {pk} FROM {stage})",
            append,
        ]
    head = (
        f"MERGE INTO {table} USING {stage} s ON {table}.{pk} = s.{pk}"
    )
    upd = "WHEN MATCHED THEN UPDATE SET " + ", ".join(
        f"{c} = s.{c}" for c in non_pk
    )
    ins = (
        f"WHEN NOT MATCHED THEN INSERT ({collist}) VALUES ("
        + ", ".join(f"s.{c}" for c in cols)
        + ")"
    )
    if mode == "update":
        return [f"{head} {upd} {ins}"]
    if mode == "noupdate":
        return [f"{head} {ins}"]
    if mode == "onlyupdate":
        return [f"{head} {upd}"]
    return [f"{head} WHEN MATCHED THEN DELETE", append]


_STAGE = "cubicerp_merge_stage"


@contextmanager
def _merge_session(
    connect_factory: Callable[[], Any], table: str, collist: str
) -> Iterator[tuple]:
    """One partition's connection for ``dbapi_merge``: (re)create the
    session-temp stage table with the target's column types, yield
    ``(conn, cursor, chunk label)``; closed on exit."""
    conn = connect_factory()
    try:
        cur = conn.cursor()
        cur.execute(f"DROP TABLE IF EXISTS {_STAGE}")
        cur.execute(
            f"CREATE TEMP TABLE {_STAGE} AS SELECT {collist} FROM {table} WHERE 1=0"
        )
        conn.commit()
        part = TaskContext.get().partitionId()
        yield conn, cur, (f"batch:{part}:{n}" for n in itertools.count())
    finally:
        conn.close()


def dbapi_merge(
    df: DataFrame,
    connect_factory: Callable[[], Any],
    table: str,
    pk: str,
    mode: str,
    batch_size: int = 5000,
    dialect: str = "upsert",
) -> DataFrame:
    """Apply one I1 reprocess mode to a LIVE DBAPI target table as
    SET-BASED SQL — the ``MERGE INTO`` expression of
    ``operators.merge.apply_reprocess_mode`` against a genuine
    external sink instead of DataFrame staging.

    Per partition: one connection; each chunk of ``batch_size`` rows is
    staged into a session-temp table with ``executemany`` and then
    folded into the target with the mode-derived statement(s) of
    ``merge_statements`` — never a round-trip per row (the reference's
    shape, cubicerpetl.py:494-537, at one-RPC-per-row).

    ``dialect`` picks the fold-statement family: the default
    ``"upsert"`` emits ``ON CONFLICT``/``UPDATE ... FROM`` forms for targets without
    MERGE (duckdb 1.0, sqlite, Postgres); ``"merge"`` emits one ANSI
    ``MERGE INTO`` statement per mode for engines with it (DuckDB >=
    1.4, Spark SQL on Delta/Iceberg, most MPP warehouses — none ship in
    this container, so the merge dialect is golden-pinned per cell and
    matrix-tested through a grammar-level MERGE interpreter in
    tests/test_dbapi_sink.py). ``update``/``noupdate`` under the upsert
    dialect require a PRIMARY KEY or unique index on ``pk`` (that's
    what ON CONFLICT arbitrates on).

    Returns the materialized outcome frame with ONE row per chunk —
    ``pk`` is ``batch:<partition>:<chunk>``, a failed chunk rolls back
    whole (set-based statements trade per-row granularity for not
    paying per-row round-trips; use ``dbapi_load`` when row-level
    error isolation matters more than throughput).

    Single-writer embedded targets (duckdb/sqlite files) should get a
    ``df.coalesce(1)``; real JDBC warehouses take partition-parallel
    writers as-is.
    """
    cols = df.columns
    if pk not in cols:
        raise ValueError(f"pk column {pk!r} not in frame: {cols}")
    collist = ", ".join(cols)
    ph = ", ".join(["?"] * len(cols))
    statements = merge_statements(mode, table, _STAGE, pk, cols, dialect)

    def send(session, chunk: pd.DataFrame) -> list[Outcome]:
        conn, cur, labels = session
        rows = list(chunk[cols].itertuples(index=False, name=None))
        label = next(labels)
        try:
            cur.execute(f"DELETE FROM {_STAGE}")
            cur.executemany(f"INSERT INTO {_STAGE} ({collist}) VALUES ({ph})", rows)
            for stmt in statements:
                cur.execute(stmt)
            conn.commit()
        except Exception as ex:  # noqa: BLE001 — chunk isolation
            _rollback(conn)
            return [(label, None, "error", str(ex))]
        return [(label, None, "info", f"Ok ({len(rows)} rows, {mode})")]

    session = partial(_merge_session, connect_factory, table, collist)
    return ship_once(ship_chunks(df, session, send, batch_size))
