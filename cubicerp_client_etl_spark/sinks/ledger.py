"""Run-ledger sink and the external sinks' shipping path (SURVEY I1, I2,
I7, C4, D2).

The reference logs one ``etl.log`` row per processed row over RPC —
one network round-trip each (cubicerpetl/cubicerpetl.py:783-811) — and
the ledger doubles as the engine's only persistent state (create-vs-
update recovery, :658-671). Here the ledger is an append-only Parquet
table written once per batch: schema matches the reference's fields
(job/server/resource/model/model_id/pk/level/message/check/amount) plus
a run timestamp, and reconciliation accumulators (D2) are one aggregate
over it instead of driver-side counters.

Every external sink (``connectors.rpc.rpc_apply_actions``,
``sinks.dbapi.dbapi_load``/``dbapi_merge``) ships through
``ship_chunks`` + ``ship_once`` and returns one frame,
``OUTCOME_SCHEMA``, that ``build_ledger`` projects into ledger rows; a
failed row is an ``error`` outcome, not an aborted job
(cubicerpetl.py:738-745).
"""

from __future__ import annotations

import zlib
from collections.abc import Callable, Iterator
from contextlib import AbstractContextManager
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from cubicerp_client_etl_spark.compilers.sqltext import ident, literal

LEDGER_COLUMNS = (
    "job_id",
    "server_id",
    "resource_id",
    "model",
    "model_id",
    "pk",
    "level",
    "message",
    "check",
    "amount",
    "ts",
)

OUTCOME_SCHEMA = "pk string, model_id long, level string, message string"

# one outcome: (pk, server id or None, "info" | "error", message)
Outcome = tuple[str, Any, str, str]


def ship_chunks(
    df: DataFrame,
    session: Callable[[], AbstractContextManager],
    send: Callable[[Any, pd.DataFrame], list[Outcome]],
    batch_size: int,
) -> DataFrame:
    """Ship ``df`` to an external target: per partition, ``session()``
    opens one client (its exit closes it) and ``send(client, chunk)``
    runs on every ``batch_size`` rows of each Arrow batch, returning
    that chunk's outcomes. Lazy; see ``ship_once``."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        with session() as client:
            for pdf in batches:
                for lo in range(0, len(pdf), batch_size):
                    out = pd.DataFrame(
                        send(client, pdf.iloc[lo : lo + batch_size]),
                        columns=["pk", "model_id", "level", "message"],
                    )
                    yield out.astype({"model_id": "Int64"})

    return df.mapInPandas(run, schema=OUTCOME_SCHEMA)


def ship_once(outcomes: DataFrame) -> DataFrame:
    """Run a sink's shipping exactly once: persist the outcome frame and
    force it, so later actions re-read the cached outcomes instead of
    re-sending every row (a PK-less target would get duplicates).
    MEMORY_AND_DISK spills instead of evicting. The caller unpersists."""
    outcomes = outcomes.persist(StorageLevel.MEMORY_AND_DISK)
    outcomes.count()
    return outcomes


def ledger_job_id(job_name: str) -> int:
    """The ledger's 31-bit job id: a digest of the job name, so every
    run of a job appends under the same id in every process."""
    return zlib.crc32(job_name.encode("utf-8")) & 0x7FFFFFFF


def build_ledger(
    rows: DataFrame,
    job_id: int,
    pk_col: str,
    level_col: str = None,
    message_col: str = None,
    model: str = "",
    model_id_col: str = None,
    amount_col: str = None,
) -> DataFrame:
    """Project a processed batch into ledger rows (row outcome capture
    without exceptions: level/message come from action columns that the
    merge/load operators tag, not from try/except-per-row). One
    ``selectExpr``: the projection reaches the JVM as SQL text."""

    def col_or(name: str | None, default: str) -> str:
        return ident(name) if name else default

    return rows.selectExpr(
        f"CAST({job_id} AS BIGINT) AS job_id",
        "CAST(NULL AS BIGINT) AS server_id",
        "CAST(NULL AS BIGINT) AS resource_id",
        f"{literal(model)} AS model",
        f"CAST({col_or(model_id_col, 'NULL')} AS BIGINT) AS model_id",
        f"CAST({ident(pk_col)} AS STRING) AS pk",
        f"{col_or(level_col, literal('info'))} AS level",
        f"{col_or(message_col, literal('Ok'))} AS message",
        "true AS `check`",
        f"CAST({col_or(amount_col, 'NULL')} AS DOUBLE) AS amount",
        "current_timestamp() AS ts",
    )


def write_ledger(ledger_rows: DataFrame, path: str) -> None:
    """Append-mode write — the ledger only ever grows; readers take the
    latest success per pk (operators.merge.recover_ids_from_ledger)."""
    ledger_rows.write.mode("append").parquet(path)


def reconciliation(ledger_rows: DataFrame) -> DataFrame:
    """D2: per-level row counts and amount totals for a run."""
    return ledger_rows.groupBy("job_id", "level").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("amount").alias("total_amount"),
        F.min(F.col("check").cast("int")).cast("boolean").alias("all_checked"),
    )
