"""RPC source/sink connector (SURVEY A2 / I1 transport / I7 capture).

The reference talks to its server one row at a time: ``create``/``write``
per record plus one more round-trip per log line
(cubicerpetl/cubicerpetl.py:739,759,811) — throughput is bounded by
network latency. Here the transport is batched and partition-parallel:

* source (A2): the transport's ``search_read`` runs once on the driver
  (metadata-sized results — the reference's model too) and becomes a
  DataFrame; large extracts should land as files/JDBC instead.
* sink (I1): ``rpc_apply_actions`` ships each Arrow batch to the
  transport from inside ``mapInPandas`` — executors call the remote API
  in parallel, ``batch_size`` rows per call, each row routed to
  create/write/unlink by its merge action (a plain load is every row
  tagged ``inserted`` with no ``model_id``: batched creates). Per-ROW
  failures are captured as ledger rows (level='error') instead of
  aborting the job, preserving the reference's error-isolation
  semantics (:738-745) without try/except-per-row round-trips.

The transport is a caller-supplied factory (pickled to executors, one
client per partition — connection reuse the reference only had for
metadata). No network library is baked in: openerplib/odoolib-style
clients, HTTP sessions, or the in-memory mock used by the tests all fit
the two-method protocol below.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any, Callable, Protocol, Sequence

import pandas as pd
from pyspark.sql import DataFrame, SparkSession


class RpcTransport(Protocol):
    """Minimal client protocol (duck-typed; matches what an Odoo-style
    library exposes after login)."""

    def search_read(
        self, model: str, domain: Sequence, fields: Sequence[str]
    ) -> list[dict]: ...

    def create_batch(self, model: str, rows: list[dict]) -> list[dict]:
        """Returns one result dict per input row:
        {'ok': bool, 'id': int | None, 'error': str | None}."""
        ...


def rpc_extract(
    spark: SparkSession,
    transport: RpcTransport,
    model: str,
    domain: Sequence = (),
    fields: Sequence[str] = (),
    schema: str | None = None,
) -> DataFrame:
    """A2: model scan through the transport. The domain ships to the
    server verbatim (the reference's delegation semantics); projection
    is the declared field list (B1)."""
    rows = transport.search_read(model, list(domain), list(fields))
    if schema:
        return spark.createDataFrame(rows, schema=schema)  # type: ignore[arg-type]
    return spark.createDataFrame(rows)  # type: ignore[arg-type]


def rpc_apply_actions(
    df: DataFrame,
    transport_factory: Callable[[], Any],
    model: str,
    pk_col: str,
    id_col: str = "model_id",
    action_col: str = "action",
    batch_size: int = 100,
) -> DataFrame:
    """I1 over RPC: route each merged row to the reference's verb by
    its reprocess ACTION tag (operators.merge.apply_reprocess_mode
    output) — ``inserted``/``updated`` rows with a recovered id get
    ``write``, rows without get ``create``, ``deleted`` rows get
    ``unlink``, ``kept`` rows ship nothing (cubicerpetl.py:494-537's
    update mode: write with recovered id AND create without, unlink
    for delete — batched per Arrow chunk instead of one RPC per row).

    Returns the ledger frame ``(pk, model_id, level, message)``;
    executor-parallel, one transport client per partition.
    """
    cols = [c for c in df.columns if c not in (action_col, id_col)]

    def send(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        client = transport_factory()
        for pdf in batches:
            for start in range(0, len(pdf), batch_size):
                chunk = pdf.iloc[start : start + batch_size]
                pks, ids, levels, msgs = [], [], [], []

                def emit(pk, result, verb):
                    pks.append(str(pk))
                    ids.append(result.get("id") if result.get("ok") else None)
                    levels.append("info" if result.get("ok") else "error")
                    msgs.append(
                        f"Ok ({verb})"
                        if result.get("ok")
                        else str(result.get("error"))
                    )

                acts = chunk[action_col]
                has_id = chunk[id_col].notna() if id_col in chunk else None
                # creates: inserted/updated rows WITHOUT a recovered id
                mask_create = acts.isin(["inserted", "updated"]) & ~(
                    has_id if has_id is not None else False
                )
                sub = chunk[mask_create]
                if len(sub):
                    results = client.create_batch(
                        model, sub[cols].to_dict("records")
                    )
                    for pk, r in zip(sub[pk_col], results):
                        emit(pk, r, "create")
                # writes: inserted/updated rows WITH a recovered id
                mask_write = acts.isin(["inserted", "updated"]) & (
                    has_id if has_id is not None else False
                )
                sub = chunk[mask_write]
                if len(sub):
                    updates = [
                        (int(i), {c: row[c] for c in cols})
                        for i, row in zip(
                            sub[id_col], sub[cols].to_dict("records")
                        )
                    ]
                    results = client.write_batch(model, updates)
                    for pk, r in zip(sub[pk_col], results):
                        emit(pk, r, "write")
                # deletes
                sub = chunk[acts == "deleted"]
                if len(sub) and has_id is not None:
                    idlist = [int(i) for i in sub[id_col] if pd.notna(i)]
                    results = client.unlink(model, idlist)
                    for pk, r in zip(sub[pk_col], results):
                        emit(pk, r, "unlink")
                # kept rows: ledger 'skip' without a round-trip
                for pk in chunk[acts == "kept"][pk_col]:
                    emit(pk, {"ok": True}, "kept, no-op")
                yield pd.DataFrame(
                    {
                        "pk": pks,
                        "model_id": pd.array(ids, dtype="Int64"),
                        "level": levels,
                        "message": msgs,
                    }
                )

    return df.mapInPandas(
        send, schema="pk string, model_id long, level string, message string"
    )
