"""RPC source/sink connector (SURVEY A2 / I1 transport / I7 capture).

The reference talks to its server one row at a time: ``create``/``write``
per record plus one more round-trip per log line
(cubicerpetl/cubicerpetl.py:739,759,811) — throughput is bounded by
network latency. Here the transport is batched and partition-parallel:

* source (A2): the transport's ``search_read`` runs once on the driver
  (metadata-sized results — the reference's model too) and becomes a
  DataFrame; large extracts should land as files/JDBC instead.
* sink (I1): ``rpc_apply_actions`` is a per-chunk sender over
  ``sinks.ledger.ship_chunks``, the shipping path every external sink
  shares: executors call the remote API in parallel, one client per
  partition, ``batch_size`` rows per chunk, each row routed to
  create/write/unlink by its merge action (a plain load is every row
  tagged ``inserted`` with no ``model_id``: batched creates). Per-ROW
  failures come back as outcome rows (level='error') instead of
  aborting the job, preserving the reference's error-isolation
  semantics (:738-745) without try/except-per-row round-trips.

The transport is a caller-supplied factory (pickled to executors, one
client per partition — connection reuse the reference only had for
metadata), or a ``'module:factory'`` spec built by ``load_transport``.
No network library is baked in: openerplib/odoolib-style clients, HTTP
sessions, or the in-memory mock used by the tests all fit the protocol
below; a client with a ``close()`` is closed when its partition ends.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from contextlib import contextmanager
from functools import partial
from importlib import import_module
from typing import Any, Protocol, Sequence

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from cubicerp_client_etl_spark.sinks.ledger import Outcome, ship_chunks


class RpcTransport(Protocol):
    """Minimal client protocol (duck-typed; matches what an Odoo-style
    library exposes after login)."""

    def search_read(
        self, model: str, domain: Sequence, fields: Sequence[str]
    ) -> list[dict]: ...

    # each batch verb returns one result dict per input item:
    # {'ok': bool, 'id': int | None, 'error': str | None}
    def create_batch(self, model: str, rows: list[dict]) -> list[dict]: ...

    def write_batch(
        self, model: str, updates: list[tuple[int, dict]]
    ) -> list[dict]: ...

    def unlink(self, model: str, ids: list[int]) -> list[dict]: ...


def load_transport(spec: str, config: str | None) -> Any:
    """Build a transport from a ``'module:factory'`` spec importable where
    it runs (driver or executor). The factory gets ``config`` — endpoint
    settings as one string, e.g. ``connectors.xmlrpc.json_config_factory``'s
    JSON — when one is given, and no argument otherwise."""
    mod, _, attr = spec.partition(":")
    if not attr:
        raise ValueError(f"transport spec must be 'module:factory', got {spec!r}")
    factory = getattr(import_module(mod), attr)
    return factory(config) if config else factory()


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


@contextmanager
def _session(transport_factory: Callable[[], Any]) -> Iterator[Any]:
    """One transport client for one partition, closed on exit if it
    has a ``close()``."""
    client = transport_factory()
    try:
        yield client
    finally:
        if hasattr(client, "close"):
            client.close()


def rpc_apply_actions(
    df: DataFrame,
    transport_factory: Callable[[], Any],
    model: str,
    pk_col: str,
    batch_size: int = 100,
) -> DataFrame:
    """I1 over RPC: route each merged row to the reference's verb by
    its reprocess ``action`` tag (operators.merge.apply_reprocess_mode
    output) and its recovered server id ``model_id`` (optional column)
    — batched per chunk instead of one RPC per row
    (cubicerpetl.py:494-537):

    * ``inserted``/``updated``: ``write`` with an id, ``create`` without;
    * ``replaced`` (delete mode): ``unlink`` the matched id, then
      ``create`` the staged row — one outcome carrying the new id; a
      failed unlink is the row's error and skips its create;
    * ``deleted``: ``unlink``; without an id it is an error;
    * ``kept``: nothing ships.

    Each chunk makes at most four batch calls, in this order: unlink of
    replaced ids, create, write, unlink of deleted ids. Returns the
    lazy outcome frame ``(pk, model_id, level, message)``
    (``sinks.ledger.OUTCOME_SCHEMA``); executor-parallel, one transport
    client per partition.
    """
    cols = [c for c in df.columns if c not in ("action", "model_id")]

    def send(client, chunk: pd.DataFrame) -> list[Outcome]:
        pks = [str(k) for k in chunk[pk_col]]
        acts = chunk["action"].tolist()
        ids = [
            None if pd.isna(i) else int(i)
            for i in chunk.get("model_id", [None] * len(chunk))
        ]
        rows = chunk[cols].to_dict("records")
        out: dict[int, Outcome] = {}
        unlinked: set[int] = set()  # replaced rows whose old record is gone

        def call(method, idx, items, label):
            if not idx:  # a transport need not have verbs it never gets
                return
            for i, r in zip(idx, getattr(client, method)(model, items)):
                if r.get("ok"):
                    verb = "replace" if i in unlinked else label
                    out[i] = (pks[i], r.get("id"), "info", f"Ok ({verb})")
                else:
                    out[i] = (pks[i], None, "error", str(r.get("error")))

        n = range(len(acts))
        replace = [i for i in n if acts[i] == "replaced" and ids[i] is not None]
        call("unlink", replace, [ids[i] for i in replace], "unlink")
        unlinked.update(i for i in replace if out[i][2] == "info")
        create = [
            i
            for i in n
            if i in unlinked
            or (acts[i] in ("inserted", "updated", "replaced") and ids[i] is None)
        ]
        call("create_batch", create, [rows[i] for i in create], "create")
        write = [
            i for i in n if acts[i] in ("inserted", "updated") and ids[i] is not None
        ]
        call("write_batch", write, [(ids[i], rows[i]) for i in write], "write")
        delete = [i for i in n if acts[i] == "deleted" and ids[i] is not None]
        call("unlink", delete, [ids[i] for i in delete], "unlink")
        for i in n:
            if acts[i] == "deleted" and ids[i] is None:
                out[i] = (pks[i], None, "error", "missing server id, nothing to unlink")
            elif acts[i] == "kept":
                out[i] = (pks[i], None, "info", "Ok (kept, no-op)")
        return [out[i] for i in sorted(out)]

    return ship_chunks(df, partial(_session, transport_factory), send, batch_size)
