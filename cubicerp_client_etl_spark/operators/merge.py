"""Reprocess-mode merge semantics (SURVEY §2.I1 × C4).

The heart of the reference's identity: ``do_load`` routes each staged row
to create / write / unlink according to ``transform.reprocess`` ∈
{insert, update, noupdate, onlyupdate, delete}
(cubicerpetl/cubicerpetl.py:494-537), with the create-vs-update decision
keyed off ids recovered from the run ledger (:658-671).

The reference does this with one RPC round-trip per row; here the whole
batch is ONE full-outer join on the merge key — the exact shape of
``MERGE INTO tgt USING src ON pk WHEN [NOT] MATCHED`` — so it scales with
the shuffle, not with row-trip latency. Per-row error isolation becomes a
row-level action tag (the ledger write, SURVEY I7) instead of exceptions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cubicerp_client_etl_spark.compilers.sqltext import ident

REPROCESS_MODES = ("insert", "update", "noupdate", "onlyupdate", "delete")


def apply_reprocess_mode(
    target: DataFrame,
    staged: DataFrame,
    pk: str,
    mode: str,
    action_col: str | None = "action",
) -> DataFrame:
    """Compute the post-merge state of ``target`` given a ``staged`` batch.

    Both frames share a schema; ``pk`` is the merge key. Mode semantics
    (from cubicerpetl.py:494-537):

    * ``insert``     — every staged row is created (incoming id dropped);
                       target rows untouched.
    * ``update``     — matched rows take staged values; unmatched staged
                       rows are created; target-only rows kept.
    * ``noupdate``   — create-only-missing: matched keep target values;
                       unmatched staged rows created.
    * ``onlyupdate`` — matched rows take staged values; unmatched staged
                       rows are DROPPED; target-only rows kept.
    * ``delete``     — matched target rows unlinked first, then staged
                       rows created (net: staged replaces matched).

    Returns the merged table, optionally with ``action_col`` ∈
    {kept, inserted, updated, replaced} recording what the per-row
    ledger (I7) would log (``replaced`` only in ``delete`` mode; a
    staged row ``onlyupdate`` drops is absent, not tagged).
    """
    if mode not in REPROCESS_MODES:
        raise ValueError(f"unknown reprocess mode: {mode!r}")

    # SQL text, one parse per projection (compilers.sqltext)
    cols = target.columns

    def tagged(action: str) -> list[str]:
        return [f"{action} AS {ident(action_col)}"] if action_col else []

    if mode == "insert":
        names = [ident(c) for c in cols]
        return target.selectExpr(*names, *tagged("'kept'")).unionByName(
            staged.selectExpr(*names, *tagged("'inserted'"))
        )

    t_pk, s_pk = f"t.{ident(pk)}", f"s.{ident(pk)}"
    j = target.alias("t").join(
        staged.alias("s"), F.expr(f"{t_pk} = {s_pk}"), "full_outer"
    )
    matched = f"({t_pk} IS NOT NULL AND {s_pk} IS NOT NULL)"
    t_only = f"{s_pk} IS NULL"
    s_only = f"{t_pk} IS NULL"
    if mode == "update":
        take_staged = f"({matched} OR {s_only})"
        keep_target = t_only
        act = (
            f"CASE WHEN {matched} THEN 'updated' WHEN {s_only} THEN 'inserted'"
            " ELSE 'kept' END"
        )
    elif mode == "noupdate":
        take_staged = s_only
        keep_target = f"({matched} OR {t_only})"
        act = f"CASE WHEN {s_only} THEN 'inserted' ELSE 'kept' END"
    elif mode == "onlyupdate":
        take_staged = matched
        keep_target = t_only
        act = f"CASE WHEN {matched} THEN 'updated' ELSE 'kept' END"
    else:  # delete: unlink matched target, then create all staged
        take_staged = f"({matched} OR {s_only})"
        keep_target = t_only
        act = (
            f"CASE WHEN {matched} THEN 'replaced' WHEN {s_only} THEN 'inserted'"
            " ELSE 'kept' END"
        )

    picked = [
        f"CASE WHEN {take_staged} THEN s.{ident(c)}"
        f" WHEN {keep_target} THEN t.{ident(c)} END AS {ident(c)}"
        for c in cols
    ]
    return j.filter(f"{take_staged} OR {keep_target}").selectExpr(*picked, *tagged(act))


def recover_ids_from_ledger(
    staged: DataFrame, ledger: DataFrame, pk: str, id_col: str = "id"
) -> DataFrame:
    """C4: adopt the model id recorded by a prior successful run.

    The reference queries the ledger once per row
    (cubicerpetl.py:658-671 + :705-715); here it is one broadcast/left
    join of the batch against the ledger's latest-success projection.
    Rows that recover an id will be routed to update; others to create.
    """
    latest = (
        ledger.filter(F.col("level") == "info")
        .groupBy(pk)
        .agg(F.max("model_id").alias("__recovered_id"))
    )
    return staged.join(latest, pk, "left").withColumn(
        id_col, F.coalesce(F.col(id_col), F.col("__recovered_id"))
    ).drop("__recovered_id")


def golden_record(
    records: DataFrame,
    entity_col: str,
    order_col: str,
    fields: list[str],
) -> DataFrame:
    """Survivorship / master-data golden record: collapse every
    entity's duplicate records into ONE row by taking, per field
    INDEPENDENTLY, the non-null value with the highest ``order_col``
    (callers compose priority × recency × record-id into that single
    bigint so the pick is total-ordered and deterministic — e.g.
    ``source_priority·10^15 + epoch_us`` with the record id in the low
    bits for tie-freedom).

    This is the field-level merge the reference's update path applies
    one RPC at a time (cubicerpetl.py:494-537 routes whole rows; real
    MDM picks per-field: the freshest phone may come from CRM while
    the freshest address comes from billing). Expressed as ONE keyed
    aggregation of ``max_by(field, CASE WHEN field IS NOT NULL THEN
    order_col END)`` per field — max_by ignores rows whose ordering
    key is NULL in both Spark and DuckDB (verified), so a null field
    never wins, and an all-null field yields NULL.

    Output: ``(entity_col, n_records, <field>... , <field>_src_key...)``
    where ``<field>_src_key`` is the order key of the winning record —
    the lineage column an auditor asks for.

    Scale: one shuffle on the entity key, map-side combinable
    aggregates, no window, no self-join.
    """
    if not fields:
        raise ValueError("fields must be non-empty")
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_records")]
    for f in fields:
        key = F.when(F.col(f).isNotNull(), F.col(order_col))
        aggs.append(F.max_by(F.col(f), key).alias(f))
        aggs.append(F.max(key).cast("bigint").alias(f"{f}_src_key"))
    return records.groupBy(entity_col).agg(*aggs)
