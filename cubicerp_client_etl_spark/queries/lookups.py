"""Lookup / merge queries (SURVEY §2.C1-C5, I1) — the reference's native
identity, exercised through the engine operators and checked against SQL
oracles on the fixture tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cubicerp_client_etl_spark.catalog import load
from cubicerp_client_etl_spark.functions import dsum
from cubicerp_client_etl_spark.operators.lookups import (
    insert_if_absent,
    value_mapping_expr,
)
from cubicerp_client_etl_spark.operators.merge import apply_reprocess_mode
from cubicerp_client_etl_spark.queries import register

# --------------------------------------------------------------------------
# q286 (birth q022) — value-mapping decode (C1): l_returnflag through a mapping table
# with a default line ('N' is deliberately unmapped → falls to default).
# Engine side is the job path's literal-map decode (value_mapping_expr);
# oracle expresses the same decode as CASE.
# --------------------------------------------------------------------------


@register(
    "q286_value_mapping",
    oracle="""
SELECT CASE l_returnflag WHEN 'A' THEN 'Accepted'
                         WHEN 'R' THEN 'Returned'
                         ELSE 'Unknown' END AS flag_label,
       COUNT(*) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY 1
""",
)
def q286_value_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    label = value_mapping_expr(
        "l_returnflag", [("A", "Accepted"), ("R", "Returned")], "Unknown"
    )
    return li.groupBy(label.alias("flag_label")).agg(
        F.count(F.lit(1)).alias("n"), dsum("l_quantity").alias("sum_qty")
    )


# --------------------------------------------------------------------------
# q211 (birth q023) — xml-id-style dimension resolution (C2): a "module.name" string
# resolved to a record id via a broadcast dim join; misses stay NULL (the
# reference's warning path, cubicerpetl.py:609).
# The xml-id dim is derived deterministically from nation.
# --------------------------------------------------------------------------
@register(
    "q211_xmlid_resolve",
    oracle="""
WITH xml_dim AS (
  SELECT 'base' AS module, lower(n_name) AS name, n_nationkey AS res_id FROM nation
),
src AS (
  SELECT c_custkey, 'base.' || lower(n_name) AS xml_id
  FROM customer JOIN nation ON c_nationkey = n_nationkey
)
SELECT s.c_custkey, s.xml_id, d.res_id
FROM src s LEFT JOIN xml_dim d
  ON split_part(s.xml_id, '.', 1) = d.module
 AND split_part(s.xml_id, '.', 2) = d.name
""",
)
def q211_xmlid_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load(spark, sf_dir, "nation")
    c = load(spark, sf_dir, "customer")
    xml_dim = n.select(
        F.lit("base").alias("module"),
        F.lower("n_name").alias("name"),
        F.col("n_nationkey").alias("res_id"),
    )
    src = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).select(
        "c_custkey", F.concat(F.lit("base."), F.lower("n_name")).alias("xml_id")
    )
    # the reference detects xml-ids by regex then splits module/name
    # (cubicerpetl.py:409-411,606-607)
    resolved = src.join(
        F.broadcast(xml_dim),
        (F.split_part(F.col("xml_id"), F.lit("."), F.lit(1)) == xml_dim.module)
        & (F.split_part(F.col("xml_id"), F.lit("."), F.lit(2)) == xml_dim.name),
        "left",
    )
    return resolved.select("c_custkey", "xml_id", "res_id")


# --------------------------------------------------------------------------
# q144 (birth q024) — name-search first-hit resolution (C3): resolve each customer's
# first order (search [('o_custkey','=',c_custkey)], take hit #0); misses
# (customers with no orders) stay NULL.
# --------------------------------------------------------------------------
@register(
    "q144_name_search_first_hit",
    oracle="""
SELECT c.c_custkey,
       f.first_orderkey
FROM customer c
LEFT JOIN (SELECT o_custkey, MIN(o_orderkey) AS first_orderkey
           FROM orders GROUP BY o_custkey) f
  ON f.o_custkey = c.c_custkey
""",
)
def q144_name_search_first_hit(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    # first-hit = min over the search ordering (o_orderkey); expressed as
    # an aggregate instead of a per-row window so the dim is built once.
    first = o.groupBy("o_custkey").agg(F.min("o_orderkey").alias("first_orderkey"))
    return c.join(first, first.o_custkey == c.c_custkey, "left").select(
        "c_custkey", "first_orderkey"
    )


# --------------------------------------------------------------------------
# q227 (birth q025) — insert-if-absent (C5): supplier nations missing from the customer
# nation dim get created with a provenance tag. Anti-join, no driver loop.
# --------------------------------------------------------------------------
@register(
    "q227_insert_if_absent",
    oracle="""
WITH dim AS (SELECT DISTINCT c_nationkey AS nationkey, 'existing' AS origin FROM customer),
     incoming AS (SELECT DISTINCT s_nationkey AS nationkey FROM supplier)
SELECT nationkey, origin FROM dim
UNION ALL
SELECT i.nationkey, 'created' AS origin
FROM incoming i WHERE i.nationkey NOT IN (SELECT nationkey FROM dim)
""",
)
def q227_insert_if_absent(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    dim = c.select(F.col("c_nationkey").alias("nationkey")).distinct().withColumn(
        "origin", F.lit("existing")
    )
    incoming = s.select(F.col("s_nationkey").alias("nationkey"))
    return insert_if_absent(dim, incoming, "nationkey", {"origin": F.lit("created")})


# --------------------------------------------------------------------------
# q026-q061 — the reprocess-mode merge matrix (I1 × C4). Target snapshot =
# orders with orderkey % 3 != 0 ("previously loaded"); staged batch =
# orders with orderkey % 2 = 0, totalprice bumped 10% ("re-extracted with
# changes"). One query per mode; the oracle mirrors the full-outer-join
# semantics in SQL.
# --------------------------------------------------------------------------
_MERGE_ORACLE_TEMPLATE = """
WITH target AS (
  SELECT o_orderkey AS pk, o_totalprice AS price FROM orders WHERE o_orderkey %% 3 <> 0
),
staged AS (
  SELECT o_orderkey AS pk, o_totalprice * 1.1 AS price FROM orders WHERE o_orderkey %% 2 = 0
)
{body}
"""


def _merge_inputs(spark: SparkSession, sf_dir: str):
    o = load(spark, sf_dir, "orders")
    target = o.filter(F.col("o_orderkey") % 3 != 0).select(
        F.col("o_orderkey").alias("pk"), F.col("o_totalprice").alias("price")
    )
    staged = o.filter(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderkey").alias("pk"), (F.col("o_totalprice") * 1.1).alias("price")
    )
    return target, staged


def _merge_query(mode: str, name: str):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        target, staged = _merge_inputs(spark, sf_dir)
        return apply_reprocess_mode(target, staged, "pk", mode)

    fn.__name__ = name
    return fn


register(
    "q228_merge_update",
    oracle=_MERGE_ORACLE_TEMPLATE.format(
        body="""
SELECT COALESCE(t.pk, s.pk) AS pk,
       CASE WHEN s.pk IS NOT NULL THEN s.price ELSE t.price END AS price,
       CASE WHEN t.pk IS NOT NULL AND s.pk IS NOT NULL THEN 'updated'
            WHEN t.pk IS NULL THEN 'inserted' ELSE 'kept' END AS action
FROM target t FULL OUTER JOIN staged s ON t.pk = s.pk
"""
    ).replace("%%", "%"),
)(_merge_query("update", "q228_merge_update"))

register(
    "q059_merge_noupdate",
    oracle=_MERGE_ORACLE_TEMPLATE.format(
        body="""
SELECT COALESCE(t.pk, s.pk) AS pk,
       CASE WHEN t.pk IS NOT NULL THEN t.price ELSE s.price END AS price,
       CASE WHEN t.pk IS NULL THEN 'inserted' ELSE 'kept' END AS action
FROM target t FULL OUTER JOIN staged s ON t.pk = s.pk
"""
    ).replace("%%", "%"),
)(_merge_query("noupdate", "q059_merge_noupdate"))

register(
    "q060_merge_onlyupdate",
    oracle=_MERGE_ORACLE_TEMPLATE.format(
        body="""
SELECT t.pk AS pk,
       CASE WHEN s.pk IS NOT NULL THEN s.price ELSE t.price END AS price,
       CASE WHEN s.pk IS NOT NULL THEN 'updated' ELSE 'kept' END AS action
FROM target t LEFT JOIN staged s ON t.pk = s.pk
"""
    ).replace("%%", "%"),
)(_merge_query("onlyupdate", "q060_merge_onlyupdate"))

register(
    "q134_merge_delete",
    oracle=_MERGE_ORACLE_TEMPLATE.format(
        body="""
SELECT COALESCE(t.pk, s.pk) AS pk,
       CASE WHEN s.pk IS NOT NULL THEN s.price ELSE t.price END AS price,
       CASE WHEN t.pk IS NOT NULL AND s.pk IS NOT NULL THEN 'replaced'
            WHEN t.pk IS NULL THEN 'inserted' ELSE 'kept' END AS action
FROM target t FULL OUTER JOIN staged s ON t.pk = s.pk
"""
    ).replace("%%", "%"),
)(_merge_query("delete", "q134_merge_delete"))

register(
    "q061_merge_insert",
    oracle=_MERGE_ORACLE_TEMPLATE.format(
        body="""
SELECT pk, price, action FROM (
  SELECT pk, price, 'kept' AS action FROM target
  UNION ALL
  SELECT pk, price, 'inserted' AS action FROM staged)
"""
    ).replace("%%", "%"),
)(_merge_query("insert", "q061_merge_insert"))


# --------------------------------------------------------------------------
# q290 (birth q028) — ledger id recovery (C4): staged rows adopt the model_id recorded
# by a prior run; the ledger is derived deterministically from orders.
# --------------------------------------------------------------------------
@register(
    "q290_ledger_id_recovery",
    oracle="""
WITH ledger AS (
  SELECT CAST(o_orderkey AS VARCHAR) AS pk, 'info' AS level,
         o_orderkey * 100 AS model_id
  FROM orders WHERE o_orderkey % 5 = 0
),
staged AS (
  SELECT CAST(o_orderkey AS VARCHAR) AS pk, CAST(NULL AS BIGINT) AS id,
         o_totalprice AS price
  FROM orders WHERE o_orderkey % 2 = 0
)
SELECT s.pk, COALESCE(s.id, l.model_id) AS id, s.price,
       CASE WHEN l.model_id IS NOT NULL THEN 'update' ELSE 'create' END AS route
FROM staged s
LEFT JOIN (SELECT pk, MAX(model_id) AS model_id FROM ledger
           WHERE level = 'info' GROUP BY pk) l ON s.pk = l.pk
""",
)
def q290_ledger_id_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cubicerp_client_etl_spark.operators.merge import recover_ids_from_ledger

    o = load(spark, sf_dir, "orders")
    ledger = o.filter(F.col("o_orderkey") % 5 == 0).select(
        F.col("o_orderkey").cast("string").alias("pk"),
        F.lit("info").alias("level"),
        (F.col("o_orderkey") * 100).alias("model_id"),
    )
    staged = o.filter(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderkey").cast("string").alias("pk"),
        F.lit(None).cast("bigint").alias("id"),
        F.col("o_totalprice").alias("price"),
    )
    recovered = recover_ids_from_ledger(staged, ledger, "pk")
    return recovered.withColumn(
        "route", F.when(F.col("id").isNotNull(), "update").otherwise("create")
    )
