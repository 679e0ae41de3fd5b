"""Dictionary-lookup join family (SURVEY §2.C1-C3, C5).

The reference implements four flavors of per-row, memo-cached lookup
against remote dictionaries (value mappings cubicerpetl/cubicerpetl.py:
624-649, xml-ids :598-611, name-search :613-622, insert-if-absent
:717-726). A value mapping declared on the driver becomes one
expression, ``try_element_at`` over a literal map, so decoding is a
projection with no join. Every other lookup here is a broadcast left
join — one shuffle-free pass regardless of fact-table size, because the
dictionary side is small by construction.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from cubicerp_client_etl_spark.compilers.sqltext import as_column, literal


def value_mapping_sql(
    value: str,
    lines: Iterable[tuple[str | None, str | None]],
    default: str | None = None,
    return_null: bool = False,
) -> str:
    """SQL text decoding the SQL expression ``value`` through driver-side
    mapping ``lines`` — ``(raw value, label)`` pairs — as one expression
    (C1): ``try_element_at`` over a literal ``map``, so the decode is part
    of the projection and no join, broadcast or Python-built frame is
    planned, and the whole map reaches the JVM in the projection's one
    parse.

    ``lines`` fold into a dict like the reference's (a later line for the
    same raw value wins); a line with a ``None`` raw value never matches.
    The input is compared as a string. The rule, re-derived over true
    SQL NULLs (SURVEY §1.3) from the reference (cubicerpetl.py:643-648):

    * NULL input → NULL if ``return_null`` else ``default`` (if any);
    * matched input → its label;
    * unmatched input → ``default`` if given, otherwise the original
      value passes through.
    """
    table = {name: label for name, label in lines if name is not None}
    text = f"CAST(({value}) AS STRING)"
    dflt = f"CAST({literal(default)} AS STRING)"
    if table:
        pairs = ", ".join(
            f"CAST({literal(x)} AS STRING)" for kv in table.items() for x in kv
        )
        label = f"try_element_at(map({pairs}), {text})"
    else:
        label = "CAST(NULL AS STRING)"
    if_null = "NULL" if return_null else dflt
    return (
        f"CASE WHEN ({value}) IS NULL THEN {if_null}"
        f" ELSE coalesce({label}, {dflt}, {text}) END"
    )


def value_mapping_expr(
    val: Column | str,
    lines: Iterable[tuple[str | None, str | None]],
    default: str | None = None,
    return_null: bool = False,
) -> Column:
    """``value_mapping_sql`` as a Column over a column name or a Column."""
    return as_column(
        val, lambda value: value_mapping_sql(value, lines, default, return_null)
    )


def first_hit_lookup(
    df: DataFrame,
    dim: DataFrame,
    on: Column,
    select: dict[str, str],
    order_by: list[str],
) -> DataFrame:
    """Name-search-style resolution (C3): left join ``dim`` on an
    arbitrary predicate, keep only the *first* hit per input row (the
    reference takes ``search(...)[0]``, cubicerpetl.py:613-622), misses
    stay NULL (the reference's warning path).

    ``select`` maps output column → dim column; ``order_by`` defines
    "first" totally (deterministic under the hash gate).
    """
    marked = df.withColumn("__row_id", F.monotonically_increasing_id())
    joined = marked.join(dim, on, "left")
    w = W.partitionBy("__row_id").orderBy(
        *[F.col(c).asc_nulls_last() for c in order_by]
    )
    ranked = joined.withColumn("__hit_rn", F.row_number().over(w)).filter(
        F.col("__hit_rn") == 1
    )
    out = ranked
    for out_name, dim_col in select.items():
        out = out.withColumn(out_name, F.col(dim_col))
    return out.drop("__row_id", "__hit_rn", *[c for c in dim.columns])


def insert_if_absent(
    dim: DataFrame, incoming: DataFrame, key: str, create_cols: dict[str, Column]
) -> DataFrame:
    """``create_from_value`` semantics (C5, cubicerpetl.py:717-726 —
    dead/broken in the reference, reconstructed from intent): keys present
    in ``incoming`` but absent from ``dim`` are created and unioned in.

    Anti-join finds the missing keys distributedly; no driver round-trip
    per missing value.
    """
    missing = (
        incoming.select(key).distinct().join(dim, key, "left_anti")
    )
    created = missing.select(key, *[c.alias(n) for n, c in create_cols.items()])
    return dim.unionByName(created, allowMissingColumns=True)


def longest_prefix_match(
    records: DataFrame,
    key_col: str,
    rules: DataFrame,
    prefix_col: str,
    rule_fields: list[str],
) -> DataFrame:
    """Longest-prefix-match join — the routing/tariff/account-hierarchy
    lookup: each record matches the rule with the LONGEST ``prefix_col``
    that prefixes its ``key_col`` (phone prefix → rate, account code →
    rollup node, the reference's value-mapping generalized from exact
    keys to hierarchical ones).

    Implementation without a theta-join: records explode their key's
    prefixes of lengths 1..max(rule prefix length) — a CONSTANT fan-out
    bounded by the rules dim, measured once with one tiny aggregate on
    the bounded rules frame — equi-join rules on the prefix, and keep
    the longest match per record with one keyed max_by aggregation.
    Ties cannot occur (one prefix per length per record; rule prefixes
    are unique by contract — duplicated rule prefixes raise).

    Returns ``(key_col, match_len, <rule_fields...>)`` — matched
    records only; callers left-join it back to keep non-matches.

    Scale: fan-out = max rule prefix length (a dim property, constant
    in corpus size); the join is an equi-join against a broadcastable
    rules dim; the longest-match pick is a map-side-combinable max_by
    on the record key. No window, no cross join.
    """
    if not rule_fields:
        raise ValueError("rule_fields must be non-empty")
    # bounded-dim aggregates: one tiny job each (the q038 count()
    # pattern) — rules dims are catalog-sized by contract
    n_rules, n_distinct, max_len = rules.agg(
        F.count(F.lit(1)),
        F.count_distinct(prefix_col),
        F.max(F.length(prefix_col)),
    ).first()
    if n_rules != n_distinct:
        raise ValueError("duplicate rule prefixes: longest match is ambiguous")
    if not max_len:
        raise ValueError("rules frame is empty")
    probes = records.select(
        F.col(key_col),
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(1),
                    F.least(F.length(F.col(key_col)), F.lit(int(max_len))),
                ),
                lambda i: F.substring(F.col(key_col), 1, i),
            )
        ).alias("_pfx"),
    )
    joined = probes.join(
        F.broadcast(
            rules.select(F.col(prefix_col).alias("_pfx"), *rule_fields)
        ),
        "_pfx",
    )
    return joined.groupBy(key_col).agg(
        F.max(F.length("_pfx")).cast("int").alias("match_len"),
        *[
            F.max_by(F.col(f), F.length("_pfx")).alias(f)
            for f in rule_fields
        ],
    )


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    key: str,
    n_salts: int,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join: salt the SKEWED (large, hot-keyed) side
    into ``n_salts`` sub-keys and replicate the other side once per
    salt, so a hot key's rows spread across ``n_salts`` tasks instead
    of funneling through one. Result is row-identical to
    ``skewed.join(other, key, how)`` — salting only changes the
    partitioning, never the matches (equivalence is test-pinned).

    When to reach for it: AQE's skew-join split already handles most
    skew at runtime, but it can only split what one join key allows —
    a SINGLE key holding more rows than an executor's memory still
    needs the key itself subdivided, which is exactly what the salt
    does. ``operators/quality.key_skew_audit`` names the keys and the
    ratio; this operator is the remedy. Supported ``how``: 'inner'
    and 'left' (semantics where the replicated side is the lookup
    side; other join types need per-type null handling and are out of
    contract).

    Cost: the other side is replicated ``n_salts`` × (keep it the
    broadcast-scale side); the skewed side gains one cheap column.
    The salt is ``pmod(xxhash64(monotonically-varying row id), n)`` —
    spreading is what matters, determinism of the ASSIGNMENT is not a
    correctness input (matches are identical for any assignment).
    """
    if n_salts < 1:
        raise ValueError("n_salts must be >= 1")
    if how not in ("inner", "left"):
        raise ValueError(f"unsupported how={how!r} (inner/left)")
    s = skewed.withColumn(
        "_salt",
        F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(n_salts)),
    )
    o = other.withColumn(
        "_salt",
        # no cast around the generator (explode can't nest in
        # expressions); the join condition coerces int salt vs long
        F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))),
    )
    return s.join(o, [key, "_salt"], how).drop("_salt")
