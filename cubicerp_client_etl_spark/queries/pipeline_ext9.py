"""Round-9 extension wave: behavioral analytics (funnel, cohort
retention, Markov transitions), operational scale audits (shuffle-skew
pre-flight, Gini concentration), master-data survivorship (golden
record), and the fixed-point χ² contingency drift screen.

Same corpus discipline as the rest of the registry: exact integer /
e6-fixed-point arithmetic so every query carries a DuckDB oracle the
driver can hash-compare, and every operator keeps the shape that
survives 100 TB — keyed aggregations with map-side combine, windows
only on high-cardinality keys or bounded aggregates, bounded-dim grid
joins, no all-pairs anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cubicerp_client_etl_spark.catalog import load
from cubicerp_client_etl_spark.queries import register

# --------------------------------------------------------------------------
# q284 (birth q232) — Funnel analysis (operators/behavior.funnel_report): earliest-
# completion view → click → purchase funnel over the events stream,
# with exact e6 step conversions and total time-to-step. Scale: K
# conditional min-aggs chained by equi-joins on the user key; the
# report windows run over the K-row per-step aggregate.
# --------------------------------------------------------------------------

_FUNNEL_STEPS = ["view", "click", "purchase"]


@register(
    "q284_funnel_analysis",
    oracle=f"""
WITH e AS (
  SELECT user_id AS u, epoch_us(ts) AS t, event_type AS ty FROM events
),
s1 AS (SELECT u, min(t) AS t1 FROM e WHERE ty = '{_FUNNEL_STEPS[0]}' GROUP BY u),
s2 AS (
  SELECT e.u, min(e.t) AS t2
  FROM e JOIN s1 ON s1.u = e.u
  WHERE e.ty = '{_FUNNEL_STEPS[1]}' AND e.t > s1.t1 GROUP BY e.u
),
s3 AS (
  SELECT e.u, min(e.t) AS t3
  FROM e JOIN s2 ON s2.u = e.u
  WHERE e.ty = '{_FUNNEL_STEPS[2]}' AND e.t > s2.t2 GROUP BY e.u
),
pu AS (
  SELECT s1.u, s1.t1, s2.t2, s3.t3
  FROM s1 LEFT JOIN s2 ON s2.u = s1.u LEFT JOIN s3 ON s3.u = s1.u
),
steps AS (
  SELECT 1 AS step, '{_FUNNEL_STEPS[0]}' AS step_type,
         CAST(count(t1) AS BIGINT) AS n_users,
         CAST(0 AS BIGINT) AS sum_elapsed_us
  FROM pu
  UNION ALL
  SELECT 2, '{_FUNNEL_STEPS[1]}', CAST(count(t2) AS BIGINT),
         CAST(COALESCE(sum(CASE WHEN t2 IS NOT NULL THEN t2 - t1 END), 0)
              AS BIGINT)
  FROM pu
  UNION ALL
  SELECT 3, '{_FUNNEL_STEPS[2]}', CAST(count(t3) AS BIGINT),
         CAST(COALESCE(sum(CASE WHEN t3 IS NOT NULL THEN t3 - t1 END), 0)
              AS BIGINT)
  FROM pu
),
w AS (
  SELECT *,
         first_value(n_users) OVER (ORDER BY step) AS _first,
         lag(n_users) OVER (ORDER BY step) AS _prev
  FROM steps
)
SELECT CAST(step AS INT) AS step, step_type, n_users,
       CAST(CASE WHEN _first > 0 THEN n_users * 1000000 // _first
                 ELSE 0 END AS BIGINT) AS conv_from_first_e6,
       CAST(CASE WHEN _prev IS NULL THEN 1000000
                 WHEN _prev > 0 THEN n_users * 1000000 // _prev
                 ELSE 0 END AS BIGINT) AS conv_from_prev_e6,
       sum_elapsed_us
FROM w
""",
)
def q284_funnel_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cubicerp_client_etl_spark.operators.behavior import funnel_report

    ev = load(spark, sf_dir, "events").select(
        "user_id", F.unix_micros(F.col("ts")).alias("t_us"), "event_type"
    )
    return funnel_report(ev, "user_id", "t_us", "event_type", _FUNNEL_STEPS)


# --------------------------------------------------------------------------
# q233 — Cohort retention matrix (operators/behavior.cohort_retention):
# users cohorted by first-event week; per (cohort, offset) cell the
# exact distinct-active count and e6 retention share. Scale: two keyed
# aggs + one equi-join on the user key; rollup on the bounded
# (cohort × offset) grid.
# --------------------------------------------------------------------------


@register(
    "q233_cohort_retention",
    oracle="""
WITH ev AS (
  SELECT user_id AS u,
         (epoch_us(ts) // 86400000000) // 7 AS p
  FROM events
),
first AS (SELECT u, min(p) AS cohort FROM ev GROUP BY u),
active AS (SELECT DISTINCT u, p FROM ev),
cell AS (
  SELECT f.cohort, a.p - f.cohort AS period_offset,
         CAST(count(DISTINCT a.u) AS BIGINT) AS n_active
  FROM active a JOIN first f ON f.u = a.u
  GROUP BY f.cohort, a.p - f.cohort
),
sz AS (SELECT cohort, CAST(count(*) AS BIGINT) AS cohort_size
       FROM first GROUP BY cohort)
SELECT CAST(cell.cohort AS BIGINT) AS cohort,
       CAST(period_offset AS BIGINT) AS period_offset,
       cohort_size, n_active,
       CAST(n_active * 1000000 // cohort_size AS BIGINT) AS retention_e6
FROM cell JOIN sz ON sz.cohort = cell.cohort
""",
)
def q233_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cubicerp_client_etl_spark.operators.behavior import cohort_retention

    ev = load(spark, sf_dir, "events").select(
        "user_id", F.unix_micros(F.col("ts")).alias("t_us")
    )
    return cohort_retention(ev, "user_id", "t_us", period_days=7)


# --------------------------------------------------------------------------
# q285 (birth q234) — Markov transition matrix (operators/behavior.transition_matrix):
# per-user event-type bigram counts with exact e6 row-normalized
# probabilities — the session-model / anomaly-screen input. Scale: one
# lead() window on the high-cardinality user key; bounded
# (from × to) rollup; broadcast normalization.
# --------------------------------------------------------------------------


@register(
    "q285_markov_transitions",
    oracle="""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS t, event_id, event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts), event_id) AS to_type
  FROM events
),
c AS (
  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
  FROM e WHERE to_type IS NOT NULL GROUP BY from_type, to_type
),
t AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS tot FROM c GROUP BY from_type)
SELECT c.from_type, c.to_type, c.n,
       CAST(c.n * 1000000 // t.tot AS BIGINT) AS p_e6
FROM c JOIN t ON t.from_type = c.from_type
""",
)
def q285_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cubicerp_client_etl_spark.operators.behavior import transition_matrix

    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts")).alias("t_us"),
        "event_type",
    )
    return transition_matrix(
        ev, "user_id", "t_us", "event_type", order_col="event_id"
    )


# --------------------------------------------------------------------------
# q235 — Shuffle-skew pre-flight audit (operators/quality.key_skew_audit):
# the per-key distribution a planner reads BEFORE hash-partitioning a
# join on l_partkey — top heavy keys to salt, and the max/mean skew
# ratio that says whether AQE skew-split will fire. Scale: one keyed
# count + TakeOrdered top-k + 1-row broadcast; one scan total.
# --------------------------------------------------------------------------


@register(
    "q235_shuffle_skew_audit",
    oracle="""
WITH counts AS (
  SELECT l_partkey AS key, CAST(count(*) AS BIGINT) AS key_rows
  FROM lineitem GROUP BY l_partkey
),
summary AS (
  SELECT CAST(count(*) AS BIGINT) AS n_keys,
         CAST(sum(key_rows) AS BIGINT) AS n_rows,
         CAST(max(key_rows) AS BIGINT) AS _max
  FROM counts
),
top AS (
  SELECT key, key_rows,
         row_number() OVER (ORDER BY key_rows DESC, key) AS rank
  FROM counts QUALIFY rank <= 5
)
SELECT CAST(rank AS INT) AS rank,
       CAST(key AS VARCHAR) AS key,
       key_rows,
       CAST(CAST(key_rows AS HUGEINT) * 1000000 // n_rows AS BIGINT)
         AS share_e6,
       n_keys, n_rows,
       CAST(CAST(_max AS HUGEINT) * n_keys * 1000000 // n_rows AS BIGINT)
         AS skew_ratio_e6
FROM top CROSS JOIN summary
""",
)
def q235_shuffle_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cubicerp_client_etl_spark.operators.quality import key_skew_audit

    li = load(spark, sf_dir, "lineitem").select("l_partkey")
    return key_skew_audit(li, "l_partkey", top_k=5)


# --------------------------------------------------------------------------
# q236 — Gini concentration audit (operators/quantiles.gini_concentration):
# exact Gini of the per-document character budget — the "is 1% of the
# corpus 90% of the bytes?" screen before mixture weighting. Scale:
# value-count table + prefix scan over the bounded distinct-value
# frame (the cdf_transform discipline); decimal(38,0) rank-sum
# internals, bigint e6 output.
# --------------------------------------------------------------------------


@register(
    "q236_gini_concentration",
    oracle="""
WITH c AS (
  SELECT n_chars AS v, CAST(count(*) AS BIGINT) AS c
  FROM documents GROUP BY n_chars
),
cum AS (SELECT v, c, sum(c) OVER (ORDER BY v) AS cum FROM c),
contrib AS (
  SELECT CAST(v AS HUGEINT) * (2 * c * (cum - c) + c * (c + 1)) AS s2,
         CAST(v AS HUGEINT) * c AS t, c
  FROM cum
)
SELECT CAST(sum(c) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_distinct,
       CAST((sum(s2) - (sum(c) + 1) * sum(t)) * 1000000
            // (sum(c) * sum(t)) AS BIGINT) AS gini_e6
FROM contrib
""",
)
def q236_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cubicerp_client_etl_spark.operators.quantiles import (
        gini_concentration,
    )

    docs = load(spark, sf_dir, "documents").select("n_chars")
    return gini_concentration(docs, "n_chars")


# --------------------------------------------------------------------------
# q237 — Golden-record survivorship (operators/merge.golden_record):
# three deterministic "systems" (crm > billing > web priority) emit a
# contact record per customer with synthesized nulls and recencies;
# per field the freshest non-null value wins INDEPENDENTLY (the
# master-data merge the reference's update path does row-at-a-time
# over RPC, cubicerpetl.py:494-537). max_by with a null-masked
# composite key — verified identical null semantics in Spark and
# DuckDB. Scale: one keyed aggregation, no window, no self-join.
# --------------------------------------------------------------------------

_GR_SYSTEMS = [("crm", 3), ("billing", 2), ("web", 1)]


@register(
    "q237_golden_record",
    oracle=f"""
WITH recs AS (
  SELECT c_custkey AS entity, s.src, s.pri,
         CAST(concat('0x', substr(md5(s.src || '|' || c_custkey), 1, 8))
              AS BIGINT) AS h
  FROM customer
  CROSS JOIN (VALUES {", ".join(f"('{s}', {p})" for s, p in _GR_SYSTEMS)})
             s(src, pri)
),
fields AS (
  SELECT entity, src, pri,
         CAST(pri AS BIGINT) * 1000000000 + h % 1000000 AS ok,
         CASE WHEN h % 4 = 0 THEN NULL
              ELSE 'ph-' || CAST(h % 10000 AS VARCHAR) END AS phone,
         CASE WHEN h % 5 = 0 THEN NULL
              ELSE src || '-' || CAST(h % 100 AS VARCHAR) END AS segment
  FROM recs
)
SELECT entity,
       CAST(count(*) AS BIGINT) AS n_records,
       max_by(phone, CASE WHEN phone IS NOT NULL THEN ok END) AS phone,
       CAST(max(CASE WHEN phone IS NOT NULL THEN ok END) AS BIGINT)
         AS phone_src_key,
       max_by(segment, CASE WHEN segment IS NOT NULL THEN ok END) AS segment,
       CAST(max(CASE WHEN segment IS NOT NULL THEN ok END) AS BIGINT)
         AS segment_src_key
FROM fields GROUP BY entity
""",
)
def q237_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cubicerp_client_etl_spark.functions import md5_hash32
    from cubicerp_client_etl_spark.operators.merge import golden_record

    cust = load(spark, sf_dir, "customer").select("c_custkey")
    systems = spark.createDataFrame(_GR_SYSTEMS, "src string, pri int")
    recs = cust.crossJoin(F.broadcast(systems)).select(
        F.col("c_custkey").alias("entity"),
        "src",
        "pri",
        md5_hash32(
            F.concat(F.col("src"), F.lit("|"), F.col("c_custkey").cast("string"))
        ).alias("h"),
    )
    fields = recs.select(
        "entity",
        (F.col("pri").cast("bigint") * 1_000_000_000 + F.col("h") % 1_000_000)
        .alias("ok"),
        F.when(F.col("h") % 4 == 0, F.lit(None)).otherwise(
            F.concat(F.lit("ph-"), (F.col("h") % 10_000).cast("string"))
        ).alias("phone"),
        F.when(F.col("h") % 5 == 0, F.lit(None)).otherwise(
            F.concat(F.col("src"), F.lit("-"), (F.col("h") % 100).cast("string"))
        ).alias("segment"),
    )
    return golden_record(fields, "entity", "ok", ["phone", "segment"])


# --------------------------------------------------------------------------
# q238 — χ² contingency drift screen (operators/drift.chi2_contingency_audit):
# source × language mix over the documents corpus, every cell (absent
# combinations included — a vanished language IS drift) with its
# e6-quantized χ² contribution and exact counts. Scale: one keyed
# count + bounded-marginal grid join, broadcast both ways.
# --------------------------------------------------------------------------


@register(
    "q238_chi2_drift",
    oracle="""
WITH cells AS (
  SELECT source AS row_val, lang AS col_val, CAST(count(*) AS BIGINT) AS n
  FROM documents GROUP BY source, lang
),
rt AS (SELECT row_val, CAST(sum(n) AS BIGINT) AS row_total
       FROM cells GROUP BY row_val),
ct AS (SELECT col_val, CAST(sum(n) AS BIGINT) AS col_total
       FROM cells GROUP BY col_val),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS grand_total FROM cells),
grid AS (SELECT * FROM rt CROSS JOIN ct CROSS JOIN tot),
fullg AS (
  SELECT g.row_val, g.col_val, CAST(COALESCE(c.n, 0) AS BIGINT) AS n,
         g.row_total, g.col_total, g.grand_total
  FROM grid g LEFT JOIN cells c
    ON c.row_val = g.row_val AND c.col_val = g.col_val
),
q AS (
  SELECT *,
         CAST(n AS HUGEINT) * 1000000 // grand_total AS a,
         CAST(row_total AS HUGEINT) * 1000000 // grand_total AS b,
         CAST(col_total AS HUGEINT) * 1000000 // grand_total AS c
  FROM fullg
)
SELECT row_val, col_val, n, row_total, col_total, grand_total,
       CAST(CAST(row_total AS HUGEINT) * col_total // grand_total AS BIGINT)
         AS expected_e0,
       CASE WHEN b > 0 AND c > 0 THEN
         CAST(CAST(grand_total AS HUGEINT)
              * (a * 1000000 - b * c) * (a * 1000000 - b * c)
              // (1000000 * b * c) AS BIGINT)
       ELSE NULL END AS cell_chi2_e6
FROM q
""",
)
def q238_chi2_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cubicerp_client_etl_spark.operators.drift import (
        chi2_contingency_audit,
    )

    docs = load(spark, sf_dir, "documents").select("source", "lang")
    return chi2_contingency_audit(docs, "source", "lang")


# --------------------------------------------------------------------------
# q283 (birth q239) — Image perceptual-hash near-dup (operators/multimodal.
# image_ahash_bands + operators/dedup.hamming_candidates): the
# MULTIMODAL member of the blocking family. Deterministic 16×16
# grayscale BMPs are synthesized per sampled doc (pairs share a
# pattern seed; the odd variant perturbs 5 cells), encoded and decoded
# through the real stdlib BMP codec in Arrow mapInPandas, aHashed to
# four 16-bit bands, and paired through the band equi-join with exact
# bit_count(xor) verification — complete for Hamming ≤ 3 by
# pigeonhole. The oracle replays pixels, cell means, bits, bands,
# blocking and popcounts in SQL. Scale: decode+hash is a pure map;
# candidates are Σ_buckets |occ|² over 16-bit band values, never
# all-pairs.
# --------------------------------------------------------------------------

_PH_SAMPLE = 25  # hash every 25th doc


@register(
    "q283_image_phash_neardup",
    oracle=f"""
WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % {_PH_SAMPLE} = 0),
cells AS (
  SELECT doc_id, cy.i AS cy, cx.i AS cx,
         (doc_id // 50 * 37 + cy.i * 29 + cx.i * 71) % 247
         + CASE WHEN (doc_id // {_PH_SAMPLE}) % 2 = 1
                 AND (cx.i + cy.i) % 11 = 0 THEN 9 ELSE 0 END AS v
  FROM ids
  CROSS JOIN generate_series(0, 7) cy(i)
  CROSS JOIN generate_series(0, 7) cx(i)
),
gm AS (SELECT doc_id, sum(v) // 64 AS gmean FROM cells GROUP BY doc_id),
bits AS (
  SELECT c.doc_id, c.cy * 8 + c.cx AS idx,
         CASE WHEN c.v >= g.gmean THEN 1 ELSE 0 END AS bit
  FROM cells c JOIN gm g ON g.doc_id = c.doc_id
),
bands AS (
  SELECT doc_id, idx // 16 AS bi,
         CAST(sum(bit * (CAST(1 AS BIGINT) << (idx % 16))) AS BIGINT) AS bv
  FROM bits GROUP BY doc_id, idx // 16
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id
),
fp AS (
  SELECT doc_id,
         max(CASE WHEN bi = 0 THEN bv END) AS b0,
         max(CASE WHEN bi = 1 THEN bv END) AS b1,
         max(CASE WHEN bi = 2 THEN bv END) AS b2,
         max(CASE WHEN bi = 3 THEN bv END) AS b3
  FROM bands GROUP BY doc_id
),
ham AS (
  SELECT c.id_a, c.id_b,
         CAST(bit_count(xor(fa.b0, fb.b0)) + bit_count(xor(fa.b1, fb.b1))
            + bit_count(xor(fa.b2, fb.b2)) + bit_count(xor(fa.b3, fb.b3))
            AS BIGINT) AS hamming
  FROM cand c
  JOIN fp fa ON fa.doc_id = c.id_a
  JOIN fp fb ON fb.doc_id = c.id_b
),
sel AS (SELECT * FROM ham WHERE hamming <= 3),
agg AS (
  SELECT hamming,
         CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(CASE WHEN id_a // 50 = id_b // 50 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_same_seed,
         CAST(COALESCE(sum(CAST(id_a AS HUGEINT) * 1000000 + id_b), 0)
              AS HUGEINT) AS _pk
  FROM sel GROUP BY hamming
)
SELECT hamming, n_pairs, n_same_seed,
       CAST(_pk // 1000000000000000000 AS BIGINT) AS pair_key_hi,
       CAST(_pk % 1000000000000000000 AS BIGINT) AS pair_key_lo
FROM agg
""",
)
def q283_image_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from cubicerp_client_etl_spark.functions import hi_lo_bigint
    from cubicerp_client_etl_spark.operators.dedup import hamming_candidates
    from cubicerp_client_etl_spark.operators.multimodal import (
        encode_bmp_gray,
        image_ahash_bands,
    )

    docs = (
        load(spark, sf_dir, "documents")
        .where(F.col("doc_id") % _PH_SAMPLE == 0)
        .select("doc_id")
    )

    def gen(batches):
        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                did = int(did)
                seed, variant = did // 50, (did // _PH_SAMPLE) % 2
                px = bytes(
                    (seed * 37 + (y // 2) * 29 + (x // 2) * 71) % 247
                    + (
                        9
                        if variant == 1 and ((x // 2) + (y // 2)) % 11 == 0
                        else 0
                    )
                    for y in range(16)
                    for x in range(16)
                )
                payloads.append(encode_bmp_gray(16, 16, px))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    media = docs.mapInPandas(gen, "doc_id bigint, payload binary")
    fp = image_ahash_bands(media, "payload")
    pairs = hamming_candidates(
        fp, "doc_id", ["band0", "band1", "band2", "band3"]
    ).where(F.col("hamming") <= 3)
    agg = pairs.groupBy("hamming").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(
            F.when(
                F.expr("id_a div 50") == F.expr("id_b div 50"), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_same_seed"),
        F.coalesce(
            F.sum(F.col("id_a").cast("decimal(38,0)") * 1_000_000 + F.col("id_b")),
            F.lit(0),
        )
        .cast("decimal(38,0)")
        .alias("_pk"),
    )
    return agg.select(
        "hamming", "n_pairs", "n_same_seed", *hi_lo_bigint("_pk", "pair_key")
    )


# --------------------------------------------------------------------------
# q240 — Stock-ledger running balance (operators/history.
# running_balance_audit): every lineitem is a stock movement of its
# part (returns restock, everything else ships out), walked in
# (shipdate, orderkey, linenumber) order; per part the exact final /
# minimum balance and the count of movements that left stock negative
# — the oversell audit the reference's reconciliation fields chase
# per-row. Scale: ONE window partitioned by the high-cardinality part
# key + the same keyed rollup; no self-join.
# --------------------------------------------------------------------------


@register(
    "q046_stock_ledger_balance",
    oracle="""
WITH mv AS (
  SELECT l_partkey,
         CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS BIGINT)
              ELSE -CAST(l_quantity AS BIGINT) END AS d,
         l_shipdate, l_orderkey, l_linenumber
  FROM lineitem
),
bal AS (
  SELECT l_partkey, d,
         sum(d) OVER (PARTITION BY l_partkey
                      ORDER BY l_shipdate, l_orderkey, l_linenumber
                      ROWS UNBOUNDED PRECEDING) AS _bal
  FROM mv
)
SELECT l_partkey,
       CAST(count(*) AS BIGINT) AS n_moves,
       CAST(sum(CASE WHEN d > 0 THEN d ELSE 0 END) AS BIGINT) AS total_in,
       CAST(sum(CASE WHEN d < 0 THEN -d ELSE 0 END) AS BIGINT) AS total_out,
       CAST(sum(d) AS BIGINT) AS final_balance,
       CAST(min(_bal) AS BIGINT) AS min_balance,
       CAST(sum(CASE WHEN _bal < 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_breach_moves
FROM bal GROUP BY l_partkey
""",
)
def q046_stock_ledger_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cubicerp_client_etl_spark.operators.history import (
        running_balance_audit,
    )

    mv = load(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_shipdate",
        "l_orderkey",
        "l_linenumber",
        F.when(
            F.col("l_returnflag") == "R", F.col("l_quantity").cast("bigint")
        )
        .otherwise(-F.col("l_quantity").cast("bigint"))
        .alias("d"),
    )
    return running_balance_audit(
        mv,
        "l_partkey",
        [F.col("l_shipdate"), F.col("l_orderkey"), F.col("l_linenumber")],
        "d",
    )


# --------------------------------------------------------------------------
# q241 — Bitemporal as-known-at restatement audit (operators/history.
# as_known_at): orders carry a synthesized ingest delay (valid time =
# order date, system time = ingest day); every 7th order is RESTATED
# +5% thirty days after first ingest. The audit reconstructs the state
# known at 1996-01-01 and diffs it against the final state, per order
# year — the point-in-time regulatory report. Scale: two keyed max_by
# aggregations + one equi-join on the order key; never a window over
# version history.
# --------------------------------------------------------------------------

_BT_ASOF_DAY = 9496  # epoch days of 1996-01-01


@register(
    "q047_bitemporal_restatement",
    oracle=f"""
WITH v1 AS (
  SELECT o_orderkey AS k, year(o_orderdate) AS yr,
         (epoch_us(o_orderdate) // 86400000000)
         + CAST(concat('0x', substr(md5('ig|' || o_orderkey), 1, 8))
                AS BIGINT) % 20 AS ing_day,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM orders
),
vers AS (
  SELECT k, yr, ing_day * 10 + 1 AS ing, cents FROM v1
  UNION ALL
  SELECT k, yr, (ing_day + 30) * 10 + 2 AS ing, cents + cents // 20
  FROM v1 WHERE k % 7 = 0
),
known AS (
  SELECT k, max(ing) AS known_ing, max_by(cents, ing) AS known_cents
  FROM vers WHERE ing <= {_BT_ASOF_DAY * 10 + 9} GROUP BY k
),
final AS (
  SELECT k, yr, max_by(cents, ing) AS final_cents FROM vers GROUP BY k, yr
),
agg AS (
  SELECT f.yr,
         CAST(count(kn.k) AS BIGINT) AS n_known,
         CAST(sum(CASE WHEN kn.known_ing % 10 = 2 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_restated_applied,
         CAST(sum(CASE WHEN kn.k IS NOT NULL
                        AND kn.known_cents <> f.final_cents
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_pending_restate,
         CAST(COALESCE(sum(CAST(kn.known_cents AS HUGEINT)), 0) AS HUGEINT)
           AS _skc
  FROM final f LEFT JOIN known kn ON kn.k = f.k
  GROUP BY f.yr
)
SELECT CAST(yr AS INT) AS yr, n_known, n_restated_applied,
       n_pending_restate,
       CAST(_skc // 1000000000000000000 AS BIGINT) AS known_cents_hi,
       CAST(_skc % 1000000000000000000 AS BIGINT) AS known_cents_lo
FROM agg
""",
)
def q047_bitemporal_restatement(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cubicerp_client_etl_spark.functions import hi_lo_bigint, md5_hash32
    from cubicerp_client_etl_spark.operators.history import as_known_at

    orders = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.year("o_orderdate").alias("yr"),
        (
            F.expr("unix_micros(o_orderdate) div 86400000000")
            + md5_hash32(
                F.concat(F.lit("ig|"), F.col("o_orderkey").cast("string"))
            )
            % 20
        ).alias("ing_day"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    v1 = orders.select(
        "k", "yr", (F.col("ing_day") * 10 + 1).alias("ing"), "cents"
    )
    v2 = orders.where(F.col("k") % 7 == 0).select(
        "k",
        "yr",
        ((F.col("ing_day") + 30) * 10 + 2).alias("ing"),
        (F.col("cents") + F.expr("cents div 20")).alias("cents"),
    )
    vers = v1.unionByName(v2)
    known = as_known_at(
        vers, "k", "ing", F.lit(_BT_ASOF_DAY * 10 + 9), ["cents"]
    ).select(
        F.col("k"),
        F.col("known_ingest").alias("known_ing"),
        F.col("cents").alias("known_cents"),
    )
    final = vers.groupBy("k", "yr").agg(
        F.max_by("cents", "ing").alias("final_cents")
    )
    agg = (
        final.join(known, "k", "left")
        .groupBy("yr")
        .agg(
            F.count("known_ing").cast("bigint").alias("n_known"),
            F.sum(F.when(F.col("known_ing") % 10 == 2, 1).otherwise(0))
            .cast("bigint")
            .alias("n_restated_applied"),
            F.sum(
                F.when(
                    F.col("known_ing").isNotNull()
                    & (F.col("known_cents") != F.col("final_cents")),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_pending_restate"),
            F.coalesce(
                F.sum(F.col("known_cents").cast("decimal(38,0)")), F.lit(0)
            )
            .cast("decimal(38,0)")
            .alias("_skc"),
        )
    )
    return agg.select(
        F.col("yr").cast("int").alias("yr"),
        "n_known",
        "n_restated_applied",
        "n_pending_restate",
        *hi_lo_bigint("_skc", "known_cents"),
    )


# --------------------------------------------------------------------------
# q242 — Effective-sample-size audit (operators/sampling.
# effective_sample_size): Kish ESS of length-proportional document
# weights — the estimator-variance screen run before any weighted
# sampling ships (ESS ≪ n means a few giants dominate). One map-side
# combinable aggregate; decimal(38,0) square sums; e6 shares.
# --------------------------------------------------------------------------


@register(
    "q242_effective_sample_size",
    oracle="""
WITH w AS (SELECT CAST(n_chars AS HUGEINT) AS w FROM documents),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         sum(w) AS sw, sum(w * w) AS sw2,
         CAST(max(w) AS BIGINT) AS max_w
  FROM w
)
SELECT n_rows,
       CAST(CASE WHEN sw2 > 0 THEN (sw * sw) // sw2 ELSE 0 END AS BIGINT)
         AS ess,
       CAST(CASE WHEN sw2 > 0 THEN (sw * sw) * 1000000 // (sw2 * n_rows)
                 ELSE 0 END AS BIGINT) AS ess_share_e6,
       max_w,
       CAST(CASE WHEN sw > 0 THEN CAST(max_w AS HUGEINT) * 1000000 // sw
                 ELSE 0 END AS BIGINT) AS top_w_share_e6
FROM agg
""",
)
def q242_effective_sample_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cubicerp_client_etl_spark.operators.sampling import (
        effective_sample_size,
    )

    docs = load(spark, sf_dir, "documents").select("n_chars")
    return effective_sample_size(docs, "n_chars")


# --------------------------------------------------------------------------
# q243 — Longest-prefix rule match (operators/lookups.longest_prefix_match):
# the routing/tariff lookup — account codes match the LONGEST rule
# prefix (nation-level rules for every nation; deeper nation+segment
# rules for even nations only, so both depths are exercised). The
# reference's value-mapping generalized from exact keys to
# hierarchical ones. Scale: constant prefix fan-out (bounded by the
# rules dim), broadcast rules join, keyed max_by pick.
# --------------------------------------------------------------------------

_LPM_SEGS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


@register(
    "q048_longest_prefix_match",
    oracle=f"""
WITH segs AS (
  SELECT seg, CAST(row_number() OVER (ORDER BY seg) AS BIGINT) AS sidx
  FROM (SELECT unnest(['{"','".join(_LPM_SEGS)}']) AS seg)
),
rules AS (
  SELECT CAST(n_nationkey AS VARCHAR) || '-' AS pfx,
         CAST(10 + n_nationkey AS BIGINT) AS rate
  FROM nation
  UNION ALL
  SELECT CAST(n_nationkey AS VARCHAR) || '-' || s.seg || '-' AS pfx,
         CAST(1000 + n_nationkey * 10 + s.sidx AS BIGINT) AS rate
  FROM nation CROSS JOIN segs s
  WHERE n_nationkey % 2 = 0
),
recs AS (
  SELECT c_custkey,
         CAST(c_nationkey AS VARCHAR) || '-' || c_mktsegment || '-'
           || CAST(c_custkey % 97 AS VARCHAR) AS code
  FROM customer
),
m AS (
  SELECT r.c_custkey,
         CAST(max(length(ru.pfx)) AS INT) AS match_len,
         max_by(ru.rate, length(ru.pfx)) AS rate
  FROM recs r JOIN rules ru
    ON substr(r.code, 1, length(ru.pfx)) = ru.pfx
  GROUP BY r.c_custkey
)
SELECT rate, match_len,
       CAST(count(*) AS BIGINT) AS n_matched,
       CAST(sum(c_custkey) AS BIGINT) AS key_sum
FROM m GROUP BY rate, match_len
""",
)
def q048_longest_prefix_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cubicerp_client_etl_spark.operators.lookups import (
        longest_prefix_match,
    )

    nation = load(spark, sf_dir, "nation").select("n_nationkey")
    segs = spark.createDataFrame(
        [(s, i + 1) for i, s in enumerate(sorted(_LPM_SEGS))],
        "seg string, sidx long",
    )
    l1 = nation.select(
        F.concat(F.col("n_nationkey").cast("string"), F.lit("-")).alias("pfx"),
        (F.lit(10) + F.col("n_nationkey")).cast("bigint").alias("rate"),
    )
    l2 = (
        nation.where(F.col("n_nationkey") % 2 == 0)
        .crossJoin(F.broadcast(segs))
        .select(
            F.concat(
                F.col("n_nationkey").cast("string"),
                F.lit("-"),
                F.col("seg"),
                F.lit("-"),
            ).alias("pfx"),
            (F.lit(1000) + F.col("n_nationkey") * 10 + F.col("sidx"))
            .cast("bigint")
            .alias("rate"),
        )
    )
    rules = l1.unionByName(l2)
    recs = load(spark, sf_dir, "customer").select(
        "c_custkey",
        F.concat(
            F.col("c_nationkey").cast("string"),
            F.lit("-"),
            F.col("c_mktsegment"),
            F.lit("-"),
            (F.col("c_custkey") % 97).cast("string"),
        ).alias("code"),
    )
    m = longest_prefix_match(recs, "code", rules, "pfx", ["rate"])
    j = recs.join(m, "code")
    return j.groupBy("rate", "match_len").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_matched"),
        F.sum("c_custkey").cast("bigint").alias("key_sum"),
    )


# --------------------------------------------------------------------------
# q288 (birth q244) — Exact largest-remainder proration (operators/budget.prorate_exact):
# a 2% header discount (cents) prorated over each order's lines
# proportional to extended price, summing EXACTLY to the header amount
# per order — the ERP allocation rule floating prorating never
# satisfies. Rolled up by order priority with both sides of the
# invariant (Σ header amounts = Σ allocations) in the output. Scale:
# two windows on the high-cardinality order key (bounded line fan),
# no self-join.
# --------------------------------------------------------------------------


@register(
    "q288_discount_proration",
    oracle="""
WITH hdr AS (
  SELECT o_orderkey, o_orderpriority,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 50
           AS disc_cents
  FROM orders
),
ln AS (
  SELECT l_orderkey, l_linenumber,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS w
  FROM lineitem
),
j AS (
  SELECT h.o_orderkey, h.o_orderpriority, h.disc_cents, ln.l_linenumber, ln.w
  FROM hdr h JOIN ln ON ln.l_orderkey = h.o_orderkey
),
tot AS (
  SELECT *, sum(w) OVER (PARTITION BY o_orderkey) AS tw FROM j
),
staged AS (
  SELECT *,
         CASE WHEN tw > 0
              THEN CAST(CAST(disc_cents AS HUGEINT) * w // tw AS BIGINT)
              ELSE 0 END AS base,
         CASE WHEN tw > 0
              THEN CAST(CAST(disc_cents AS HUGEINT) * w % tw AS BIGINT)
              ELSE 0 END AS frac
  FROM tot
),
short AS (
  SELECT *, disc_cents - sum(base) OVER (PARTITION BY o_orderkey) AS r,
         row_number() OVER (PARTITION BY o_orderkey
                            ORDER BY frac DESC, l_linenumber) AS rk,
         row_number() OVER (PARTITION BY o_orderkey
                            ORDER BY l_linenumber) AS first_rk
  FROM staged
),
alloc AS (
  SELECT o_orderkey, o_orderpriority, disc_cents, l_linenumber,
         CASE WHEN tw > 0 THEN base + CASE WHEN rk <= r THEN 1 ELSE 0 END
              WHEN first_rk = 1 THEN disc_cents ELSE 0 END AS alloc
  FROM short
),
per_order AS (
  SELECT o_orderkey, o_orderpriority, disc_cents,
         CAST(count(*) AS BIGINT) AS n_lines,
         CAST(sum(alloc) AS BIGINT) AS alloc_sum,
         CAST(max(alloc) AS BIGINT) AS max_line_alloc
  FROM alloc GROUP BY o_orderkey, o_orderpriority, disc_cents
),
agg AS (
  SELECT o_orderpriority,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(n_lines) AS BIGINT) AS n_lines,
         CAST(sum(CAST(disc_cents AS HUGEINT)) AS HUGEINT) AS _hd,
         CAST(sum(CAST(alloc_sum AS HUGEINT)) AS HUGEINT) AS _al,
         CAST(sum(CASE WHEN alloc_sum <> disc_cents THEN 1 ELSE 0 END)
              AS BIGINT) AS n_invariant_breaks,
         CAST(max(max_line_alloc) AS BIGINT) AS max_line_alloc
  FROM per_order GROUP BY o_orderpriority
)
SELECT o_orderpriority, n_orders, n_lines,
       CAST(_hd // 1000000000000000000 AS BIGINT) AS header_cents_hi,
       CAST(_hd % 1000000000000000000 AS BIGINT) AS header_cents_lo,
       CAST(_al // 1000000000000000000 AS BIGINT) AS alloc_cents_hi,
       CAST(_al % 1000000000000000000 AS BIGINT) AS alloc_cents_lo,
       n_invariant_breaks, max_line_alloc
FROM agg
""",
)
def q288_discount_proration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cubicerp_client_etl_spark.functions import hi_lo_bigint
    from cubicerp_client_etl_spark.operators.budget import prorate_exact

    hdr = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.expr(
            "CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
            " div 50 AS BIGINT)"
        ).alias("disc_cents"),
    )
    ln = load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("w"),
    )
    j = hdr.join(ln, hdr.o_orderkey == ln.l_orderkey).drop("l_orderkey")
    alloc = prorate_exact(
        j, "o_orderkey", "disc_cents", "w", "l_linenumber", out_col="alloc"
    )
    per_order = alloc.groupBy("o_orderkey", "o_orderpriority", "disc_cents").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum("alloc").cast("bigint").alias("alloc_sum"),
        F.max("alloc").cast("bigint").alias("max_line_alloc"),
    )
    agg = per_order.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("n_lines").cast("bigint").alias("n_lines"),
        F.sum(F.col("disc_cents").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("_hd"),
        F.sum(F.col("alloc_sum").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("_al"),
        F.sum(
            F.when(F.col("alloc_sum") != F.col("disc_cents"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_invariant_breaks"),
        F.max("max_line_alloc").cast("bigint").alias("max_line_alloc"),
    )
    return agg.select(
        "o_orderpriority",
        "n_orders",
        "n_lines",
        *hi_lo_bigint("_hd", "header_cents"),
        *hi_lo_bigint("_al", "alloc_cents"),
        "n_invariant_breaks",
        "max_line_alloc",
    )


# --------------------------------------------------------------------------
# q245 — MAD robust outlier screen (operators/quantiles.mad_outlier_screen):
# median ± k·MAD fences over lineitem price cents — the 50%-breakdown
# outlier gate a mean±kσ screen cannot be (one wild value drags σ).
# Exact discrete medians from two bounded value-count prefix scans;
# integer k keeps the screen float-free and oracle-replayable.
# --------------------------------------------------------------------------


@register(
    "q245_mad_outlier_screen",
    oracle="""
WITH c AS (
  SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
  FROM lineitem
),
med AS (SELECT quantile_disc(v, 0.5) AS m FROM c),
dev AS (SELECT abs(c.v - med.m) AS d FROM c CROSS JOIN med),
mad AS (SELECT quantile_disc(d, 0.5) AS md FROM dev)
SELECT CAST(count(*) AS BIGINT) AS n,
       CAST(med.m AS BIGINT) AS median,
       CAST(mad.md AS BIGINT) AS mad,
       CAST(med.m - 3 * mad.md AS BIGINT) AS lo_fence,
       CAST(med.m + 3 * mad.md AS BIGINT) AS hi_fence,
       CAST(sum(CASE WHEN c.v < med.m - 3 * mad.md THEN 1 ELSE 0 END)
            AS BIGINT) AS n_low,
       CAST(sum(CASE WHEN c.v > med.m + 3 * mad.md THEN 1 ELSE 0 END)
            AS BIGINT) AS n_high
FROM c CROSS JOIN med CROSS JOIN mad
GROUP BY med.m, mad.md
""",
)
def q245_mad_outlier_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cubicerp_client_etl_spark.operators.quantiles import (
        mad_outlier_screen,
    )

    li = load(spark, sf_dir, "lineitem").select(
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("v")
    )
    return mad_outlier_screen(li, "v", k=3)


# --------------------------------------------------------------------------
# q246 — CUSUM changepoint alarm (operators/quality.cusum_alarm): the
# sequential drift detector over daily error-event counts, evaluated
# in its closed form S_t = P_t − min_{j≤t} P_j (P = prefix sums of
# x − k) — two windows over the BOUNDED per-day aggregate, no
# recursion, no driver loop. Exact integers; both windows replay.
# --------------------------------------------------------------------------

_CUSUM_TARGET = 70  # expected errors/day; drift accumulates above this
_CUSUM_H = 40


@register(
    "q246_cusum_alarm",
    oracle=f"""
WITH d AS (
  SELECT epoch_us(ts) // 86400000000 AS day,
         CAST(count(*) AS BIGINT) AS n
  FROM events WHERE event_type = 'error' GROUP BY 1
),
p AS (
  SELECT day, n,
         sum(n - {_CUSUM_TARGET}) OVER (ORDER BY day
             ROWS UNBOUNDED PRECEDING) AS _p
  FROM d
),
s AS (
  SELECT day, n, _p,
         least(0, min(_p) OVER (ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS _pmin
  FROM p
)
SELECT CAST(day AS BIGINT) AS day, n,
       CAST(_p - _pmin AS BIGINT) AS cusum,
       (_p - _pmin) > {_CUSUM_H} AS alarm
FROM s
""",
)
def q246_cusum_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cubicerp_client_etl_spark.operators.quality import cusum_alarm

    daily = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type") == "error")
        .groupBy(
            F.expr("unix_micros(ts) div 86400000000").alias("day")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    return cusum_alarm(
        daily, "day", "n", target=_CUSUM_TARGET, threshold=_CUSUM_H
    ).select(
        F.col("day").cast("bigint").alias("day"), "n", "cusum", "alarm"
    )


# --------------------------------------------------------------------------
# q247 — Cost-weighted median (operators/quantiles.weighted_median):
# the quantity at which half the SPEND sits at or below — a count
# median answers "typical line", the weight median answers "typical
# dollar". Value-count weight table + two-phase prefix scan; the
# q=1/2 rank rule 2·cum ≥ total runs in exact integers (no float
# division anywhere).
# --------------------------------------------------------------------------


@register(
    "q247_cost_weighted_median",
    oracle="""
WITH v AS (
  SELECT CAST(l_quantity AS BIGINT) AS q,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS w
  FROM lineitem WHERE l_quantity IS NOT NULL AND l_extendedprice > 0
),
c AS (SELECT q, CAST(sum(w) AS BIGINT) AS w, CAST(count(*) AS BIGINT) AS c
      FROM v GROUP BY q),
cum AS (SELECT q, c, sum(w) OVER (ORDER BY q) AS cum FROM c),
tot AS (SELECT CAST(max(cum) AS BIGINT) AS tw, CAST(sum(c) AS BIGINT) AS n
        FROM cum)
SELECT n AS n_rows, tw AS total_weight,
       CAST(min(q) AS BIGINT) AS weighted_median
FROM cum CROSS JOIN tot
WHERE 2 * cum >= tw
GROUP BY n, tw
""",
)
def q247_cost_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cubicerp_client_etl_spark.operators.quantiles import weighted_median

    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("bigint").alias("q"),
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("w"),
    )
    return weighted_median(li, "q", "w")


# --------------------------------------------------------------------------
# q013 (birth q248) — FIFO cost of goods sold (operators/history.fifo_lot_matching):
# FIFO lot consumption expressed as an interval join of cumulative-
# quantity ranges — the set-based form of "consume the oldest lot
# first", no loop, no recursion. Returns (restock lots = inbound,
# shipments = outbound) matches per part with exact matched units and
# lot-costed cents; unfilled demand falls out of the reconciliation.
# Scale: two windows on the high-cardinality part key + one equi-join
# on the key with a range residual (per-part fan bounded by movements
# per part).
# --------------------------------------------------------------------------


@register(
    "q013_fifo_cogs",
    headline=True,
    oracle="""
WITH inb AS (
  SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           // CAST(l_quantity AS BIGINT) AS unit_cents,
         sum(CAST(l_quantity AS BIGINT)) OVER (PARTITION BY l_partkey
             ORDER BY l_shipdate, l_orderkey, l_linenumber
             ROWS UNBOUNDED PRECEDING) AS in_hi
  FROM lineitem WHERE l_returnflag = 'R'
),
lots AS (SELECT *, in_hi - qty AS in_lo FROM inb),
outb AS (
  SELECT l_partkey, CAST(l_quantity AS BIGINT) AS oqty,
         sum(CAST(l_quantity AS BIGINT)) OVER (PARTITION BY l_partkey
             ORDER BY l_shipdate, l_orderkey, l_linenumber
             ROWS UNBOUNDED PRECEDING) AS out_hi
  FROM lineitem WHERE l_returnflag <> 'R'
),
dem AS (SELECT *, out_hi - oqty AS out_lo FROM outb),
m AS (
  SELECT lots.l_partkey,
         least(lots.in_hi, dem.out_hi)
           - greatest(lots.in_lo, dem.out_lo) AS matched_qty,
         lots.unit_cents
  FROM lots JOIN dem
    ON dem.l_partkey = lots.l_partkey
   AND lots.in_lo < dem.out_hi AND dem.out_lo < lots.in_hi
),
tot_out AS (
  SELECT l_partkey, CAST(sum(oqty) AS BIGINT) AS demand_qty
  FROM dem GROUP BY l_partkey
),
agg AS (
  SELECT m.l_partkey,
         CAST(count(*) AS BIGINT) AS n_matches,
         CAST(sum(matched_qty) AS BIGINT) AS matched_qty,
         CAST(sum(CAST(matched_qty AS HUGEINT) * unit_cents) AS HUGEINT)
           AS _cogs
  FROM m GROUP BY m.l_partkey
)
SELECT t.l_partkey,
       CAST(COALESCE(a.n_matches, 0) AS BIGINT) AS n_matches,
       CAST(COALESCE(a.matched_qty, 0) AS BIGINT) AS matched_qty,
       CAST(t.demand_qty - COALESCE(a.matched_qty, 0) AS BIGINT)
         AS unfilled_qty,
       CAST(COALESCE(a._cogs, 0) // 1000000000000000000 AS BIGINT)
         AS cogs_cents_hi,
       CAST(COALESCE(a._cogs, 0) % 1000000000000000000 AS BIGINT)
         AS cogs_cents_lo
FROM tot_out t LEFT JOIN agg a ON a.l_partkey = t.l_partkey
""",
)
def q013_fifo_cogs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cubicerp_client_etl_spark.functions import hi_lo_bigint
    from cubicerp_client_etl_spark.operators.history import fifo_lot_matching

    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_shipdate",
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        F.col("l_quantity").cast("bigint").alias("qty"),
        F.expr(
            "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
            " div CAST(l_quantity AS BIGINT)"
        ).alias("unit_cents"),
    )
    order = [F.col("l_shipdate"), F.col("l_orderkey"), F.col("l_linenumber")]
    inbound = li.where(F.col("l_returnflag") == "R")
    outbound = li.where(F.col("l_returnflag") != "R").withColumnRenamed(
        "qty", "oqty"
    )
    matches = fifo_lot_matching(
        inbound,
        outbound,
        "l_partkey",
        in_order=order,
        out_order=order,
        in_qty="qty",
        out_qty="oqty",
        in_carry=["unit_cents"],
    )
    agg = matches.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_matches"),
        F.sum("matched_qty").cast("bigint").alias("matched_qty"),
        F.sum(
            F.col("matched_qty").cast("decimal(38,0)") * F.col("unit_cents")
        )
        .cast("decimal(38,0)")
        .alias("_cogs"),
    )
    tot_out = outbound.groupBy("l_partkey").agg(
        F.sum("oqty").cast("bigint").alias("demand_qty")
    )
    j = tot_out.join(agg, "l_partkey", "left")
    return j.select(
        "l_partkey",
        F.coalesce("n_matches", F.lit(0)).cast("bigint").alias("n_matches"),
        F.coalesce("matched_qty", F.lit(0)).cast("bigint").alias("matched_qty"),
        (F.col("demand_qty") - F.coalesce("matched_qty", F.lit(0)))
        .cast("bigint")
        .alias("unfilled_qty"),
        F.coalesce(F.col("_cogs"), F.lit(0))
        .cast("decimal(38,0)")
        .alias("_cogs2"),
    ).select(
        "l_partkey",
        "n_matches",
        "matched_qty",
        "unfilled_qty",
        *hi_lo_bigint("_cogs2", "cogs_cents"),
    )


# --------------------------------------------------------------------------
# q249 — ABC (Pareto) inventory classification (operators/quality.
# abc_classification): parts ranked by revenue; the keys covering the
# first 80% of cumulative revenue are A, through 95% B, tail C — the
# warehouse-policy classifier. One keyed aggregation; the ordered
# prefix runs over the bounded distinct-key aggregate (the CDF/Gini
# scan shape).
# --------------------------------------------------------------------------


@register(
    "q249_abc_classification",
    oracle="""
WITH agg AS (
  SELECT l_partkey AS pk,
         CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                  AS BIGINT)) AS BIGINT) AS value
  FROM lineitem GROUP BY l_partkey
),
ranked AS (
  SELECT pk, value,
         CAST(row_number() OVER (ORDER BY value DESC, pk) AS BIGINT) AS rank,
         CAST(sum(value) OVER (ORDER BY value DESC, pk
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_value,
         CAST(sum(value) OVER () AS BIGINT) AS _tot
  FROM agg
)
SELECT pk AS l_partkey, value, rank, cum_value,
       CAST(CAST(cum_value AS HUGEINT) * 1000000 // _tot AS BIGINT)
         AS cum_share_e6,
       CASE WHEN CAST(cum_value AS HUGEINT) * 1000000 // _tot <= 800000
            THEN 'A'
            WHEN CAST(cum_value AS HUGEINT) * 1000000 // _tot <= 950000
            THEN 'B' ELSE 'C' END AS abc_class
FROM ranked
""",
)
def q249_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cubicerp_client_etl_spark.operators.quality import abc_classification

    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey",
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    return abc_classification(li, "l_partkey", "cents")


# --------------------------------------------------------------------------
# q250 — Session path signatures (operators/behavior.session_paths):
# 30-minute-gap sessions fingerprinted by their first-5 event types
# ("view>click>purchase"), rolled up to path frequencies — the
# navigation-pattern mining behind funnel DISCOVERY (q232 measures a
# known funnel; this finds the candidates). Scale: user-key windows,
# per-session rank, ONE aggregation whose collected state is capped
# at 5 elements before collection.
# --------------------------------------------------------------------------

_PATH_GAP_US = 30 * 60 * 1_000_000
_PATH_STEPS = 5


@register(
    "q250_session_paths",
    oracle=f"""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS t, event_id, event_type FROM events
),
marked AS (
  SELECT *, CASE WHEN lag(t) OVER w IS NULL
                   OR t - lag(t) OVER w >= {_PATH_GAP_US}
                 THEN 1 ELSE 0 END AS new_sess
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
),
sessed AS (
  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY t, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM marked
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY user_id, session_seq
                               ORDER BY t, event_id) AS rk
  FROM sessed
),
per_sess AS (
  SELECT user_id, session_seq,
         CAST(count(*) AS BIGINT) AS n_events,
         string_agg(event_type, '>' ORDER BY rk)
           FILTER (WHERE rk <= {_PATH_STEPS}) AS path
  FROM ranked GROUP BY user_id, session_seq
)
SELECT path,
       CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(sum(n_events) AS BIGINT) AS total_events
FROM per_sess GROUP BY path
""",
)
def q250_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cubicerp_client_etl_spark.operators.behavior import session_paths

    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts")).alias("t_us"),
        "event_type",
    )
    sess = session_paths(
        ev,
        "user_id",
        "t_us",
        "event_type",
        "event_id",
        gap=_PATH_GAP_US,
        max_steps=_PATH_STEPS,
    )
    return sess.groupBy("path").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.sum("n_events").cast("bigint").alias("total_events"),
    )


# --------------------------------------------------------------------------
# q251 — Price–volume–mix bridge (operators/finance.price_volume_bridge):
# decompose the 1994 → 1995 revenue change per part into volume effect
# (prior price × quantity change, sign-factored truncation so Spark
# div == DuckDB //) and price effect (exact residual), with new/lost
# assortment classified; rolled up by brand. One full-outer equi-join
# on the part key after two keyed period aggregates.
# --------------------------------------------------------------------------


@register(
    "q251_price_volume_bridge",
    oracle="""
WITH base AS (
  SELECT l_partkey, year(l_shipdate) AS yr,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q,
         CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                  AS BIGINT)) AS BIGINT) AS r
  FROM lineitem WHERE year(l_shipdate) IN (1994, 1995)
  GROUP BY l_partkey, year(l_shipdate)
),
p AS (SELECT l_partkey, q AS q_prev, r AS rev_prev FROM base WHERE yr = 1994),
c AS (SELECT l_partkey, q AS q_cur, r AS rev_cur FROM base WHERE yr = 1995),
j AS (
  SELECT COALESCE(p.l_partkey, c.l_partkey) AS l_partkey,
         CASE WHEN p.l_partkey IS NULL THEN 'new'
              WHEN c.l_partkey IS NULL THEN 'lost' ELSE 'both' END AS status,
         COALESCE(q_prev, 0) AS q_prev, COALESCE(q_cur, 0) AS q_cur,
         COALESCE(rev_prev, 0) AS rev_prev, COALESCE(rev_cur, 0) AS rev_cur
  FROM p FULL OUTER JOIN c ON c.l_partkey = p.l_partkey
),
eff AS (
  SELECT *, rev_cur - rev_prev AS delta_rev,
         CASE WHEN status = 'both' AND q_prev > 0
              THEN (CASE WHEN q_cur - q_prev < 0 THEN -1 ELSE 1 END)
                   * CAST(CAST(rev_prev AS HUGEINT) * abs(q_cur - q_prev)
                          // q_prev AS BIGINT)
              ELSE 0 END AS volume_eff
  FROM j
),
eff2 AS (
  SELECT *, CASE WHEN status = 'both' THEN delta_rev - volume_eff
                 ELSE 0 END AS price_eff
  FROM eff
)
SELECT pt.p_brand, eff2.status,
       CAST(count(*) AS BIGINT) AS n_parts,
       CAST(sum(delta_rev) AS BIGINT) AS delta_rev,
       CAST(sum(volume_eff) AS BIGINT) AS volume_eff,
       CAST(sum(price_eff) AS BIGINT) AS price_eff
FROM eff2 JOIN part pt ON pt.p_partkey = eff2.l_partkey
GROUP BY pt.p_brand, eff2.status
""",
)
def q251_price_volume_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cubicerp_client_etl_spark.operators.finance import (
        price_volume_bridge,
    )

    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.year("l_shipdate").alias("yr"),
        F.col("l_quantity").cast("bigint").alias("q"),
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("r"),
    ).where(F.col("yr").isin(1994, 1995))
    base = li.groupBy("l_partkey", "yr").agg(
        F.sum("q").cast("bigint").alias("q"),
        F.sum("r").cast("bigint").alias("r"),
    )
    prev = base.where(F.col("yr") == 1994)
    cur = base.where(F.col("yr") == 1995)
    bridge = price_volume_bridge(prev, cur, "l_partkey", "q", "r")
    part = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    j = bridge.join(
        F.broadcast(part), bridge.l_partkey == part.p_partkey
    )
    return j.groupBy("p_brand", "status").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        F.sum("delta_rev").cast("bigint").alias("delta_rev"),
        F.sum("volume_eff").cast("bigint").alias("volume_eff"),
        F.sum("price_eff").cast("bigint").alias("price_eff"),
    )


# --------------------------------------------------------------------------
# q252 — Peak concurrent sessions (operators/behavior.peak_concurrency):
# the capacity question, answered with the boundary walk — +1/−1
# deltas, global running sum via the TWO-PHASE SCAN (prefix.prefix_sum
# — never a single-partition window over corpus-sized boundaries),
# per-day max. Sessions are the 30-minute-gap kind; a session's
# interval is [first event, last event + 1us) so single-event
# sessions still occupy their tick.
# --------------------------------------------------------------------------


@register(
    "q252_peak_concurrency",
    oracle=f"""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS t, event_id FROM events
),
marked AS (
  SELECT *, CASE WHEN lag(t) OVER w IS NULL
                   OR t - lag(t) OVER w >= {_PATH_GAP_US}
                 THEN 1 ELSE 0 END AS new_sess
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
),
sessed AS (
  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY t, event_id
                                ROWS UNBOUNDED PRECEDING) AS sess
  FROM marked
),
iv AS (
  SELECT user_id, sess, min(t) AS s, max(t) + 1 AS e
  FROM sessed GROUP BY user_id, sess
),
bounds AS (
  SELECT s AS t, CAST(1 AS BIGINT) AS d FROM iv
  UNION ALL
  SELECT e AS t, CAST(-1 AS BIGINT) AS d FROM iv
),
cum AS (
  SELECT t, d, sum(d) OVER (ORDER BY t, d ROWS UNBOUNDED PRECEDING) AS c
  FROM bounds
),
grid AS (
  SELECT CAST(t // 86400000000 AS BIGINT) AS day,
         CAST(count(*) AS BIGINT) AS n_boundaries,
         CAST(max(c) AS BIGINT) AS max_c,
         CAST(sum(d) AS BIGINT) AS sum_d
  FROM cum GROUP BY 1
),
span AS (SELECT min(day) AS lo, max(day) AS hi FROM grid),
dense AS (SELECT unnest(generate_series(lo, hi)) AS day FROM span),
j AS (
  SELECT dense.day,
         CAST(COALESCE(g.n_boundaries, 0) AS BIGINT) AS n_boundaries,
         g.max_c,
         CAST(COALESCE(g.sum_d, 0) AS BIGINT) AS sum_d
  FROM dense LEFT JOIN grid g ON g.day = dense.day
),
w AS (
  SELECT day, n_boundaries, max_c,
         CAST(COALESCE(sum(sum_d) OVER (ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS carry_in
  FROM j
)
SELECT CAST(day AS BIGINT) AS day, n_boundaries,
       CAST(greatest(COALESCE(max_c, carry_in), carry_in) AS BIGINT)
         AS peak_concurrency
FROM w
""",
)
def q252_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cubicerp_client_etl_spark.operators.behavior import peak_concurrency
    from pyspark.sql import Window as W

    ev = load(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("t"),
        "event_id",
    )
    w_u = W.partitionBy("user_id").orderBy("t", "event_id")
    new_sess = F.when(
        F.lag("t").over(w_u).isNull()
        | (F.col("t") - F.lag("t").over(w_u) >= _PATH_GAP_US),
        1,
    ).otherwise(0)
    sessed = ev.withColumn(
        "sess",
        F.sum(new_sess).over(
            W.partitionBy("user_id")
            .orderBy("t", "event_id")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    iv = sessed.groupBy("user_id", "sess").agg(
        F.min("t").alias("s"), (F.max("t") + 1).alias("e")
    )
    return peak_concurrency(
        iv, "s", "e", F.expr("t div 86400000000"), bucket_name="day"
    ).select(
        F.col("day").cast("bigint").alias("day"),
        "n_boundaries",
        "peak_concurrency",
    )


# --------------------------------------------------------------------------
# q253 — Per-brand revenue trend (operators/quality.grouped_ols_trend):
# exact closed-form OLS slope/intercept over (month index, monthly
# revenue cents) per brand — one keyed aggregation of five sufficient
# statistics, decimal(38,0) products, truncating integer division
# replayed sign-factored in the oracle (numerators go negative for
# falling brands; DuckDB // floors while Spark div truncates).
# --------------------------------------------------------------------------


@register(
    "q253_brand_revenue_trend",
    oracle="""
WITH m AS (
  SELECT pt.p_brand,
         (year(l_shipdate) - 1992) * 12 + month(l_shipdate) - 1 AS x,
         CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                  AS BIGINT)) AS BIGINT) AS y
  FROM lineitem JOIN part pt ON pt.p_partkey = lineitem.l_partkey
  GROUP BY pt.p_brand, x
),
agg AS (
  SELECT p_brand,
         CAST(count(*) AS BIGINT) AS n,
         sum(CAST(x AS HUGEINT)) AS sx,
         sum(CAST(y AS HUGEINT)) AS sy,
         sum(CAST(x AS HUGEINT) * x) AS sxx,
         sum(CAST(x AS HUGEINT) * y) AS sxy
  FROM m GROUP BY p_brand
),
d AS (
  SELECT *, n * sxx - sx * sx AS det,
         (n * sxy - sx * sy) * 1000000 AS s_num,
         (sy * sxx - sx * sxy) * 1000000 AS i_num
  FROM agg
)
SELECT p_brand, n, CAST(sy AS BIGINT) AS sum_y,
       CASE WHEN n >= 2 AND det <> 0 THEN
         CAST(CASE WHEN s_num < 0 THEN -((-s_num) // det)
                   ELSE s_num // det END AS BIGINT) END AS slope_e6,
       CASE WHEN n >= 2 AND det <> 0 THEN
         CAST(CASE WHEN i_num < 0 THEN -((-i_num) // det)
                   ELSE i_num // det END AS BIGINT) END AS intercept_e6
FROM d
""",
)
def q253_brand_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cubicerp_client_etl_spark.operators.quality import grouped_ols_trend

    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey",
        (
            (F.year("l_shipdate") - 1992) * 12 + F.month("l_shipdate") - 1
        ).alias("x"),
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    part = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    monthly = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "x")
        .agg(F.sum("cents").cast("bigint").alias("y"))
    )
    return grouped_ols_trend(monthly, ["p_brand"], "x", "y")


# --------------------------------------------------------------------------
# q287 (birth q254) — Incremental aggregate maintenance (operators/history.
# maintain_aggregate): fold a deterministic changelog (every 9th
# lineitem deleted, every 7th re-inserted with doubled quantity) into
# the pre-aggregated (returnflag, linestatus) summary WITHOUT touching
# the fact table — cost O(|delta| + touched groups) at any fact size.
# The query PROVES maintain ≡ recompute by building both sides and
# diffing: the output is the maintained summary plus a recompute_match
# flag per group (all true). Scale: one changelog agg + one summary
# join; the recompute side exists only as the fixture's truth.
# --------------------------------------------------------------------------


@register(
    "q287_incremental_aggregate",
    oracle="""
WITH fact AS (
  SELECT l_returnflag AS rf, l_linestatus AS ls,
         CAST(l_quantity AS BIGINT) AS qty,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS cents,
         l_orderkey, l_linenumber
  FROM lineitem
),
summary AS (
  SELECT rf, ls, CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(qty) AS BIGINT) AS sum_qty,
         CAST(sum(cents) AS BIGINT) AS sum_cents
  FROM fact GROUP BY rf, ls
),
chg AS (
  SELECT rf, ls, qty, cents, 'D' AS op FROM fact
  WHERE (l_orderkey * 10 + l_linenumber) % 9 = 0
  UNION ALL
  SELECT rf, ls, qty * 2, cents, 'I' AS op FROM fact
  WHERE (l_orderkey * 10 + l_linenumber) % 7 = 0
),
delta AS (
  SELECT rf, ls,
         CAST(sum(CASE WHEN op = 'D' THEN -1 ELSE 1 END) AS BIGINT) AS dc,
         CAST(sum(CASE WHEN op = 'D' THEN -qty ELSE qty END) AS BIGINT)
           AS dq,
         CAST(sum(CASE WHEN op = 'D' THEN -cents ELSE cents END) AS BIGINT)
           AS dcents
  FROM chg GROUP BY rf, ls
),
maintained AS (
  SELECT COALESCE(s.rf, d.rf) AS rf, COALESCE(s.ls, d.ls) AS ls,
         COALESCE(s.n_rows, 0) + COALESCE(d.dc, 0) AS n_rows,
         COALESCE(s.sum_qty, 0) + COALESCE(d.dq, 0) AS sum_qty,
         COALESCE(s.sum_cents, 0) + COALESCE(d.dcents, 0) AS sum_cents
  FROM summary s FULL OUTER JOIN delta d ON d.rf = s.rf AND d.ls = s.ls
),
m2 AS (SELECT * FROM maintained WHERE n_rows <> 0),
recompute AS (
  SELECT rf, ls, CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(qty) AS BIGINT) AS sum_qty,
         CAST(sum(cents) AS BIGINT) AS sum_cents
  FROM (
    SELECT rf, ls, qty, cents FROM fact
    WHERE (l_orderkey * 10 + l_linenumber) % 9 <> 0
    UNION ALL
    SELECT rf, ls, qty * 2, cents FROM fact
    WHERE (l_orderkey * 10 + l_linenumber) % 7 = 0
    UNION ALL
    -- rows hit by BOTH rules: the delete removed the original, the
    -- insert added the doubled copy; recompute must mirror the
    -- changelog exactly — original removed (first branch), doubled
    -- copy present (second branch). Nothing extra needed; this
    -- placeholder branch is empty by construction.
    SELECT rf, ls, qty, cents FROM fact WHERE 1 = 0
  ) GROUP BY rf, ls
)
SELECT m2.rf AS l_returnflag, m2.ls AS l_linestatus,
       m2.n_rows, m2.sum_qty, m2.sum_cents,
       (r.n_rows = m2.n_rows AND r.sum_qty = m2.sum_qty
        AND r.sum_cents = m2.sum_cents) AS recompute_match
FROM m2 JOIN recompute r ON r.rf = m2.rf AND r.ls = m2.ls
""",
)
def q287_incremental_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cubicerp_client_etl_spark.operators.history import maintain_aggregate

    fact = load(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("rf"),
        F.col("l_linestatus").alias("ls"),
        F.col("l_quantity").cast("bigint").alias("qty"),
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents"),
        ((F.col("l_orderkey") * 10 + F.col("l_linenumber")) % 9).alias("_m9"),
        ((F.col("l_orderkey") * 10 + F.col("l_linenumber")) % 7).alias("_m7"),
    )
    summary = fact.groupBy("rf", "ls").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("qty").cast("bigint").alias("sum_qty"),
        F.sum("cents").cast("bigint").alias("sum_cents"),
    )
    dels = fact.where(F.col("_m9") == 0).select(
        "rf", "ls", "qty", "cents", F.lit("D").alias("op")
    )
    ins = fact.where(F.col("_m7") == 0).select(
        "rf",
        "ls",
        (F.col("qty") * 2).alias("qty"),
        "cents",
        F.lit("I").alias("op"),
    )
    changes = dels.unionByName(ins).withColumnsRenamed(
        {"qty": "sum_qty", "cents": "sum_cents"}
    )
    maintained = maintain_aggregate(
        summary,
        changes,
        keys=["rf", "ls"],
        count_col="n_rows",
        sum_cols=["sum_qty", "sum_cents"],
    )
    recompute = (
        fact.where(F.col("_m9") != 0)
        .select("rf", "ls", "qty", "cents")
        .unionByName(
            fact.where(F.col("_m7") == 0).select(
                "rf", "ls", (F.col("qty") * 2).alias("qty"), "cents"
            )
        )
        .groupBy("rf", "ls")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("r_n"),
            F.sum("qty").cast("bigint").alias("r_q"),
            F.sum("cents").cast("bigint").alias("r_c"),
        )
    )
    return (
        maintained.join(recompute, ["rf", "ls"])
        .select(
            F.col("rf").alias("l_returnflag"),
            F.col("ls").alias("l_linestatus"),
            "n_rows",
            "sum_qty",
            "sum_cents",
            (
                (F.col("r_n") == F.col("n_rows"))
                & (F.col("r_q") == F.col("sum_qty"))
                & (F.col("r_c") == F.col("sum_cents"))
            ).alias("recompute_match"),
        )
    )


# --------------------------------------------------------------------------
# q255 — Nested document assembly (the API-export shape): each order
# is assembled into ONE canonical document string — header fields plus
# its lines sorted by line number — exactly what the reference pushes
# row-at-a-time over RPC (cubicerpetl.py:739-811), here as one keyed
# collect with a CANONICAL serialization (explicit concat, never
# engine-native to_json — Spark and DuckDB render JSON differently)
# hashed per document and rolled up per priority. Scale: one shuffle
# on the order key; per-order line fan is bounded (an order holds
# tens of lines), so the collected array is bounded per group.
# --------------------------------------------------------------------------


@register(
    "q255_nested_order_export",
    oracle="""
WITH ln AS (
  SELECT l_orderkey,
         l_linenumber || ',' || CAST(CAST(l_quantity AS BIGINT) AS VARCHAR)
           || ',' || CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                          AS BIGINT) AS VARCHAR) AS line_s,
         l_linenumber
  FROM lineitem
),
doc AS (
  SELECT o.o_orderkey, o.o_orderpriority,
         o.o_orderkey || '|' || o.o_orderstatus || '|'
           || CAST(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
                   AS BIGINT) AS VARCHAR)
           || '|' || COALESCE(string_agg(ln.line_s, ';'
                              ORDER BY ln.l_linenumber, ln.line_s), '')
           AS body,
         CAST(count(ln.l_orderkey) AS BIGINT) AS n_lines
  FROM orders o LEFT JOIN ln ON ln.l_orderkey = o.o_orderkey
  GROUP BY o.o_orderkey, o.o_orderstatus, o.o_totalprice, o.o_orderpriority
),
h AS (
  SELECT o_orderpriority, n_lines,
         CAST(concat('0x', substr(md5(body), 1, 8)) AS BIGINT) AS doc_h
  FROM doc
)
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_lines) AS BIGINT) AS n_lines,
       CAST(sum(doc_h) AS BIGINT) AS doc_hash_sum
FROM h GROUP BY o_orderpriority
""",
)
def q255_nested_order_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cubicerp_client_etl_spark.functions import md5_hash32

    ln = load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.concat_ws(
            ",",
            F.col("l_linenumber").cast("string"),
            F.col("l_quantity").cast("bigint").cast("string"),
            (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
            .cast("bigint")
            .cast("string"),
        ).alias("line_s"),
    )
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )
    assembled = (
        orders.join(ln, orders.o_orderkey == ln.l_orderkey, "left")
        .groupBy("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
        .agg(
            F.count("l_orderkey").cast("bigint").alias("n_lines"),
            # sorted-by-linenumber canonical body: collect bounded
            # per-order structs, array_sort by the leading int field
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("l_orderkey").isNotNull(),
                                F.struct(
                                    F.col("l_linenumber").alias("n"),
                                    F.col("line_s").alias("s"),
                                ),
                            )
                        )
                    ),
                    lambda x: x["s"],
                ),
                ";",
            ).alias("lines_s"),
        )
    )
    doc = assembled.select(
        "o_orderpriority",
        "n_lines",
        md5_hash32(
            F.concat(
                F.col("o_orderkey").cast("string"),
                F.lit("|"),
                F.col("o_orderstatus"),
                F.lit("|"),
                (F.col("o_totalprice").cast("decimal(18,2)") * 100)
                .cast("bigint")
                .cast("string"),
                F.lit("|"),
                F.col("lines_s"),
            )
        ).alias("doc_h"),
    )
    return doc.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_lines").cast("bigint").alias("n_lines"),
        F.sum("doc_h").cast("bigint").alias("doc_hash_sum"),
    )


# --------------------------------------------------------------------------
# q256 — Cross-document boilerplate audit (operators/curation.
# boilerplate_shingle_report): shingles present in ≥ half a source's
# documents are template chrome; per doc the boilerplate share, rolled
# up per source. Exact integer cross-multiplication threshold (no
# division); the shingle mass is the same table every dedup pass
# already touches. Oracle replays tokenization, DF marking and the
# per-doc shares with the established q029 shingle SQL shape.
# --------------------------------------------------------------------------

_BP_RATIO_E6 = 500_000


@register(
    "q256_boilerplate_audit",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, source,
         string_split_regex(lower(trim(text)), '\\s+') AS t
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, source, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
  FROM toks CROSS JOIN generate_series(1, 4096) g(i)
  WHERE len(t) >= 3 AND i <= len(t) - 2
  UNION
  SELECT DISTINCT doc_id, source, array_to_string(t, ' ') AS sh
  FROM toks WHERE len(t) < 3
),
nd AS (SELECT source, CAST(count(*) AS BIGINT) AS _nd
       FROM documents GROUP BY source),
freq AS (SELECT source, sh, CAST(count(*) AS BIGINT) AS _df
         FROM sh GROUP BY source, sh),
marked AS (
  SELECT f.source, f.sh,
         f._df * 1000000 >= {_BP_RATIO_E6} * nd._nd AS b
  FROM freq f JOIN nd ON nd.source = f.source
),
j AS (
  SELECT s.doc_id, s.source, m.b
  FROM sh s JOIN marked m ON m.source = s.source AND m.sh = s.sh
),
per_doc AS (
  SELECT doc_id, source,
         CAST(count(*) AS BIGINT) AS n_shingles,
         CAST(sum(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
         CAST(sum(CASE WHEN b THEN 1 ELSE 0 END) * 1000000 // count(*)
              AS BIGINT) AS ratio_e6
  FROM j GROUP BY doc_id, source
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_shingles) AS BIGINT) AS n_shingles,
       CAST(sum(n_boiler) AS BIGINT) AS n_boiler,
       CAST(sum(ratio_e6) // count(*) AS BIGINT) AS mean_ratio_e6,
       CAST(sum(CASE WHEN ratio_e6 >= {_BP_RATIO_E6} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_heavy_docs
FROM per_doc GROUP BY source
""",
)
def q256_boilerplate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cubicerp_client_etl_spark.operators.curation import (
        boilerplate_shingle_report,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text", "source")
    rep = boilerplate_shingle_report(
        docs, "doc_id", "text", "source", shingle_n=3,
        df_ratio_e6=_BP_RATIO_E6,
    )
    return rep.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_shingles").cast("bigint").alias("n_shingles"),
        F.sum("n_boiler").cast("bigint").alias("n_boiler"),
        F.expr("CAST(sum(boiler_ratio_e6) div count(1) AS BIGINT)").alias(
            "mean_ratio_e6"
        ),
        F.sum(
            F.when(F.col("boiler_ratio_e6") >= _BP_RATIO_E6, 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_heavy_docs"),
    )


# --------------------------------------------------------------------------
# q257 — Association strength (operators/drift.association_strength):
# Cramér's V between order priority and order status — the normalized
# is-this-column-predictive screen (raw χ² grows with n; V is
# comparable across tables). e6/e12 fixed point + the floor-corrected
# integer sqrt, every step oracle-replayed.
# --------------------------------------------------------------------------


@register(
    "q257_association_strength",
    oracle="""
WITH cells AS (
  SELECT o_orderpriority AS row_val, o_orderstatus AS col_val,
         CAST(count(*) AS BIGINT) AS n
  FROM orders GROUP BY 1, 2
),
rt AS (SELECT row_val, CAST(sum(n) AS BIGINT) AS row_total
       FROM cells GROUP BY row_val),
ct AS (SELECT col_val, CAST(sum(n) AS BIGINT) AS col_total
       FROM cells GROUP BY col_val),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS grand_total FROM cells),
grid AS (SELECT * FROM rt CROSS JOIN ct CROSS JOIN tot),
fullg AS (
  SELECT g.row_val, g.col_val, CAST(COALESCE(c.n, 0) AS BIGINT) AS n,
         g.row_total, g.col_total, g.grand_total
  FROM grid g LEFT JOIN cells c
    ON c.row_val = g.row_val AND c.col_val = g.col_val
),
q AS (
  SELECT *,
         CAST(n AS HUGEINT) * 1000000 // grand_total AS a,
         CAST(row_total AS HUGEINT) * 1000000 // grand_total AS b,
         CAST(col_total AS HUGEINT) * 1000000 // grand_total AS c
  FROM fullg
),
contrib AS (
  SELECT grand_total, row_val, col_val,
         CASE WHEN b > 0 AND c > 0 THEN
           CAST(CAST(grand_total AS HUGEINT)
                * (a * 1000000 - b * c) * (a * 1000000 - b * c)
                // (1000000 * b * c) AS BIGINT)
         ELSE NULL END AS cell_chi2_e6
  FROM q
),
agg AS (
  SELECT CAST(max(grand_total) AS BIGINT) AS n,
         CAST(count(DISTINCT row_val) AS BIGINT) AS r_levels,
         CAST(count(DISTINCT col_val) AS BIGINT) AS c_levels,
         CAST(sum(cell_chi2_e6) AS BIGINT) AS chi2_e6
  FROM contrib
),
rooted AS (
  SELECT *,
         CASE WHEN least(r_levels, c_levels) >= 2 THEN
           CAST(CAST(chi2_e6 AS HUGEINT) * 1000000
                // (n * (least(r_levels, c_levels) - 1)) AS BIGINT)
         ELSE 0 END AS ratio,
         CAST(floor(sqrt(CAST(CASE WHEN least(r_levels, c_levels) >= 2 THEN
           CAST(CAST(chi2_e6 AS HUGEINT) * 1000000
                // (n * (least(r_levels, c_levels) - 1)) AS BIGINT)
         ELSE 0 END AS DOUBLE))) AS BIGINT) AS s0
  FROM agg
)
SELECT n, r_levels, c_levels, chi2_e6,
       CAST(CASE WHEN least(r_levels, c_levels) >= 2 THEN
         s0 + (CASE WHEN (s0 + 1) * (s0 + 1) <= ratio THEN 1 ELSE 0 END)
            - (CASE WHEN s0 * s0 > ratio THEN 1 ELSE 0 END)
       ELSE 0 END AS BIGINT) AS cramers_v_e6
FROM rooted
""",
)
def q257_association_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cubicerp_client_etl_spark.operators.drift import association_strength

    orders = load(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderstatus"
    )
    return association_strength(orders, "o_orderpriority", "o_orderstatus")
