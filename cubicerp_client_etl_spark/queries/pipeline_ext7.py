"""Round-6 extension waves (q171+ at birth; the flagships were
later rotated into the driver window by the round-6 renames in
tools/renames.json):
positional fingerprinting,
portable-HLL cardinality, deterministic corpus splits, DSIR importance
weighting, BM25 retrieval, tokenizer-fertility observability, LSH
quality auditing, embedding moment statistics.

Same corpus discipline as the rest of the registry: exact integer /
IEEE-deterministic arithmetic so every query carries a DuckDB oracle
the driver can hash-compare, and every operator keeps the shape that
survives 100 TB — per-document windows on high-cardinality keys,
bounded broadcast dimensions, equi-joins on hash buckets, no raw-row
windows on low-cardinality keys, no all-pairs.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cubicerp_client_etl_spark.catalog import load
from cubicerp_client_etl_spark.queries import register
from cubicerp_client_etl_spark.checkpointing import pin

# --------------------------------------------------------------------------
# q259 (birth q009) — Winnowing fingerprints (operators/winnow.py; Schleimer et al.
# 2003): the POSITIONAL member of the fingerprint family — char-8-gram
# hashes, window-4 minima with rightmost tie-break, per-document digest.
# The (hash, rightmost-pos) pair is packed into one bigint so a single
# MIN window implements the selection rule exactly; DuckDB replays the
# identical pack/unpack arithmetic, so the digest is a value-level check
# of every selected fingerprint. Scale: window partitioned by doc_id
# (high cardinality), fan-out bounded by doc length, one keyed exchange.
# --------------------------------------------------------------------------
_WINNOW_K = 8
_WINNOW_W = 4


@register(
    "q259_winnowing_fingerprints",
    headline=True,  # track the round-6 wave wall-clock (rolls into value_all)
    oracle=f"""
WITH d AS (
  SELECT doc_id,
         trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
  FROM documents
),
g AS (
  SELECT doc_id, greatest(len(t) - {_WINNOW_K - 1}, 1) AS ng, s.i AS i,
         CAST(concat('0x',
              substr(md5(substr(t, s.i, {_WINNOW_K}) || '|win'), 1, 8))
           AS BIGINT) AS h
  FROM d CROSS JOIN generate_series(1, 640) s(i)
  WHERE s.i <= greatest(len(t) - {_WINNOW_K - 1}, 1)
),
c AS (
  SELECT doc_id, ng, i,
         h * 2147483648 + (2147483648 - i) AS ck
  FROM g
),
m AS (
  SELECT doc_id, ng, i,
         MIN(ck) OVER (PARTITION BY doc_id ORDER BY i
                       ROWS BETWEEN CURRENT ROW
                       AND {_WINNOW_W - 1} FOLLOWING) AS mc
  FROM c
),
sel AS (
  SELECT DISTINCT doc_id, ng,
         mc // 2147483648 AS mh,
         2147483648 - (mc % 2147483648) AS rpos
  FROM m
  WHERE i <= greatest(ng - {_WINNOW_W - 1}, 1)
)
SELECT doc_id,
       CAST(ANY_VALUE(ng) AS BIGINT) AS n_grams,
       CAST(COUNT(*) AS BIGINT) AS n_fp,
       md5(string_agg(rpos || ':' || mh, ','
                      ORDER BY rpos || ':' || mh)) AS fp_digest
FROM sel
GROUP BY doc_id
ORDER BY doc_id
""",
)
def q259_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cubicerp_client_etl_spark.operators.winnow import winnow_digest_inline

    from cubicerp_client_etl_spark.catalog import widen_scan

    # the shuffle-free row-local form (winnowing is a per-document
    # local algorithm); bit-equal to the windowed
    # winnow_fingerprints → fingerprint_digest chain, pinned by
    # tests/test_wave2_ops.py::test_winnow_inline_digest_equals_windowed.
    # widen_scan: the per-gram hashing is the corpus's heaviest map
    # stage — don't let a single-row-group fixture file serialize it
    # on one core (measured 7.6 s -> 0.9 s on local[32])
    docs = widen_scan(
        load(spark, sf_dir, "documents").select("doc_id", "text")
    )
    return winnow_digest_inline(
        docs, "doc_id", "text", k=_WINNOW_K, w=_WINNOW_W
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# q215 (birth q011) — Portable HyperLogLog (operators/sketches.py hll_registers /
# hll_estimate; Flajolet et al. 2007): the ORACLE-CHECKABLE HLL —
# q077's native approx_count_distinct sketch is opaque bytes (rows-only
# forever), while this register table is the repo's md5 hash family and
# the estimate is one exact integer division (harmonic-mean denominator
# kept as Σ 2^(RMAX−M[j])), so DuckDB replays registers AND estimate
# bit-for-bit. Reported next to the exact distinct count so the query
# doubles as the sketch's accuracy datasheet. Scale: map projection +
# 64-group max (map-side partial); registers merge by max across
# shards/streams.
# --------------------------------------------------------------------------
@register(
    "q215_hll_portable_cardinality",
    oracle="""
WITH h AS (
  SELECT CAST(concat('0x',
           substr(md5(CAST(user_id AS VARCHAR) || '|hll1'), 1, 8))
         AS BIGINT) AS h
  FROM events
),
b AS (SELECT h // 67108864 AS bucket, h % 67108864 AS r FROM h),
rho AS (
  SELECT bucket,
         MAX(CASE WHEN r = 0 THEN 27 ELSE 27 - length(bin(r)) END) AS m_rho
  FROM b GROUP BY bucket
),
regs AS (
  SELECT g.i AS bucket, COALESCE(rho.m_rho, 0) AS m_rho
  FROM generate_series(0, 63) g(i) LEFT JOIN rho ON rho.bucket = g.i
),
agg AS (
  SELECT CAST(64 AS BIGINT) AS m,
         CAST(SUM(CASE WHEN m_rho = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_zero,
         CAST(SUM(CAST(1 AS BIGINT) << (27 - m_rho)) AS BIGINT) AS denom
  FROM regs
),
est AS (
  SELECT m, v_zero, denom,
         CAST(389776872046592000 // (denom * 1000000) AS BIGINT) AS hll_est
  FROM agg
),
ex AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact FROM events)
SELECT m, v_zero, denom, hll_est, n_exact,
       CAST(abs(hll_est - n_exact) * 1000000 // n_exact AS BIGINT) AS err_e6
FROM est CROSS JOIN ex
""",
)
def q215_hll_portable_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cubicerp_client_etl_spark.functions import e6_floor_ratio
    from cubicerp_client_etl_spark.operators.sketches import (
        hll_estimate,
        hll_registers,
    )

    ev = load(spark, sf_dir, "events").select("user_id")
    est = hll_estimate(hll_registers(ev, "user_id", seed="1"))
    exact = ev.agg(F.count_distinct("user_id").cast("bigint").alias("n_exact"))
    return est.join(F.broadcast(exact)).select(
        "m",
        "v_zero",
        "denom",
        "hll_est",
        "n_exact",
        e6_floor_ratio(
            F.abs(F.col("hll_est") - F.col("n_exact")), F.col("n_exact")
        ).alias("err_e6"),
    )


# --------------------------------------------------------------------------
# q173 — Deterministic corpus split datasheet (operators/sampling.py
# hash_split): the train/val/test partition every released corpus ships
# with — membership a pure function of md5(doc_id|salt), so the split
# is stable under reruns, repartitioning, engine swap, AND corpus
# append (old rows never migrate). Disjoint + exhaustive by
# construction (no row dropped, buckets partition [0, 1000)). Output is
# the per-split release datasheet: doc/token counts, e6 share, id
# range. Scale: the split itself is a map-side projection (no
# shuffle); the datasheet is one keyed agg over 3 groups.
# --------------------------------------------------------------------------
@register(
    "q173_hash_split_datasheet",
    oracle="""
WITH s AS (
  SELECT doc_id,
         CASE
           WHEN b < 900 THEN 'train'
           WHEN b < 950 THEN 'val'
           ELSE 'test'
         END AS split,
         CASE WHEN len(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_toks
  FROM (
    SELECT doc_id, text,
           CAST(concat('0x',
             substr(md5(CAST(doc_id AS VARCHAR) || '|splitr6'), 1, 8))
           AS BIGINT) % 1000 AS b
    FROM documents)
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM s)
SELECT split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) * 1000000 // ANY_VALUE(tot.n) AS BIGINT) AS share_e6,
       CAST(MIN(doc_id) AS BIGINT) AS min_id,
       CAST(MAX(doc_id) AS BIGINT) AS max_id
FROM s CROSS JOIN tot
GROUP BY split
ORDER BY split
""",
)
def q173_hash_split_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cubicerp_client_etl_spark.functions import e6_floor_ratio
    from cubicerp_client_etl_spark.operators.sampling import hash_split
    from cubicerp_client_etl_spark.operators.text import token_count

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    split = hash_split(docs, "doc_id", salt="r6").select(
        "doc_id", "split", token_count("text").cast("bigint").alias("n_toks")
    )
    tot = split.agg(F.count(F.lit(1)).cast("bigint").alias("_n"))
    return (
        split.join(F.broadcast(tot))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_toks").cast("bigint").alias("n_tokens"),
            e6_floor_ratio(F.count(F.lit(1)), F.first("_n")).alias("share_e6"),
            F.min("doc_id").cast("bigint").alias("min_id"),
            F.max("doc_id").cast("bigint").alias("max_id"),
        )
        .orderBy("split")
    )


# --------------------------------------------------------------------------
# q239 (birth q014) — DSIR importance weighting (operators/dsir.py; Xie et al.
# NeurIPS 2023): hashed-unigram importance resampling weights — target
# model = the English slice, raw model = the whole corpus; each doc
# scores the integer sum of its tokens' per-bucket e6 log-likelihood
# ratios (one ln per BUCKET rounded once — the q039 idf precedent —
# then pure integer sums, order-independent). Top-50 most target-like
# docs. Scale: B-row weight table broadcast; map-side bucketing; one
# keyed agg — no corpus-sized state anywhere.
# --------------------------------------------------------------------------
_DSIR_B = 256


@register(
    "q239_dsir_importance_weights",
    headline=True,  # track the round-6 wave wall-clock (rolls into value_all)
    oracle=f"""
WITH tok AS (
  SELECT doc_id, lang, source, u.t AS t
  FROM documents,
       UNNEST(string_split_regex(lower(trim(text)), '\\s+')) AS u(t)
  WHERE len(trim(text)) > 0
),
bt AS (
  SELECT doc_id, lang, source,
         CAST(concat('0x', substr(md5(t || '|dsir'), 1, 8)) AS BIGINT)
           % {_DSIR_B} AS b
  FROM tok
),
rawc AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS rc FROM bt GROUP BY b),
tgtc AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS tc
         FROM bt WHERE lang = 'en' GROUP BY b),
tots AS (
  SELECT (SELECT COUNT(*) FROM bt) AS tr,
         (SELECT COUNT(*) FROM bt WHERE lang = 'en') AS tt
),
w AS (
  SELECT g.i AS b,
         CAST(round(ln(
           (CAST(COALESCE(tc, 0) + 1 AS DOUBLE) * (tr + {_DSIR_B})) /
           (CAST(COALESCE(rc, 0) + 1 AS DOUBLE) * (tt + {_DSIR_B}))
         ) * 1000000) AS BIGINT) AS llr_e6
  FROM generate_series(0, {_DSIR_B - 1}) g(i)
  LEFT JOIN rawc ON rawc.b = g.i
  LEFT JOIN tgtc ON tgtc.b = g.i
  CROSS JOIN tots
)
SELECT bt.doc_id,
       ANY_VALUE(bt.source) AS source,
       CAST(COUNT(*) AS BIGINT) AS n_toks,
       CAST(SUM(w.llr_e6) AS BIGINT) AS weight_e6
FROM bt JOIN w ON w.b = bt.b
GROUP BY bt.doc_id
ORDER BY weight_e6 DESC, doc_id
LIMIT 50
""",
)
def q239_dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cubicerp_client_etl_spark.operators.dsir import (
        dsir_bucket_weights,
        dsir_doc_scores,
    )

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "text"
    )
    from cubicerp_client_etl_spark.operators.dsir import dsir_bucket

    # Hash every token to its bucket ONCE and checkpoint: the weights
    # pass (raw + en target) and the scoring pass all consume the same
    # (explode + md5) stream — the former form re-ran both three times.
    # Token strings are dropped before the checkpoint (buckets are all
    # downstream needs), so the pinned frame is narrow.
    toks = docs.where(F.length(F.trim("text")) > 0).select(
        "doc_id",
        "lang",
        "source",
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("t"),
    )
    toks_b = toks.select(
        "doc_id",
        "lang",
        "source",
        dsir_bucket(F.col("t"), _DSIR_B).alias("_b"),
    ).transform(pin)
    weights = dsir_bucket_weights(
        toks_b,
        toks_b.where(F.col("lang") == "en"),
        "t",
        n_buckets=_DSIR_B,
        bucket_col="_b",
    )
    scores = dsir_doc_scores(
        toks_b,
        weights,
        ["doc_id", "source"],
        "t",
        n_buckets=_DSIR_B,
        bucket_col="_b",
    )
    return (
        scores.select("doc_id", "source", "n_toks", "weight_e6")
        .orderBy(F.col("weight_e6").desc(), "doc_id")
        .limit(50)
    )


# --------------------------------------------------------------------------
# q270 (birth q018) — BM25 ranked retrieval (operators/retrieval.py; Okapi BM25,
# k1 = 1.2, b = 0.75): the lexical-search leg next to the vector ANN
# stack — eval-leakage triage and corpus audit by keyword probe. The
# tf saturation is EXACT rational arithmetic (multiplied through by
# 10·L: tf_part = 22·L·tf / (10·L·tf + 3·L + 9·dl·N), one
# e6_floor_ratio); idf is the Lucene-shaped ln((N+1)/(df+0.5)) rounded
# once to e6 per TERM (the q039 precedent), then every doc score is an
# integer sum — order-independent, oracle-replayed bit-for-bit.
# Scale: postings for non-probe terms never shuffle; probe dims and
# totals broadcast; top-k is TakeOrdered.
# --------------------------------------------------------------------------
_BM25_TERMS = ("vector", "hash", "stream")


@register(
    "q270_bm25_topk",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, u.t AS t
  FROM documents,
       UNNEST(string_split_regex(lower(trim(text)), '\\s+')) AS u(t)
  WHERE len(trim(text)) > 0
),
dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS l FROM dl
),
tf AS (
  SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks WHERE t IN ('vector', 'hash', 'stream')
  GROUP BY doc_id, t
),
dft AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY t),
idf AS (
  SELECT t,
         CAST(round(ln(CAST(n + 1 AS DOUBLE) / (df + 0.5)) * 1000000)
           AS BIGINT) AS idf_e6
  FROM dft CROSS JOIN tot
),
scored AS (
  SELECT tf.doc_id,
         idf.idf_e6 *
           (22 * tot.l * tf.tf * 1000000
            // (10 * tot.l * tf.tf + 3 * tot.l + 9 * dl.dl * tot.n)) AS s_e12
  FROM tf
  JOIN dl ON dl.doc_id = tf.doc_id
  JOIN idf ON idf.t = tf.t
  CROSS JOIN tot
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_terms_hit,
       CAST(SUM(s_e12) AS BIGINT) AS score_e12
FROM scored
GROUP BY doc_id
ORDER BY score_e12 DESC, doc_id
LIMIT 10
""",
)
def q270_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cubicerp_client_etl_spark.operators.retrieval import bm25_topk

    docs = load(spark, sf_dir, "documents").where(
        F.length(F.trim("text")) > 0
    )
    return bm25_topk(docs, "doc_id", "text", _BM25_TERMS, k=10)


# --------------------------------------------------------------------------
# q176 — Tokenizer fertility by language (reuses the q025/q161 BPE
# chain): the release datasheet tokenizer teams publish — per language,
# BPE tokens per word (fertility) and chars per BPE token — the metric
# that exposes when a vocab trained on English shreds other languages
# into character soup. Shares the exact unrolled merge-chain oracle
# with q025/q161 (operators/bpe.py segments each distinct WORD once and
# broadcasts the segmentation — the corpus never runs per-row Python).
# All ratios exact e6 integers. Scale: vocab-sized dims broadcast, two
# keyed aggs (doc then language).
# --------------------------------------------------------------------------


def _q176_oracle() -> str:
    from cubicerp_client_etl_spark.queries.pipeline_ext5 import (
        _BPE_K,
        _bpe_ctes,
    )

    return (
        "WITH "
        + _bpe_ctes(_BPE_K)
        + f""",
seg AS (
  SELECT w, len(string_split(trim(sym), ' ')) AS n_sub FROM v{_BPE_K}
),
wrd AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents
),
per_doc AS (
  SELECT t.doc_id, ANY_VALUE(t.lang) AS lang,
         CAST(COUNT(*) AS BIGINT) AS n_words,
         CAST(SUM(s.n_sub) AS BIGINT) AS n_bpe
  FROM (SELECT doc_id, lang, w FROM wrd WHERE len(w) > 0) t
  JOIN seg s USING (w)
  GROUP BY t.doc_id
),
chars AS (SELECT doc_id, CAST(len(text) AS BIGINT) AS n_chars FROM documents)
SELECT p.lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(p.n_words) AS BIGINT) AS n_words,
       CAST(SUM(p.n_bpe) AS BIGINT) AS n_bpe_tokens,
       CAST(SUM(c.n_chars) AS BIGINT) AS n_chars,
       CAST(SUM(p.n_bpe) * 1000000 // SUM(p.n_words) AS BIGINT)
         AS fertility_e6,
       CAST(SUM(c.n_chars) * 1000000 // SUM(p.n_bpe) AS BIGINT)
         AS chars_per_token_e6
FROM per_doc p JOIN chars c USING (doc_id)
GROUP BY p.lang
ORDER BY p.lang
"""
    )


@register("q176_tokenizer_fertility", oracle=_q176_oracle())
def q176_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cubicerp_client_etl_spark.functions import e6_floor_ratio
    from cubicerp_client_etl_spark.operators.bpe import (
        bpe_learn,
        bpe_segment_vocab,
    )
    from cubicerp_client_etl_spark.queries.pipeline_ext5 import _BPE_K

    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    merges = bpe_learn(docs.select("text"), "text", num_merges=_BPE_K)
    seg = bpe_segment_vocab(docs.select("text"), merges, "text").select(
        "w", F.size("tokens").alias("n_sub")
    )
    words = docs.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("w")
    ).where(F.length("w") > 0)
    per_doc = (
        words.join(F.broadcast(seg), "w")
        .groupBy("doc_id")
        .agg(
            F.first("lang").alias("lang"),
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("n_sub").cast("bigint").alias("n_bpe"),
        )
    )
    chars = docs.select("doc_id", F.length("text").cast("bigint").alias("n_chars"))
    return (
        per_doc.join(chars, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_words").cast("bigint").alias("n_words"),
            F.sum("n_bpe").cast("bigint").alias("n_bpe_tokens"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
        )
        .select(
            "lang",
            "n_docs",
            "n_words",
            "n_bpe_tokens",
            "n_chars",
            e6_floor_ratio(F.col("n_bpe_tokens"), F.col("n_words")).alias(
                "fertility_e6"
            ),
            e6_floor_ratio(F.col("n_chars"), F.col("n_bpe_tokens")).alias(
                "chars_per_token_e6"
            ),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# q262 (birth q177) — LSH quality audit (precision/recall of the q032 MinHash-LSH
# band join vs exact-Jaccard ground truth at τ = 0.5): the
# accuracy/cost datasheet a dedup config ships with — the near-dup twin
# of q162's ANN recall report. Ground truth = pairs sharing >= 1
# shingle with exact integer Jaccard_e6 >= 500000 (any pair with J > 0
# shares a shingle, so the shingle equi-join IS the exact candidate
# universe — no all-pairs); candidates = the same portable MinHash/band
# pipeline q032 ships. Both sides exact integers → the report's every
# cell is oracle-replayed. Scale guard (VERDICT r6 "what's wrong" #1):
# the exact side runs through ``exact_jaccard_truth(df_cap=64)`` — a
# stopword-class shingle shared by n docs would emit n² intersection
# rows, so shingles with document frequency > 64 are dropped from the
# truth universe (sizes AND intersections, consistently; the oracle
# applies the identical cap). At the fixture SFs the max shingle df is
# 31, so the cap drops nothing here; at production scale it bounds
# per-shingle pair mass to C(64,2) — the documented recall trade is
# pairs whose overlap lives only in ultra-common shingles. The LSH
# side is the bucketed join that scales unchanged.
# --------------------------------------------------------------------------
@register(
    "q262_lsh_quality_report",
    oracle="""
WITH dupped AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
),
toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t FROM dupped
),
sh_all AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
  FROM toks CROSS JOIN generate_series(1, 4096) g(i)
  WHERE len(t) >= 3 AND i <= len(t) - 2
  UNION
  SELECT DISTINCT doc_id, array_to_string(t, ' ') AS sh FROM toks WHERE len(t) < 3
),
-- df_cap = 64: hot-shingle guard, mirrored from exact_jaccard_truth
sh AS (
  SELECT s.doc_id, s.sh FROM sh_all s
  JOIN (SELECT sh FROM sh_all GROUP BY sh HAVING COUNT(*) <= 64) ok
    ON ok.sh = s.sh
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
truth AS (
  SELECT i.id_a, i.id_b
  FROM inter i
  JOIN sizes za ON za.doc_id = i.id_a
  JOIN sizes zb ON zb.doc_id = i.id_b
  WHERE i.n_inter * 1000000 // (za.sz + zb.sz - i.n_inter) >= 500000
),
hashes AS (
  SELECT doc_id, g.i AS i, MIN(md5(sh || '|' || g.i)) AS h
  FROM sh_all CROSS JOIN generate_series(0, 31) g(i)
  GROUP BY doc_id, g.i
),
bands AS (
  SELECT doc_id, CAST(i // 4 AS INT) AS band_id,
         md5(string_agg(h, '|' ORDER BY i)) AS band_hash
  FROM hashes GROUP BY doc_id, i // 4
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
),
nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM truth),
nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cand FROM cand),
tp AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_tp
  FROM cand c JOIN truth t ON t.id_a = c.id_a AND t.id_b = c.id_b
)
SELECT n_truth, n_cand, n_tp,
       CAST(CASE WHEN n_cand = 0 THEN 0
                 ELSE n_tp * 1000000 // n_cand END AS BIGINT) AS precision_e6,
       CAST(CASE WHEN n_truth = 0 THEN 0
                 ELSE n_tp * 1000000 // n_truth END AS BIGINT) AS recall_e6
FROM nt CROSS JOIN nc CROSS JOIN tp
""",
)
def q262_lsh_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cubicerp_client_etl_spark.functions import e6_floor_ratio
    from cubicerp_client_etl_spark.operators import dedup as dd

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    dupped = docs.unionByName(
        docs.filter(F.col("doc_id") % 7 == 0).withColumn(
            "doc_id", F.col("doc_id") + 1000000
        )
    )
    # truth feeds the truth-count and the TP join; cand feeds the
    # cand-count and the TP join — checkpoint both so the exact-truth
    # join and the LSH candidate join each run once
    truth = dd.exact_jaccard_truth(
        dupped, "doc_id", "text", shingle_n=3, threshold_e6=500000, df_cap=64
    ).select("id_a", "id_b").transform(pin)
    sigs = dd.minhash_signatures(dupped, "doc_id", "text", num_hashes=32)
    cand = dd.lsh_candidate_pairs(
        sigs, "doc_id", num_hashes=32, bands=8
    ).transform(pin)
    nt = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_truth"))
    ncand = cand.agg(F.count(F.lit(1)).cast("bigint").alias("n_cand"))
    tp = cand.join(truth, ["id_a", "id_b"]).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tp")
    )
    safe = lambda num, den: F.when(den == 0, F.lit(0).cast("bigint")).otherwise(  # noqa: E731
        e6_floor_ratio(num, den)
    )
    return (
        nt.join(F.broadcast(ncand))
        .join(F.broadcast(tp))
        .select(
            "n_truth",
            "n_cand",
            "n_tp",
            safe(F.col("n_tp"), F.col("n_cand")).alias("precision_e6"),
            safe(F.col("n_tp"), F.col("n_truth")).alias("recall_e6"),
        )
    )


# --------------------------------------------------------------------------
# q178 — Embedding moment statistics per label (the distribution
# datasheet for an embedding corpus — per-class counts, centroid
# digest, and total within-class scatter trace — what a clustering /
# whitening / drift stage reads before touching the vectors). Vectors
# are e3-quantized (floor(v·1000 + 0.5), the q165 quantization
# precedent) so first and second moments are EXACT integer sums:
# trace_css = Σ_dims (n·Σq² − (Σq)²) is n·(unnormalized variance
# trace), computed without a mean subtraction pass — one-shot,
# merge-friendly, catastrophic-cancellation-free. Scale: posexplode
# (×64 bounded fan-out) + two keyed aggs, both map-side combinable;
# bigint ceiling n < ~3e6 rows/label at e3 quantization (DECIMAL
# discipline would lift it; the oracle errors rather than diverges
# past the ceiling, per the e6_floor_ratio convention).
# --------------------------------------------------------------------------
@register(
    "q178_embedding_moments",
    oracle="""
WITH q AS (
  SELECT label, vec_id, g.i AS dim,
         CAST(floor(CAST(embedding AS DOUBLE[])[g.i] * 1000 + 0.5)
           AS BIGINT) AS qv
  FROM embeddings CROSS JOIN generate_series(1, 64) g(i)
),
per_dim AS (
  SELECT label, dim,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(qv) AS BIGINT) AS s1,
         CAST(SUM(qv * qv) AS BIGINT) AS s2
  FROM q GROUP BY label, dim
)
SELECT label,
       CAST(ANY_VALUE(n) AS BIGINT) AS n_vecs,
       CAST(SUM(n * s2 - s1 * s1) AS BIGINT) AS trace_css,
       md5(string_agg(dim || ':' || (s1 // n), ',' ORDER BY dim))
         AS centroid_digest
FROM per_dim
GROUP BY label
ORDER BY label
""",
)
def q178_embedding_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select("label", "vec_id", "embedding")
    q = emb.select(
        "label",
        "vec_id",
        F.posexplode(
            F.transform(
                F.col("embedding").cast("array<double>"),
                lambda x: F.floor(x * 1000 + F.lit(0.5)).cast("bigint"),
            )
        ).alias("_d0", "qv"),
    ).select("label", "vec_id", (F.col("_d0") + 1).alias("dim"), "qv")
    per_dim = q.groupBy("label", "dim").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("qv").cast("bigint").alias("s1"),
        F.sum(F.col("qv") * F.col("qv")).cast("bigint").alias("s2"),
    )
    pair = F.format_string("%d:%d", F.col("dim"), F.expr("s1 div n"))
    return (
        per_dim.groupBy("label")
        .agg(
            F.first("n").cast("bigint").alias("n_vecs"),
            F.sum(F.col("n") * F.col("s2") - F.col("s1") * F.col("s1"))
            .cast("bigint")
            .alias("trace_css"),
            F.md5(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct(F.col("dim"), pair.alias("p")))
                        ),
                        lambda s: s.getField("p"),
                    ),
                ).cast("binary")
            ).alias("centroid_digest"),
        )
        .orderBy("label")
    )


# --------------------------------------------------------------------------
# q179 — Classifier threshold calibration sweep (extends q166): the
# keep-rate-vs-threshold curve a quality-filter deployment is tuned
# with — for each candidate threshold, corpus keep count, exact e6
# keep rate, and the kept mass's summed score. Same hashed-BoW integer
# scoring as q166 (one scoring pass; the threshold dim is a 5-row
# broadcast literal — the sweep costs ONE extra bounded join, not five
# scoring passes). Everything integer → oracle-replayed exactly.
# --------------------------------------------------------------------------
_QC179_THRESHOLDS = (-20000, -10000, 0, 10000, 20000)


@register(
    "q179_classifier_threshold_sweep",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
b AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(token || '|qcls'), 1, 8)) AS BIGINT)
           % 1024 AS bucket
  FROM tok
),
w AS (
  SELECT g.b AS bucket,
         CAST(concat('0x', substr(md5(CAST(g.b AS VARCHAR) || '|qclsw'), 1, 8))
              AS BIGINT) % 2001 - 1000 AS w
  FROM (SELECT unnest(generate_series(0, 1023)) AS b) g
),
scored AS (
  SELECT b.doc_id, CAST(SUM(w.w) AS BIGINT) AS score
  FROM b JOIN w USING (bucket) GROUP BY b.doc_id
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM scored),
th AS (SELECT unnest(ARRAY[{", ".join(str(t) for t in _QC179_THRESHOLDS)}]) AS threshold)
SELECT CAST(th.threshold AS BIGINT) AS threshold,
       ANY_VALUE(n.n_docs) AS n_docs,
       CAST(SUM(CASE WHEN s.score >= th.threshold THEN 1 ELSE 0 END)
         AS BIGINT) AS n_keep,
       CAST(SUM(CASE WHEN s.score >= th.threshold THEN 1 ELSE 0 END)
            * 1000000 // ANY_VALUE(n.n_docs) AS BIGINT) AS keep_e6,
       CAST(SUM(CASE WHEN s.score >= th.threshold THEN s.score ELSE 0 END)
         AS BIGINT) AS sum_score_kept
FROM scored s CROSS JOIN th CROSS JOIN n
GROUP BY th.threshold
ORDER BY threshold
""",
)
def q179_classifier_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cubicerp_client_etl_spark.functions import e6_floor_ratio
    from cubicerp_client_etl_spark.operators.classifier import (
        derived_weights,
        score_documents,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    weights = derived_weights(spark, 1024, "qclsw")
    scored = score_documents(docs, weights, 1024, "qcls")
    th = spark.createDataFrame(
        [(t,) for t in _QC179_THRESHOLDS], "threshold bigint"
    )
    n = scored.agg(F.count(F.lit(1)).cast("bigint").alias("_n"))
    keep = F.when(F.col("score") >= F.col("threshold"), 1).otherwise(0)
    return (
        scored.join(F.broadcast(th))
        .join(F.broadcast(n))
        .groupBy("threshold")
        .agg(
            F.first("_n").alias("n_docs"),
            F.sum(keep).cast("bigint").alias("n_keep"),
            e6_floor_ratio(F.sum(keep), F.first("_n")).alias("keep_e6"),
            F.sum(
                F.when(F.col("score") >= F.col("threshold"), F.col("score"))
                .otherwise(0)
            )
            .cast("bigint")
            .alias("sum_score_kept"),
        )
        .orderBy("threshold")
    )


# --------------------------------------------------------------------------
# q180 — Johnson–Lindenstrauss random projection (64 → 16 dims) with a
# distance-preservation datasheet: the cheap dimensionality reduction
# an ANN/cluster stage runs before indexing. The projection matrix is
# ±1 signs derived from md5(i|j) — no stored model, identical in any
# engine — applied to the q178-style e3-quantized vectors, so every
# projected coordinate is an EXACT integer dot product. The datasheet
# reports, per probe pair, the original and projected squared
# distances and their e6 ratio against the E[ratio] = k scaling (JL:
# E[‖Sx‖²] = k·‖x‖² for ±1 signs) — the empirical concentration the
# lemma promises. Scale: the projection is a d×k-bounded fan-out
# (explode ×64, sign dim 1024 rows broadcast) + one keyed sum — a
# dense matrix multiply's natural Spark shape; probe pairs are a
# bounded self-join over vec_id < 8.
# --------------------------------------------------------------------------
_JL_K = 16


@register(
    "q180_jl_projection_datasheet",
    oracle=f"""
WITH q AS (
  SELECT vec_id, g.i AS i,
         CAST(floor(CAST(embedding AS DOUBLE[])[g.i] * 1000 + 0.5)
           AS BIGINT) AS qv
  FROM embeddings CROSS JOIN generate_series(1, 64) g(i)
  WHERE vec_id < 8
),
s AS (
  SELECT gi.i AS i, gj.j AS j,
         CASE WHEN CAST(concat('0x',
                substr(md5(gi.i || '|' || gj.j || '|jl'), 1, 8)) AS BIGINT)
                % 2 = 0
              THEN 1 ELSE -1 END AS sgn
  FROM generate_series(1, 64) gi(i)
  CROSS JOIN generate_series(1, {_JL_K}) gj(j)
),
y AS (
  SELECT q.vec_id, s.j, CAST(SUM(q.qv * s.sgn) AS BIGINT) AS yv
  FROM q JOIN s ON s.i = q.i
  GROUP BY q.vec_id, s.j
),
d2o AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         CAST(SUM((a.qv - b.qv) * (a.qv - b.qv)) AS BIGINT) AS d2_orig
  FROM q a JOIN q b ON a.i = b.i AND a.vec_id < b.vec_id
  GROUP BY a.vec_id, b.vec_id
),
d2p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         CAST(SUM((a.yv - b.yv) * (a.yv - b.yv)) AS BIGINT) AS d2_proj
  FROM y a JOIN y b ON a.j = b.j AND a.vec_id < b.vec_id
  GROUP BY a.vec_id, b.vec_id
)
SELECT o.id_a, o.id_b, o.d2_orig, p.d2_proj,
       CAST(p.d2_proj * 1000000 // (o.d2_orig * {_JL_K}) AS BIGINT)
         AS ratio_vs_k_e6
FROM d2o o JOIN d2p p ON p.id_a = o.id_a AND p.id_b = o.id_b
ORDER BY o.id_a, o.id_b
""",
)
def q180_jl_projection_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cubicerp_client_etl_spark.functions import e6_floor_ratio, md5_hash32

    emb = load(spark, sf_dir, "embeddings").where(F.col("vec_id") < 8)
    q = emb.select(
        "vec_id",
        F.posexplode(
            F.transform(
                F.col("embedding").cast("array<double>"),
                lambda x: F.floor(x * 1000 + F.lit(0.5)).cast("bigint"),
            )
        ).alias("_d0", "qv"),
    ).select("vec_id", (F.col("_d0") + 1).alias("i"), "qv")
    sgn = (
        spark.range(1, 65)
        .select(F.col("id").alias("i"))
        .join(spark.range(1, _JL_K + 1).select(F.col("id").alias("j")))
        .select(
            "i",
            "j",
            F.when(
                md5_hash32(
                    F.concat(
                        F.col("i").cast("string"),
                        F.lit("|"),
                        F.col("j").cast("string"),
                        F.lit("|jl"),
                    )
                )
                % 2
                == 0,
                1,
            )
            .otherwise(-1)
            .alias("sgn"),
        )
    )
    y = (
        q.join(F.broadcast(sgn), "i")
        .groupBy("vec_id", "j")
        .agg(F.sum(F.col("qv") * F.col("sgn")).cast("bigint").alias("yv"))
    )

    def pair_d2(df: DataFrame, dim: str, val: str, out: str) -> DataFrame:
        a = df.select(F.col("vec_id").alias("id_a"), dim, F.col(val).alias("_va"))
        b = df.select(F.col("vec_id").alias("id_b"), dim, F.col(val).alias("_vb"))
        return (
            a.join(b, dim)
            .where(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(
                F.sum((F.col("_va") - F.col("_vb")) * (F.col("_va") - F.col("_vb")))
                .cast("bigint")
                .alias(out)
            )
        )

    d2o = pair_d2(q, "i", "qv", "d2_orig")
    d2p = pair_d2(y, "j", "yv", "d2_proj")
    return (
        d2o.join(d2p, ["id_a", "id_b"])
        .select(
            "id_a",
            "id_b",
            "d2_orig",
            "d2_proj",
            e6_floor_ratio(F.col("d2_proj"), F.col("d2_orig") * _JL_K).alias(
                "ratio_vs_k_e6"
            ),
        )
        .orderBy("id_a", "id_b")
    )


# --------------------------------------------------------------------------
# q181 — Split balance audit (composes q173's hash_split with q156's
# drift arithmetic): after a deterministic train/val split, is val
# actually distributed like train? One row: token totals, vocabulary
# overlap, and the exact-integer total-variation distance between the
# two unigram distributions (Σ|p_t − p_v|/2 over e6 floor
# probabilities) — the release gate that catches a skewed split before
# an eval is trusted. Scale: one conditional-sum pass over tokens
# (map-side combinable), then all arithmetic on the vocab-sized count
# table.
# --------------------------------------------------------------------------
@register(
    "q181_split_balance_audit",
    oracle="""
WITH s AS (
  SELECT doc_id, text,
         CASE
           WHEN b < 900 THEN 'train' WHEN b < 950 THEN 'val' ELSE 'test'
         END AS split
  FROM (
    SELECT doc_id, text,
           CAST(concat('0x',
             substr(md5(CAST(doc_id AS VARCHAR) || '|splitr6'), 1, 8))
           AS BIGINT) % 1000 AS b
    FROM documents)
),
tok AS (
  SELECT split, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t
  FROM s WHERE split IN ('train', 'val') AND len(trim(text)) > 0
),
c AS (
  SELECT t,
         CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS ct,
         CAST(SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS cv
  FROM tok GROUP BY t
),
tot AS (
  SELECT CAST(SUM(ct) AS BIGINT) AS nt, CAST(SUM(cv) AS BIGINT) AS nv FROM c
)
SELECT ANY_VALUE(tot.nt) AS n_train_toks,
       ANY_VALUE(tot.nv) AS n_val_toks,
       CAST(SUM(CASE WHEN ct > 0 AND cv > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_shared_terms,
       CAST(COUNT(*) AS BIGINT) AS n_terms_union,
       CAST(SUM(abs(ct * 1000000 // tot.nt - cv * 1000000 // tot.nv)) // 2
         AS BIGINT) AS tv_e6
FROM c CROSS JOIN tot
""",
)
def q181_split_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cubicerp_client_etl_spark.functions import e6_floor_ratio
    from cubicerp_client_etl_spark.operators.sampling import hash_split

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    s = hash_split(docs, "doc_id", salt="r6")
    tok = (
        s.where(F.col("split").isin("train", "val"))
        .where(F.length(F.trim("text")) > 0)
        .select(
            "split",
            F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("t"),
        )
    )
    c = tok.groupBy("t").agg(
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0))
        .cast("bigint")
        .alias("ct"),
        F.sum(F.when(F.col("split") == "val", 1).otherwise(0))
        .cast("bigint")
        .alias("cv"),
    )
    tot = c.agg(
        F.sum("ct").cast("bigint").alias("nt"),
        F.sum("cv").cast("bigint").alias("nv"),
    )
    return (
        c.join(F.broadcast(tot))
        .select(
            "ct",
            "cv",
            "nt",
            "nv",
            e6_floor_ratio(F.col("ct"), F.col("nt")).alias("_e6t"),
            e6_floor_ratio(F.col("cv"), F.col("nv")).alias("_e6v"),
        )
        .agg(
            F.first("nt").alias("n_train_toks"),
            F.first("nv").alias("n_val_toks"),
            F.sum(F.when((F.col("ct") > 0) & (F.col("cv") > 0), 1).otherwise(0))
            .cast("bigint")
            .alias("n_shared_terms"),
            F.count(F.lit(1)).cast("bigint").alias("n_terms_union"),
            F.expr("CAST(SUM(abs(_e6t - _e6v)) div 2 AS BIGINT)").alias("tv_e6"),
        )
    )


# --------------------------------------------------------------------------
# q182 — Inverted-index build (the postings artifact behind q018's
# BM25): per term, document frequency, total term frequency, and an
# md5 digest of the full postings list (doc_id:tf pairs in doc order)
# — value-checking every posting without returning composite cells
# (the window-contract serialization discipline). Top-20 terms by df.
# Scale: postings build is one (term, doc) keyed agg then one term
# agg; per-term postings concentrate on their term's task — at corpus
# scale, stopword-class terms make the digest column a deliberate
# hot-key choice (cap or shard upstream), while df/tf aggregates stay
# map-side combinable.
# --------------------------------------------------------------------------
@register(
    "q036_inverted_index",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t
  FROM documents WHERE len(trim(text)) > 0
),
tf AS (
  SELECT t, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tok GROUP BY t, doc_id
)
SELECT t AS term,
       CAST(COUNT(*) AS BIGINT) AS df,
       CAST(SUM(tf) AS BIGINT) AS tf_total,
       md5(string_agg(doc_id || ':' || tf, ',' ORDER BY doc_id))
         AS postings_digest
FROM tf
GROUP BY t
ORDER BY df DESC, term
LIMIT 20
""",
)
def q036_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").where(F.length(F.trim("text")) > 0)
    tok = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("term"),
    )
    tf = tok.groupBy("term", "doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    post = F.format_string("%d:%d", F.col("doc_id"), F.col("tf"))
    return (
        tf.groupBy("term")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("df"),
            F.sum("tf").cast("bigint").alias("tf_total"),
            F.md5(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(F.col("doc_id"), post.alias("p"))
                            )
                        ),
                        lambda s: s.getField("p"),
                    ),
                ).cast("binary")
            ).alias("postings_digest"),
        )
        .orderBy(F.col("df").desc(), "term")
        .limit(20)
    )


# --------------------------------------------------------------------------
# q033 — Distributed PCA: dominant principal direction by exact-integer
# power iteration (operators/pca.py). The corpus is scanned ONCE into
# the d×d centered scatter matrix (one-shot n·Σqq − Σq·Σq identity —
# no mean-subtraction pass, no cancellation); three power-iteration
# rounds then run entirely over the bounded 4096-row matrix with
# max-abs renormalization (v·1000 div max|v| — no sqrt, engine-exact
# truncation), and the Rayleigh quotient gives the dominant eigenvalue
# at the scatter scale. EVERY iterate is an exact integer vector, so
# the oracle unrolls the full recursion (the q013/q165 CTE technique)
# and value-checks all 64 final coordinates plus the eigenvalue.
# Scale: the only data-sized stage is the d²-bounded Gram
# accumulation; iterations touch nothing but the matrix.
# --------------------------------------------------------------------------
def _pca_ctes(iters: int = 3) -> list[str]:
    ctes = [
        """q AS (
  SELECT vec_id, g.i AS i,
         CAST(floor(CAST(embedding AS DOUBLE[])[g.i] * 1000 + 0.5)
           AS BIGINT) AS qv
  FROM embeddings CROSS JOIN generate_series(1, 64) g(i))""",
        "s1 AS (SELECT i, CAST(SUM(qv) AS BIGINT) AS s1 FROM q GROUP BY i)",
        "nn AS (SELECT CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n FROM q)",
        """cm AS (
  SELECT x.i AS i, x.j AS j,
         CAST((nn.n * x.sqq - si.s1 * sj.s1) // nn.n AS BIGINT) AS a
  FROM (SELECT a.i AS i, b.i AS j, CAST(SUM(a.qv * b.qv) AS BIGINT) AS sqq
        FROM q a JOIN q b USING (vec_id) GROUP BY a.i, b.i) x
  JOIN s1 si ON si.i = x.i
  JOIN s1 sj ON sj.i = x.j
  CROSS JOIN nn)""",
        "v0 AS (SELECT g.i AS i, CAST(1000 AS BIGINT) AS v "
        "FROM generate_series(1, 64) g(i))",
    ]
    for r in range(iters):
        ctes.append(
            f"w{r} AS (SELECT cm.i, CAST(SUM(cm.a * v.v) AS BIGINT) AS w "
            f"FROM cm JOIN v{r} v ON v.i = cm.j GROUP BY cm.i)"
        )
        ctes.append(
            f"m{r} AS (SELECT CAST(MAX(abs(w)) AS BIGINT) AS m FROM w{r})"
        )
        ctes.append(
            f"""v{r + 1} AS (
  SELECT i, CAST((CASE WHEN w < 0 THEN -1 WHEN w > 0 THEN 1 ELSE 0 END)
                 * ((abs(w) * 1000) // m) AS BIGINT) AS v
  FROM w{r} CROSS JOIN m{r})"""
        )
    ctes.append(
        f"wf AS (SELECT cm.i, CAST(SUM(cm.a * v.v) AS BIGINT) AS w "
        f"FROM cm JOIN v{iters} v ON v.i = cm.j GROUP BY cm.i)"
    )
    ctes.append(
        f"""lam AS (
  SELECT CAST(vw // vv AS BIGINT) AS lambda0
  FROM (SELECT CAST(SUM(v.v * w.w) AS BIGINT) AS vw,
               CAST(SUM(v.v * v.v) AS BIGINT) AS vv
        FROM v{iters} v JOIN wf w USING (i)))"""
    )
    return ctes


def _pca_oracle(iters: int = 3) -> str:
    return (
        "WITH "
        + ",\n".join(_pca_ctes(iters))
        + f"""
SELECT v.i AS dim, v.v AS v, lam.lambda0
FROM v{iters} v CROSS JOIN lam
ORDER BY dim
"""
    )


@register(
    "q033_pca_power_iteration",
    headline=True,  # track the round-6 wave wall-clock (rolls into value_all)
    oracle=_pca_oracle(3),
)
def q033_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cubicerp_client_etl_spark.operators.pca import (
        power_iteration_top,
        quantized_vectors,
        scatter_matrix,
    )

    emb = load(spark, sf_dir, "embeddings")
    vecs = quantized_vectors(emb, "embedding", "vec_id")
    cm = scatter_matrix(vecs, "vec_id")
    v, lam = power_iteration_top(cm, d=64, iters=3)
    return (
        v.select(F.col("i").alias("dim"), F.col("v").cast("bigint").alias("v"))
        .join(F.broadcast(lam))
        .orderBy("dim")
    )


# --------------------------------------------------------------------------
# q087 (birth q036) — Entity-resolution record linkage (operators/linkage.py): the
# RECORD twin of the document dedup stack — find customer rows that
# denote the same entity under a planted one-char typo (dirty
# re-entries at custkey+10⁶ for custkey % 13 == 0). Fellegi–Sunter
# shape: BLOCK on (nation, market segment) — an equi-join, never
# all-pairs — then VERIFY candidates with levenshtein(name) <= 2 AND
# exact balance equality (names are near-sequential, so edit distance
# alone would false-link clean neighbors — the verify rule is the
# realistic conjunctive one). Output: verified links with their edit
# distance. levenshtein is JVM codegen / DuckDB built-in — the chain
# is fully oracle-replayed.
# --------------------------------------------------------------------------
@register(
    "q087_record_linkage",
    oracle="""
WITH dirty AS (
  SELECT c_custkey + 1000000 AS c_custkey,
         substr(c_name, 1, 11) || 'X' || substr(c_name, 13) AS c_name,
         c_nationkey, c_acctbal, c_mktsegment
  FROM customer WHERE c_custkey % 13 = 0
),
allc AS (
  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer
  UNION ALL
  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM dirty
),
cand AS (
  SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
         a.c_name AS name_a, b.c_name AS name_b,
         a.c_acctbal AS bal_a, b.c_acctbal AS bal_b,
         a.c_nationkey, a.c_mktsegment
  FROM allc a JOIN allc b
    ON a.c_nationkey = b.c_nationkey
   AND a.c_mktsegment = b.c_mktsegment
   AND a.c_custkey < b.c_custkey
)
SELECT id_a, id_b,
       CAST(levenshtein(name_a, name_b) AS INTEGER) AS lev,
       c_nationkey AS nationkey, c_mktsegment AS mktsegment
FROM cand
WHERE levenshtein(name_a, name_b) <= 2 AND bal_a = bal_b
ORDER BY id_a, id_b
""",
)
def q087_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cubicerp_client_etl_spark.operators.linkage import (
        blocked_pairs,
        verify_links,
    )

    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )
    dirty = cust.where(F.col("c_custkey") % 13 == 0).select(
        (F.col("c_custkey") + 1000000).alias("c_custkey"),
        F.concat(
            F.substring("c_name", 1, 11),
            F.lit("X"),
            F.expr("substr(c_name, 13)"),
        ).alias("c_name"),
        "c_nationkey",
        "c_acctbal",
        "c_mktsegment",
    )
    allc = cust.unionByName(dirty)
    cand = blocked_pairs(allc, "c_custkey", ["c_nationkey", "c_mktsegment"])
    lev = F.levenshtein(F.col("c_name_a"), F.col("c_name_b"))
    linked = verify_links(
        cand, (lev <= 2) & (F.col("c_acctbal_a") == F.col("c_acctbal_b"))
    )
    return linked.select(
        "id_a",
        "id_b",
        lev.cast("int").alias("lev"),
        F.col("c_nationkey").alias("nationkey"),
        F.col("c_mktsegment").alias("mktsegment"),
    ).orderBy("id_a", "id_b")


# --------------------------------------------------------------------------
# q185 — PCA explained-variance datasheet (completes q033): how much of
# the corpus's total variance the dominant direction carries —
# explained_e6 = λ₀·1e6 // trace(scatter/n), both at the same n·cov
# scale, so the ratio is scale-free. The number a dim-reduction /
# whitening decision is actually made on (near-isotropic corpora like
# this fixture's random embeddings sit near 1/d — reported, not
# assumed). Reuses the q033 CTE chain; the Spark side adds only a
# trace aggregate over the bounded matrix diagonal.
# --------------------------------------------------------------------------
@register(
    "q185_pca_explained_variance",
    oracle="WITH "
    + ",\n".join(_pca_ctes(3))
    + """,
tr AS (SELECT CAST(SUM(a) AS BIGINT) AS trace FROM cm WHERE i = j),
nv AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs FROM embeddings)
SELECT nv.n_vecs, lam.lambda0, tr.trace,
       CAST(lam.lambda0 * 1000000 // tr.trace AS BIGINT) AS explained_e6
FROM lam CROSS JOIN tr CROSS JOIN nv
""",
)
def q185_pca_explained_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cubicerp_client_etl_spark.functions import e6_floor_ratio
    from cubicerp_client_etl_spark.operators.pca import (
        power_iteration_top,
        quantized_vectors,
        scatter_matrix,
    )

    emb = load(spark, sf_dir, "embeddings")
    vecs = quantized_vectors(emb, "embedding", "vec_id")
    cm = scatter_matrix(vecs, "vec_id")
    _, lam = power_iteration_top(cm, d=64, iters=3)
    tr = cm.where(F.col("i") == F.col("j")).agg(
        F.sum("a").cast("bigint").alias("trace")
    )
    nv = emb.agg(F.count(F.lit(1)).cast("bigint").alias("n_vecs"))
    return (
        nv.join(F.broadcast(lam))
        .join(F.broadcast(tr))
        .select(
            "n_vecs",
            "lambda0",
            "trace",
            e6_floor_ratio(F.col("lambda0"), F.col("trace")).alias(
                "explained_e6"
            ),
        )
    )


# --------------------------------------------------------------------------
# q186 — Vocabulary coverage curve (the OOV datasheet a tokenizer's
# vocab size is chosen from): for each candidate vocab size V, the
# fraction of token OCCURRENCES covered by the top-V most frequent
# types (ties broken by token string — deterministic). The classic
# Zipf-coverage curve, exact e6. Scale: one token-count aggregation
# (map-side combinable); the curve arithmetic runs on the VOCAB-sized
# count table — the rank window is over distinct types, not corpus
# rows, and a real vocab is bounded (condition the corpus first if
# types explode). Window-free alternative at extreme vocab: the keyed
# prefix scan (operators/prefix.py) — documented, not needed here.
# --------------------------------------------------------------------------
_VOCAB_SIZES = (100, 200, 400, 800)


@register(
    "q186_vocab_coverage_curve",
    oracle=f"""
WITH tok AS (
  SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t
  FROM documents WHERE len(trim(text)) > 0
),
c AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY t),
r AS (
  SELECT t, c, ROW_NUMBER() OVER (ORDER BY c DESC, t) AS rk FROM c
),
tot AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n_occ, CAST(COUNT(*) AS BIGINT) AS n_types
  FROM c
),
v AS (SELECT unnest(ARRAY[{", ".join(str(v) for v in _VOCAB_SIZES)}]) AS vocab_size)
SELECT CAST(v.vocab_size AS BIGINT) AS vocab_size,
       ANY_VALUE(tot.n_types) AS n_types,
       CAST(SUM(CASE WHEN r.rk <= v.vocab_size THEN r.c ELSE 0 END)
         AS BIGINT) AS n_covered,
       CAST(SUM(CASE WHEN r.rk <= v.vocab_size THEN r.c ELSE 0 END) * 1000000
            // ANY_VALUE(tot.n_occ) AS BIGINT) AS coverage_e6
FROM r CROSS JOIN v CROSS JOIN tot
GROUP BY v.vocab_size
ORDER BY vocab_size
""",
)
def q186_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from cubicerp_client_etl_spark.functions import e6_floor_ratio

    docs = load(spark, sf_dir, "documents").where(F.length(F.trim("text")) > 0)
    tok = docs.select(
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("t")
    )
    c = tok.groupBy("t").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    # rank window over the vocab-sized count table (bounded input —
    # the corpus-plan invariant's aggregate-derived exemption)
    r = c.withColumn(
        "rk", F.row_number().over(Window.orderBy(F.col("c").desc(), "t"))
    )
    tot = c.agg(
        F.sum("c").cast("bigint").alias("n_occ"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
    )
    v = spark.createDataFrame([(s,) for s in _VOCAB_SIZES], "vocab_size bigint")
    cov = F.sum(
        F.when(F.col("rk") <= F.col("vocab_size"), F.col("c")).otherwise(0)
    )
    return (
        r.join(F.broadcast(v))
        .join(F.broadcast(tot))
        .groupBy("vocab_size")
        .agg(
            F.first("n_types").alias("n_types"),
            cov.cast("bigint").alias("n_covered"),
            e6_floor_ratio(cov, F.first("n_occ")).alias("coverage_e6"),
        )
        .orderBy("vocab_size")
    )


# --------------------------------------------------------------------------
# q028 (birth q187) — Retrieval quality: exact nDCG@10 of the q018 BM25 ranking
# against a deterministic relevance rubric (a doc's relevance = how
# many distinct probe terms it contains, 0–3 — a label any engine can
# replay, so the whole metric is value-checkable). DCG discounts
# 1/log2(rank+1) are the ONE float, frozen as a 10-row e6 table
# (round once per RANK position — the q039/q014 discipline), after
# which DCG, ideal DCG, and their ratio are exact integers. Scale:
# ranking is q018's shape; the metric is arithmetic over two ≤10-row
# frames.
# --------------------------------------------------------------------------
@register(
    "q028_bm25_ndcg",
    oracle="""
WITH toks AS (
  SELECT doc_id, u.t AS t
  FROM documents,
       UNNEST(string_split_regex(lower(trim(text)), '\\s+')) AS u(t)
  WHERE len(trim(text)) > 0
),
dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS l FROM dl
),
tf AS (
  SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks WHERE t IN ('vector', 'hash', 'stream')
  GROUP BY doc_id, t
),
dft AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY t),
idf AS (
  SELECT t,
         CAST(round(ln(CAST(n + 1 AS DOUBLE) / (df + 0.5)) * 1000000)
           AS BIGINT) AS idf_e6
  FROM dft CROSS JOIN tot
),
scored AS (
  SELECT tf.doc_id, CAST(COUNT(*) AS BIGINT) AS rel,
         CAST(SUM(idf.idf_e6 *
           (22 * tot.l * tf.tf * 1000000
            // (10 * tot.l * tf.tf + 3 * tot.l + 9 * dl.dl * tot.n)))
           AS BIGINT) AS score_e12
  FROM tf
  JOIN dl ON dl.doc_id = tf.doc_id
  JOIN idf ON idf.t = tf.t
  CROSS JOIN tot
  GROUP BY tf.doc_id
),
disc AS (
  SELECT g.i AS rk,
         CAST(round(1000000.0 / log2(g.i + 1)) AS BIGINT) AS disc_e6
  FROM generate_series(1, 10) g(i)
),
ranked AS (
  SELECT doc_id, rel,
         ROW_NUMBER() OVER (ORDER BY score_e12 DESC, doc_id) AS rk
  FROM scored
),
ideal AS (
  SELECT rel, ROW_NUMBER() OVER (ORDER BY rel DESC, doc_id) AS rk
  FROM scored
),
dcg AS (
  SELECT CAST(SUM(r.rel * d.disc_e6) AS BIGINT) AS dcg_e6
  FROM ranked r JOIN disc d ON d.rk = r.rk
),
idcg AS (
  SELECT CAST(SUM(i.rel * d.disc_e6) AS BIGINT) AS idcg_e6
  FROM ideal i JOIN disc d ON d.rk = i.rk
)
SELECT dcg_e6, idcg_e6,
       CAST(dcg_e6 * 1000000 // idcg_e6 AS BIGINT) AS ndcg_e6
FROM dcg CROSS JOIN idcg
""",
)
def q028_bm25_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from cubicerp_client_etl_spark.functions import e6_floor_ratio

    docs = load(spark, sf_dir, "documents").where(F.length(F.trim("text")) > 0)
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("t"),
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("dl"))
    tot = dl.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("dl").cast("bigint").alias("l"),
    )
    tf = (
        toks.where(F.col("t").isin(*_BM25_TERMS))
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    dft = tf.groupBy("t").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    idf = dft.join(F.broadcast(tot)).select(
        "t",
        F.round(
            F.log((F.col("n") + 1).cast("double") / (F.col("df") + F.lit(0.5)))
            * 1_000_000
        )
        .cast("bigint")
        .alias("idf_e6"),
    )
    scored = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(idf), "t")
        .join(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("rel"),
            F.sum(
                F.col("idf_e6")
                * e6_floor_ratio(
                    F.lit(22) * F.col("l") * F.col("tf"),
                    F.lit(10) * F.col("l") * F.col("tf")
                    + F.lit(3) * F.col("l")
                    + F.lit(9) * F.col("dl") * F.col("n"),
                )
            )
            .cast("bigint")
            .alias("score_e12"),
        )
    )
    disc = spark.range(1, 11).select(
        F.col("id").alias("rk"),
        F.round(F.lit(1_000_000.0) / F.log2(F.col("id") + 1))
        .cast("bigint")
        .alias("disc_e6"),
    )
    # top-10 rank windows over the scored frame: bounded by the probe's
    # matching docs; production would TakeOrdered-limit first
    ranked = scored.withColumn(
        "rk",
        F.row_number().over(Window.orderBy(F.col("score_e12").desc(), "doc_id")),
    )
    ideal = scored.withColumn(
        "rk", F.row_number().over(Window.orderBy(F.col("rel").desc(), "doc_id"))
    )
    dcg = ranked.join(F.broadcast(disc), "rk").agg(
        F.sum(F.col("rel") * F.col("disc_e6")).cast("bigint").alias("dcg_e6")
    )
    idcg = ideal.join(F.broadcast(disc), "rk").agg(
        F.sum(F.col("rel") * F.col("disc_e6")).cast("bigint").alias("idcg_e6")
    )
    return (
        dcg.join(F.broadcast(idcg))
        .select(
            "dcg_e6",
            "idcg_e6",
            e6_floor_ratio(F.col("dcg_e6"), F.col("idcg_e6")).alias("ndcg_e6"),
        )
    )


# --------------------------------------------------------------------------
# q029 (ex-q188) — Hybrid retrieval: Reciprocal Rank Fusion of the
# lexical (BM25, q018) and vector rankings — the standard hybrid-
# search combiner (RRF, Cormack et al. 2009: score = Σ 1/(K + rank),
# K = 60). Fixture convention: doc_id == vec_id pairs a document with
# its embedding; the vector probe is vec 0's embedding, the lexical
# probe the q018 term set, and either ranking may cover docs the other
# doesn't (full-outer fusion — RRF's own semantics). Each 1/(60+r)
# contribution is one e6 floor — after that the fused score is an
# integer sum, and both rankings are engine-deterministic (rounded sim
# / integer BM25, id tie-breaks), so the whole fusion is
# oracle-replayed. Scale (VERDICT r6 next-round #4): the lexical side
# scores only docs matching ≥1 probe term, TakeOrdered to top-100; the
# vector side goes through the IVF multi-probe index (the q184 path:
# 32 fixed centroids, nprobe=12 — searching 3/8 of the corpus per
# probe instead of exact full-corpus cosine), and the oracle replays
# the IDENTICAL inverted-file search, so the driver hash gates the
# approximate path itself. The exact-cosine fused form remains the
# audit baseline: tests/test_wave2_ops.py measures the fused-list
# divergence on fixtures, and a synthetic nlist=sqrt(N) experiment
# there demonstrates the per-probe scored-candidate count growing
# sublinearly — index build stays linear but amortizes across probes.
# --------------------------------------------------------------------------
@register(
    "q219_hybrid_rrf_fusion",
    oracle="""
WITH toks AS (
  SELECT doc_id, u.t AS t
  FROM documents,
       UNNEST(string_split_regex(lower(trim(text)), '\\s+')) AS u(t)
  WHERE len(trim(text)) > 0
),
dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS l FROM dl
),
tf AS (
  SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks WHERE t IN ('vector', 'hash', 'stream')
  GROUP BY doc_id, t
),
dft AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY t),
idf AS (
  SELECT t,
         CAST(round(ln(CAST(n + 1 AS DOUBLE) / (df + 0.5)) * 1000000)
           AS BIGINT) AS idf_e6
  FROM dft CROSS JOIN tot
),
lex AS (
  SELECT tf.doc_id,
         CAST(SUM(idf.idf_e6 *
           (22 * tot.l * tf.tf * 1000000
            // (10 * tot.l * tf.tf + 3 * tot.l + 9 * dl.dl * tot.n)))
           AS BIGINT) AS score_e12
  FROM tf
  JOIN dl ON dl.doc_id = tf.doc_id
  JOIN idf ON idf.t = tf.t
  CROSS JOIN tot
  GROUP BY tf.doc_id
),
lexrank AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY score_e12 DESC, doc_id) AS lex_rank
  FROM (SELECT doc_id, score_e12 FROM lex
        ORDER BY score_e12 DESC, doc_id LIMIT 100)
),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 32),
sa AS (
  SELECT e.vec_id, e.v, c.cid,
         ROW_NUMBER() OVER (
           PARTITION BY e.vec_id
           ORDER BY ROUND(list_dot_product(e.v, c.cv) /
                    sqrt(list_dot_product(e.v, e.v) *
                         list_dot_product(c.cv, c.cv)), 6) DESC,
                    c.cid) AS crn
  FROM e CROSS JOIN c
),
assigned AS (SELECT vec_id, v, cid FROM sa WHERE crn = 1),
p AS (SELECT vec_id AS probe_id, v AS pv FROM e WHERE vec_id = 0),
pc AS (
  SELECT c.cid, p.probe_id, p.pv FROM c CROSS JOIN p
  ORDER BY ROUND(list_dot_product(p.pv, c.cv) /
           sqrt(list_dot_product(p.pv, p.pv) *
                list_dot_product(c.cv, c.cv)), 6) DESC, c.cid
  LIMIT 12
),
cand AS (
  SELECT a.vec_id AS doc_id,
         ROUND(list_dot_product(a.v, pc.pv) /
               sqrt(list_dot_product(a.v, a.v) *
                    list_dot_product(pc.pv, pc.pv)), 6) AS sim
  FROM assigned a JOIN pc ON a.cid = pc.cid
  WHERE a.vec_id <> pc.probe_id
),
vecrank AS (
  SELECT doc_id, vec_rank FROM (
    SELECT doc_id,
           ROW_NUMBER() OVER (ORDER BY sim DESC, doc_id) AS vec_rank
    FROM cand)
  WHERE vec_rank <= 100
),
fused AS (
  SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id, l.lex_rank, v.vec_rank,
         CAST(COALESCE(1000000 // (60 + l.lex_rank), 0)
            + COALESCE(1000000 // (60 + v.vec_rank), 0) AS BIGINT) AS rrf_e6
  FROM lexrank l FULL OUTER JOIN vecrank v ON v.doc_id = l.doc_id
)
SELECT doc_id, CAST(lex_rank AS BIGINT) AS lex_rank,
       CAST(vec_rank AS BIGINT) AS vec_rank, rrf_e6
FROM fused
ORDER BY rrf_e6 DESC, doc_id
LIMIT 10
""",
)
def q219_hybrid_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from cubicerp_client_etl_spark.operators.retrieval import bm25_scores
    from cubicerp_client_etl_spark.operators.similarity import (
        as_double,
        ivf_topk,
    )

    docs = load(spark, sf_dir, "documents").where(F.length(F.trim("text")) > 0)
    # fuse bounded TOP-K lists (production RRF fuses each ranker's
    # top-k, not full corpus rankings): TakeOrdered bounds the lexical
    # side and the IVF rank window bounds the vector side, so the rank
    # windows run over provably-limited input — the corpus-plan
    # invariant rejects the full-ranking form as a raw-row global
    # window (it caught exactly that in review)
    lex = (
        bm25_scores(docs, "doc_id", "text", _BM25_TERMS)
        .orderBy(F.col("score_e12").desc(), "doc_id")
        .limit(100)
    )
    lexrank = lex.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("score_e12").desc(), "doc_id"))
        .cast("bigint")
        .alias("lex_rank"),
    )
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("v")
    )
    cents = emb.where(F.col("vec_id") < 32).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    probe = emb.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("probe_id"), F.col("v").alias("pv")
    )
    vecrank = ivf_topk(emb, cents, probe, k=100, nprobe=12).select(
        F.col("vec_id").alias("doc_id"),
        F.col("rank").cast("bigint").alias("vec_rank"),
    )
    rrf = (
        F.coalesce(
            F.expr("CAST(1000000 div (60 + lex_rank) AS BIGINT)"), F.lit(0)
        )
        + F.coalesce(
            F.expr("CAST(1000000 div (60 + vec_rank) AS BIGINT)"), F.lit(0)
        )
    ).cast("bigint")
    return (
        lexrank.join(vecrank, "doc_id", "full_outer")
        .select("doc_id", "lex_rank", "vec_rank", rrf.alias("rrf_e6"))
        .orderBy(F.col("rrf_e6").desc(), "doc_id")
        .limit(10)
    )


# --------------------------------------------------------------------------
# q189 — Column statistics profiling (the ANALYZE TABLE datasheet a
# warehouse keeps per column: null fraction, distinct count, min/max):
# one pass over lineitem computing every column's stats as conditional
# aggregates, unpivoted to one row per column with values rendered to
# strings (scalar output contract). Exact: counts are integers,
# min/max render decimals/dates with CAST AS VARCHAR in both engines.
# Scale: ONE full-scan aggregate (all stats ride the same map-side
# partial), plus exact distinct counts per column — expressed as
# count_distinct in the same agg (Spark expands to expand+partial
# aggregates; the documented approx path for wide tables is
# approx_count_distinct / q077-style sketches).
# --------------------------------------------------------------------------
_PROFILE_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_shipdate")


@register(
    "q189_column_stats_profile",
    oracle="""
WITH s AS (
  SELECT
    CAST(COUNT(*) AS BIGINT) AS n_rows,
    CAST(COUNT(l_quantity) AS BIGINT) AS nn_q,
    CAST(COUNT(DISTINCT l_quantity) AS BIGINT) AS nd_q,
    CAST(MIN(l_quantity) AS VARCHAR) AS mn_q,
    CAST(MAX(l_quantity) AS VARCHAR) AS mx_q,
    CAST(COUNT(l_extendedprice) AS BIGINT) AS nn_p,
    CAST(COUNT(DISTINCT l_extendedprice) AS BIGINT) AS nd_p,
    CAST(MIN(l_extendedprice) AS VARCHAR) AS mn_p,
    CAST(MAX(l_extendedprice) AS VARCHAR) AS mx_p,
    CAST(COUNT(l_discount) AS BIGINT) AS nn_d,
    CAST(COUNT(DISTINCT l_discount) AS BIGINT) AS nd_d,
    CAST(MIN(l_discount) AS VARCHAR) AS mn_d,
    CAST(MAX(l_discount) AS VARCHAR) AS mx_d,
    CAST(COUNT(l_shipdate) AS BIGINT) AS nn_s,
    CAST(COUNT(DISTINCT l_shipdate) AS BIGINT) AS nd_s,
    CAST(MIN(l_shipdate) AS VARCHAR) AS mn_s,
    CAST(MAX(l_shipdate) AS VARCHAR) AS mx_s
  FROM lineitem
)
SELECT col, n_rows, n_nonnull, n_distinct, min_str, max_str,
       CAST((n_rows - n_nonnull) * 1000000 // n_rows AS BIGINT)
         AS null_frac_e6
FROM (
  SELECT 'l_quantity' AS col, n_rows, nn_q AS n_nonnull, nd_q AS n_distinct,
         mn_q AS min_str, mx_q AS max_str FROM s
  UNION ALL
  SELECT 'l_extendedprice', n_rows, nn_p, nd_p, mn_p, mx_p FROM s
  UNION ALL
  SELECT 'l_discount', n_rows, nn_d, nd_d, mn_d, mx_d FROM s
  UNION ALL
  SELECT 'l_shipdate', n_rows, nn_s, nd_s, mn_s, mx_s FROM s
)
ORDER BY col
""",
)
def q189_column_stats_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cubicerp_client_etl_spark.functions import e6_floor_ratio

    li = load(spark, sf_dir, "lineitem").select(*_PROFILE_COLS)
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_rows")]
    for c in _PROFILE_COLS:
        aggs += [
            F.count(c).cast("bigint").alias(f"nn_{c}"),
            F.count_distinct(c).cast("bigint").alias(f"nd_{c}"),
            F.min(c).cast("string").alias(f"mn_{c}"),
            F.max(c).cast("string").alias(f"mx_{c}"),
        ]
    s = li.agg(*aggs)
    parts = [
        s.select(
            F.lit(c).alias("col"),
            "n_rows",
            F.col(f"nn_{c}").alias("n_nonnull"),
            F.col(f"nd_{c}").alias("n_distinct"),
            F.col(f"mn_{c}").alias("min_str"),
            F.col(f"mx_{c}").alias("max_str"),
        )
        for c in _PROFILE_COLS
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(
        "col",
        "n_rows",
        "n_nonnull",
        "n_distinct",
        "min_str",
        "max_str",
        e6_floor_ratio(F.col("n_rows") - F.col("n_nonnull"), F.col("n_rows")).alias(
            "null_frac_e6"
        ),
    ).orderBy("col")


# --------------------------------------------------------------------------
# q190 — Per-label PCA (the KEYED form of q033 — the same
# generalization discipline as prefix_sum → prefix_sum_by): class-
# conditional dominant directions and eigenvalues, one power iteration
# chain per label, every frame bounded by #labels·d². The oracle
# unrolls the keyed recursion (label-joined CTEs). What it's for:
# per-class whitening, per-source embedding drift, LDA-style
# between/within scatter inputs.
# --------------------------------------------------------------------------
_PCA_BY_ITERS = 2


def _pca_by_oracle(iters: int = _PCA_BY_ITERS) -> str:
    ctes = [
        """q AS (
  SELECT label, vec_id, g.i AS i,
         CAST(floor(CAST(embedding AS DOUBLE[])[g.i] * 1000 + 0.5)
           AS BIGINT) AS qv
  FROM embeddings CROSS JOIN generate_series(1, 64) g(i))""",
        "s1 AS (SELECT label, i, CAST(SUM(qv) AS BIGINT) AS s1 "
        "FROM q GROUP BY label, i)",
        "nn AS (SELECT label, CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n "
        "FROM q GROUP BY label)",
        """cm AS (
  SELECT x.label, x.i AS i, x.j AS j,
         CAST((nn.n * x.sqq - si.s1 * sj.s1) // nn.n AS BIGINT) AS a
  FROM (SELECT a.label, a.i AS i, b.i AS j,
               CAST(SUM(a.qv * b.qv) AS BIGINT) AS sqq
        FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.label = b.label
        GROUP BY a.label, a.i, b.i) x
  JOIN s1 si ON si.label = x.label AND si.i = x.i
  JOIN s1 sj ON sj.label = x.label AND sj.i = x.j
  JOIN nn ON nn.label = x.label)""",
        """v0 AS (
  SELECT l.label, g.i AS i, CAST(1000 AS BIGINT) AS v
  FROM (SELECT DISTINCT label FROM embeddings) l
  CROSS JOIN generate_series(1, 64) g(i))""",
    ]
    for r in range(iters):
        ctes.append(
            f"w{r} AS (SELECT cm.label, cm.i, "
            f"CAST(SUM(cm.a * v.v) AS BIGINT) AS w FROM cm "
            f"JOIN v{r} v ON v.label = cm.label AND v.i = cm.j "
            f"GROUP BY cm.label, cm.i)"
        )
        ctes.append(
            f"m{r} AS (SELECT label, CAST(MAX(abs(w)) AS BIGINT) AS m "
            f"FROM w{r} GROUP BY label)"
        )
        ctes.append(
            f"""v{r + 1} AS (
  SELECT w.label, w.i,
         CAST((CASE WHEN w < 0 THEN -1 WHEN w > 0 THEN 1 ELSE 0 END)
              * ((abs(w) * 1000) // m.m) AS BIGINT) AS v
  FROM w{r} w JOIN m{r} m ON m.label = w.label)"""
        )
    ctes.append(
        f"wf AS (SELECT cm.label, cm.i, CAST(SUM(cm.a * v.v) AS BIGINT) AS w "
        f"FROM cm JOIN v{iters} v ON v.label = cm.label AND v.i = cm.j "
        f"GROUP BY cm.label, cm.i)"
    )
    ctes.append(
        f"""lam AS (
  SELECT v.label, CAST(SUM(v.v * w.w) // SUM(v.v * v.v) AS BIGINT) AS lambda0
  FROM v{iters} v JOIN wf w ON w.label = v.label AND w.i = v.i
  GROUP BY v.label)"""
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT v.label, v.i AS dim, v.v AS v, lam.lambda0
FROM v{iters} v JOIN lam ON lam.label = v.label
ORDER BY v.label, dim
"""
    )


@register("q190_pca_by_label", oracle=_pca_by_oracle())
def q190_pca_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cubicerp_client_etl_spark.operators.pca import (
        power_iteration_top_by,
        quantized_vectors,
        scatter_matrix_by,
    )

    emb = load(spark, sf_dir, "embeddings")
    vecs = quantized_vectors(emb, "embedding", "vec_id", extra=("label",))
    cm = scatter_matrix_by(vecs, "label")
    v, lam = power_iteration_top_by(cm, "label", d=64, iters=_PCA_BY_ITERS)
    return (
        v.select("label", F.col("i").alias("dim"), F.col("v").cast("bigint").alias("v"))
        .join(F.broadcast(lam), "label")
        .orderBy("label", "dim")
    )


# --------------------------------------------------------------------------
# q191 — Class-separability report (Fisher/LDA scatter decomposition
# over the embedding corpus): tr(S_W) vs tr(S_T) — how much of the
# total variance lives WITHIN classes vs between them, the one-number
# answer to "are these labels separable in embedding space?" (near 1 =
# labels carry no geometry; near 0 = tight, well-separated classes).
# Exact integer form: per (label, dim) moments give css = n_l·Σq² −
# (Σq)²; each class's normalized trace is Σ_dims css div n_l (= n_l ·
# tr(Cov_l) up to the floor), the total likewise at N; between =
# total − within; ratio e6. Scale: ONE map-side-combinable moment
# aggregation (the same pass could feed q190); all later arithmetic is
# over #labels·d rows.
# --------------------------------------------------------------------------
@register(
    "q191_class_separability",
    oracle="""
WITH q AS (
  SELECT label, g.i AS i,
         CAST(floor(CAST(embedding AS DOUBLE[])[g.i] * 1000 + 0.5)
           AS BIGINT) AS qv
  FROM embeddings CROSS JOIN generate_series(1, 64) g(i)
),
m AS (
  SELECT label, i,
         CAST(COUNT(*) AS BIGINT) AS n_l,
         CAST(SUM(qv) AS BIGINT) AS s1,
         CAST(SUM(qv * qv) AS BIGINT) AS s2
  FROM q GROUP BY label, i
),
per_label AS (
  SELECT label, ANY_VALUE(n_l) AS n_l,
         CAST(SUM(n_l * s2 - s1 * s1) // ANY_VALUE(n_l) AS BIGINT) AS tr_w
  FROM m GROUP BY label
),
tot AS (
  SELECT CAST(SUM(cn * cs2 - cs1 * cs1) // ANY_VALUE(cn) AS BIGINT) AS tr_t,
         ANY_VALUE(cn) AS n
  FROM (
    SELECT i, CAST(SUM(n_l) AS BIGINT) AS cn,
           CAST(SUM(s1) AS BIGINT) AS cs1,
           CAST(SUM(s2) AS BIGINT) AS cs2
    FROM m GROUP BY i
  )
)
SELECT tot.n AS n_vecs,
       CAST(COUNT(*) AS BIGINT) AS n_labels,
       ANY_VALUE(tot.tr_t) AS trace_total,
       CAST(SUM(per_label.tr_w) AS BIGINT) AS trace_within,
       ANY_VALUE(tot.tr_t) - CAST(SUM(per_label.tr_w) AS BIGINT)
         AS trace_between,
       CAST(SUM(per_label.tr_w) * 1000000 // ANY_VALUE(tot.tr_t) AS BIGINT)
         AS within_ratio_e6
FROM per_label CROSS JOIN tot
GROUP BY tot.n
""",
)
def q191_class_separability(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cubicerp_client_etl_spark.functions import e6_floor_ratio
    from cubicerp_client_etl_spark.operators.pca import quantized_vectors

    emb = load(spark, sf_dir, "embeddings")
    q = quantized_vectors(emb, "embedding", "vec_id", extra=("label",)).select(
        "label", F.posexplode("qarr").alias("_d0", "qv")
    ).select("label", (F.col("_d0") + 1).alias("i"), "qv")
    m = q.groupBy("label", "i").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_l"),
        F.sum("qv").cast("bigint").alias("s1"),
        F.sum(F.col("qv") * F.col("qv")).cast("bigint").alias("s2"),
    )
    per_label = m.groupBy("label").agg(
        F.first("n_l").alias("n_l"),
        F.expr(
            "CAST(SUM(n_l * s2 - s1 * s1) div first(n_l) AS BIGINT)"
        ).alias("tr_w"),
    )
    tot = (
        m.groupBy("i")
        .agg(
            F.sum("n_l").cast("bigint").alias("cn"),
            F.sum("s1").cast("bigint").alias("cs1"),
            F.sum("s2").cast("bigint").alias("cs2"),
        )
        .agg(
            F.expr(
                "CAST(SUM(cn * cs2 - cs1 * cs1) div first(cn) AS BIGINT)"
            ).alias("tr_t"),
            F.first("cn").cast("bigint").alias("n"),
        )
    )
    return (
        per_label.join(F.broadcast(tot))
        .agg(
            F.first("n").alias("n_vecs"),
            F.count(F.lit(1)).cast("bigint").alias("n_labels"),
            F.first("tr_t").alias("trace_total"),
            F.sum("tr_w").cast("bigint").alias("trace_within"),
            (F.first("tr_t") - F.sum("tr_w")).cast("bigint").alias(
                "trace_between"
            ),
            e6_floor_ratio(F.sum("tr_w"), F.first("tr_t")).alias(
                "within_ratio_e6"
            ),
        )
    )


# --------------------------------------------------------------------------
# q192 — Top-2 PCA (operators/pca.power_iteration_top2): the second
# principal direction by power iteration with EXACT-INTEGER
# Gram–Schmidt deflation — every iterate is projected off v1 as
# u·(v1·v1) − v1·(v1·u) (pure bigint; positive scaling is free) before
# renormalizing, so the chain never forms the non-integer deflated
# matrix A − λ·v1v1ᵀ/(v1·v1). Both directions, both Rayleigh
# eigenvalues, all 64+64 coordinates value-checked through the fully
# unrolled two-chain oracle. Scale: identical bounded-matrix shape as
# q033 — the corpus is touched once (Arrow moment partials), both
# iteration chains run on the d² matrix.
# --------------------------------------------------------------------------
def _pca2_oracle(iters: int = 3) -> str:
    ctes = _pca_ctes(iters)  # v0..v{iters}, wf, lam (the v1 chain)
    orth = """d_{tag} AS (
  SELECT CAST(SUM(a.v * a.v) AS BIGINT) AS vv,
         CAST(SUM(a.v * b.v) AS BIGINT) AS vu
  FROM v{it} a JOIN {src} b ON b.i = a.i),
o_{tag} AS (
  SELECT b.i, b.v * d_{tag}.vv - a.v * d_{tag}.vu AS v
  FROM {src} b JOIN v{it} a ON a.i = b.i CROSS JOIN d_{tag}),
om_{tag} AS (SELECT CAST(MAX(abs(v)) AS BIGINT) AS m FROM o_{tag}),
{out} AS (
  SELECT i, CAST((CASE WHEN v < 0 THEN -1 WHEN v > 0 THEN 1 ELSE 0 END)
                 * ((abs(v) * 1000) // m) AS BIGINT) AS v
  FROM o_{tag} CROSS JOIN om_{tag})"""
    ctes.append(
        "us AS (SELECT g.i AS i, CAST(CASE WHEN g.i % 2 = 0 THEN -1000 "
        "ELSE 1000 END AS BIGINT) AS v FROM generate_series(1, 64) g(i))"
    )
    ctes.append(orth.format(tag="s", it=iters, src="us", out="u0"))
    for r in range(iters):
        ctes.append(
            f"uw{r} AS (SELECT cm.i, CAST(SUM(cm.a * u.v) AS BIGINT) AS v "
            f"FROM cm JOIN u{r} u ON u.i = cm.j GROUP BY cm.i)"
        )
        ctes.append(
            f"uwm{r} AS (SELECT CAST(MAX(abs(v)) AS BIGINT) AS m FROM uw{r})"
        )
        ctes.append(
            f"""uwn{r} AS (
  SELECT i, CAST((CASE WHEN v < 0 THEN -1 WHEN v > 0 THEN 1 ELSE 0 END)
                 * ((abs(v) * 1000) // m) AS BIGINT) AS v
  FROM uw{r} CROSS JOIN uwm{r})"""
        )
        ctes.append(
            orth.format(tag=str(r), it=iters, src=f"uwn{r}", out=f"u{r + 1}")
        )
    ctes.append(
        f"uf AS (SELECT cm.i, CAST(SUM(cm.a * u.v) AS BIGINT) AS w "
        f"FROM cm JOIN u{iters} u ON u.i = cm.j GROUP BY cm.i)"
    )
    ctes.append(
        f"""lam2 AS (
  SELECT CAST(vw // vv AS BIGINT) AS lambda1
  FROM (SELECT CAST(SUM(u.v * w.w) AS BIGINT) AS vw,
               CAST(SUM(u.v * u.v) AS BIGINT) AS vv
        FROM u{iters} u JOIN uf w USING (i)))"""
    )
    # DuckDB INLINES non-materialized CTEs: with two iteration chains
    # each referencing its predecessor several times, inlining
    # re-expands the whole tree per reference (exponential — observed
    # as fd exhaustion re-opening the parquet). MATERIALIZED pins each
    # CTE to one evaluation, the same job localCheckpoint does on the
    # Spark side.
    mat = [re.sub(r"^(\s*)(\w+) AS \(", r"\1\2 AS MATERIALIZED (", c, count=1)
           for c in ctes]
    return (
        "WITH "
        + ",\n".join(mat)
        + f"""
SELECT v.i AS dim, v.v AS v1, u.v AS v2, lam.lambda0, lam2.lambda1
FROM v{iters} v
JOIN u{iters} u ON u.i = v.i
CROSS JOIN lam CROSS JOIN lam2
ORDER BY dim
"""
    )


@register("q192_pca_top2", oracle=_pca2_oracle(3))
def q192_pca_top2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cubicerp_client_etl_spark.operators.pca import (
        power_iteration_top2,
        quantized_vectors,
        scatter_matrix,
    )

    emb = load(spark, sf_dir, "embeddings")
    vecs = quantized_vectors(emb, "embedding", "vec_id")
    cm = scatter_matrix(vecs, "vec_id")
    dirs, lams = power_iteration_top2(cm, d=64, iters=3)
    return (
        dirs.select(
            F.col("i").alias("dim"),
            F.col("v1").cast("bigint").alias("v1"),
            F.col("v2").cast("bigint").alias("v2"),
        )
        .join(F.broadcast(lams))
        .orderBy("dim")
    )


# --------------------------------------------------------------------------
# q193 — PCA projection apply (completes the q033/q192 train→apply
# story): every embedding lands in the 2-D principal subspace as
# exact-integer coordinates y_k = Σ_i q_i·v_k,i (raw-scale scores —
# downstream consumers rescale; the direction vectors are the q192
# outputs). The oracle replays the two full iteration chains
# (MATERIALIZED) plus the projection join. Scale: the corpus is
# touched by ONE explode(×d) + broadcast join against the 64-row
# direction table + keyed sum — the standard tall-skinny matmul shape.
# --------------------------------------------------------------------------
@register(
    "q193_pca_project",
    oracle=_pca2_oracle(3).replace(
        """
SELECT v.i AS dim, v.v AS v1, u.v AS v2, lam.lambda0, lam2.lambda1
FROM v3 v
JOIN u3 u ON u.i = v.i
CROSS JOIN lam CROSS JOIN lam2
ORDER BY dim
""",
        """
SELECT q.vec_id,
       CAST(SUM(q.qv * v.v) AS BIGINT) AS y1,
       CAST(SUM(q.qv * u.v) AS BIGINT) AS y2
FROM q
JOIN v3 v ON v.i = q.i
JOIN u3 u ON u.i = q.i
GROUP BY q.vec_id
ORDER BY q.vec_id
""",
    ),
)
def q193_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cubicerp_client_etl_spark.operators.pca import (
        power_iteration_top2,
        quantized_dims,
        quantized_vectors,
        scatter_matrix,
    )

    emb = load(spark, sf_dir, "embeddings")
    vecs = quantized_vectors(emb, "embedding", "vec_id")
    cm = scatter_matrix(vecs, "vec_id")
    dirs, _ = power_iteration_top2(cm, d=64, iters=3)
    q = quantized_dims(emb, "embedding", "vec_id")
    return (
        q.join(F.broadcast(dirs), "i")
        .groupBy("vec_id")
        .agg(
            F.sum(F.col("qv") * F.col("v1")).cast("bigint").alias("y1"),
            F.sum(F.col("qv") * F.col("v2")).cast("bigint").alias("y2"),
        )
        .orderBy("vec_id")
    )


# --------------------------------------------------------------------------
# q194 — Context-length sizing datasheet: for each candidate max_len,
# how many documents truncate, how many tokens are lost, and the exact
# e6 padding waste under one-doc-per-sequence — the numbers a max_len
# choice is actually made on (packing strategies then reduce the waste
# — q008/q168). Pure integer arithmetic over per-doc token counts ×
# a 4-row candidate dim. Scale: one map-side token count + a bounded
# broadcast join; the aggregate is map-side combinable.
# --------------------------------------------------------------------------
_MAXLENS = (32, 64, 96, 128)


@register(
    "q194_context_length_sizing",
    oracle=f"""
WITH d AS (
  SELECT doc_id,
         CASE WHEN len(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_toks
  FROM documents
),
ml AS (SELECT unnest(ARRAY[{", ".join(str(m) for m in _MAXLENS)}]) AS max_len)
SELECT CAST(ml.max_len AS BIGINT) AS max_len,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN d.n_toks > ml.max_len THEN 1 ELSE 0 END) AS BIGINT)
         AS n_truncated,
       CAST(SUM(CASE WHEN d.n_toks > ml.max_len
                     THEN d.n_toks - ml.max_len ELSE 0 END) AS BIGINT)
         AS tokens_lost,
       CAST(SUM(CASE WHEN d.n_toks < ml.max_len
                     THEN ml.max_len - d.n_toks ELSE 0 END) * 1000000
            // (COUNT(*) * ml.max_len) AS BIGINT) AS padding_waste_e6
FROM d CROSS JOIN ml
GROUP BY ml.max_len
ORDER BY max_len
""",
)
def q194_context_length_sizing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cubicerp_client_etl_spark.functions import e6_floor_ratio
    from cubicerp_client_etl_spark.operators.text import token_count

    docs = load(spark, sf_dir, "documents").select(
        token_count("text").cast("bigint").alias("n_toks")
    )
    ml = spark.createDataFrame([(m,) for m in _MAXLENS], "max_len bigint")
    over = F.col("n_toks") > F.col("max_len")
    under = F.col("n_toks") < F.col("max_len")
    return (
        docs.join(F.broadcast(ml))
        .groupBy("max_len")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(over, 1).otherwise(0)).cast("bigint").alias("n_truncated"),
            F.sum(F.when(over, F.col("n_toks") - F.col("max_len")).otherwise(0))
            .cast("bigint")
            .alias("tokens_lost"),
            e6_floor_ratio(
                F.sum(
                    F.when(under, F.col("max_len") - F.col("n_toks")).otherwise(0)
                ),
                F.count(F.lit(1)) * F.first("max_len"),
            ).alias("padding_waste_e6"),
        )
        .orderBy("max_len")
    )


# --------------------------------------------------------------------------
# q195 — Source-concentration index (exact integer Gini over per-source
# token mass): the one-number imbalance answer to "is this corpus
# dominated by a few sources?" plus the per-source Lorenz rows (rank,
# cumulative e6 share). Gini by the rank formula G = (2·Σ k·x_k) /
# (n·Σ x_k) − (n+1)/n, kept exact as e6 with a common denominator.
# Scale: corpus → one keyed agg; ALL window/rank work happens on the
# #sources-row aggregate (bounded by construction).
# --------------------------------------------------------------------------
@register(
    "q195_source_gini",
    oracle="""
WITH s AS (
  SELECT source,
         CAST(SUM(CASE WHEN len(trim(text)) = 0 THEN 0
                  ELSE len(string_split_regex(trim(text), '\\s+')) END)
           AS BIGINT) AS toks
  FROM documents GROUP BY source
),
r AS (
  SELECT source, toks,
         ROW_NUMBER() OVER (ORDER BY toks, source) AS k FROM s
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(toks) AS BIGINT) AS t FROM s
)
SELECT r.source, CAST(r.k AS BIGINT) AS rank, r.toks,
       CAST(SUM(r.toks) OVER (ORDER BY r.k) * 1000000 // tot.t AS BIGINT)
         AS cum_share_e6,
       CAST((2 * (SELECT SUM(k * toks) FROM r) * 1000000)
            // (tot.n * tot.t) - ((tot.n + 1) * 1000000) // tot.n
         AS BIGINT) AS gini_e6
FROM r CROSS JOIN tot
ORDER BY rank
""",
)
def q195_source_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from cubicerp_client_etl_spark.operators.text import token_count

    docs = load(spark, sf_dir, "documents").select(
        "source", token_count("text").cast("bigint").alias("n_toks")
    )
    s = docs.groupBy("source").agg(F.sum("n_toks").cast("bigint").alias("toks"))
    # rank/cumsum windows over the #sources-row aggregate — bounded
    r = s.withColumn(
        "rank",
        F.row_number().over(Window.orderBy("toks", "source")).cast("bigint"),
    )
    tot = s.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("toks").cast("bigint").alias("t"),
    )
    gsum = r.agg(F.sum(F.col("rank") * F.col("toks")).cast("bigint").alias("g"))
    cum = F.sum("toks").over(
        Window.orderBy("rank").rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        r.join(F.broadcast(tot))
        .join(F.broadcast(gsum))
        .select(
            "source",
            "rank",
            "toks",
            (cum * 1_000_000).alias("_cumtoks"),
            F.col("t"),
            F.col("n"),
            F.col("g"),
        )
        .select(
            "source",
            "rank",
            "toks",
            F.expr("CAST(_cumtoks div t AS BIGINT)").alias("cum_share_e6"),
            F.expr(
                "CAST((2 * g * 1000000) div (n * t) - ((n + 1) * 1000000) div n "
                "AS BIGINT)"
            ).alias("gini_e6"),
        )
        .orderBy("rank")
    )


# --------------------------------------------------------------------------
# q196 — Boilerplate phrase inventory: the top word-5-grams by DOCUMENT
# frequency with their e6 doc-coverage — the "what exact strings should
# the cleaner strip?" worklist that precedes C4-style span removal
# (q132 removes; this DISCOVERS). Distinct (doc, gram) before counting
# so a phrase repeated within one doc counts once. Scale: explode is
# per-doc bounded; the count is one keyed agg (map-side combinable);
# top-k is TakeOrdered. The gram string is the hot-key — identical to
# the q182 postings caveat.
# --------------------------------------------------------------------------
@register(
    "q196_boilerplate_phrases",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
  FROM documents WHERE len(trim(text)) > 0
),
g AS (
  SELECT DISTINCT doc_id,
         t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' '
           || t[i+4] AS gram
  FROM toks CROSS JOIN generate_series(1, 4096) s(i)
  WHERE len(t) >= 5 AND i <= len(t) - 4
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents)
SELECT gram,
       CAST(COUNT(*) AS BIGINT) AS doc_freq,
       CAST(COUNT(*) * 1000000 // ANY_VALUE(n.n_docs) AS BIGINT)
         AS coverage_e6
FROM g CROSS JOIN n
GROUP BY gram
ORDER BY doc_freq DESC, gram
LIMIT 20
""",
)
def q196_boilerplate_phrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cubicerp_client_etl_spark.functions import e6_floor_ratio
    from cubicerp_client_etl_spark.operators.dedup import shingle_rows

    docs = load(spark, sf_dir, "documents")
    base = docs.where(F.length(F.trim("text")) > 0).where(
        F.size(F.split(F.lower(F.trim("text")), r"\s+")) >= 5
    )
    g = shingle_rows(base, "doc_id", "text", n=5).withColumnRenamed("sh", "gram")
    n = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    return (
        g.join(F.broadcast(n))
        .groupBy("gram")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("doc_freq"),
            e6_floor_ratio(F.count(F.lit(1)), F.first("n_docs")).alias(
                "coverage_e6"
            ),
        )
        .orderBy(F.col("doc_freq").desc(), "gram")
        .limit(20)
    )


# --------------------------------------------------------------------------
# q214 (birth q197) — REAL PNG decode path (operators/multimodal.py stdlib zlib
# codec): deterministic grayscale images are ENCODED as real PNGs with
# the per-row filter CYCLING through all five types (None/Sub/Up/
# Average/Paeth — one image exercises the decoder's whole filter
# reconstruction surface), then extract_features(fake=False) inflates
# and reconstructs the actual pixels and buckets the luminance
# histogram. The oracle replays the pixel arithmetic directly (the
# codec round-trip is the identity on pixels, unit-pinned incl. each
# filter), so a filter-reconstruction bug surfaces as a value
# mismatch. The image twin of q024's BMP chain, one compression level
# deeper. Scale: synth + decode are pure map stages.
# --------------------------------------------------------------------------
@register(
    "q214_png_feature_histogram",
    oracle="""
WITH d AS (
  SELECT doc_id, 5 + doc_id % 6 AS w, 6 + doc_id % 5 AS h
  FROM documents WHERE doc_id % 50 = 0
),
px AS (
  SELECT doc_id, w * h AS total, unnest(range(0, w * h)) AS i FROM d
),
pv AS (
  SELECT doc_id, total,
         (((doc_id * 37 + i * 101 + (i * i) % 251) % 256) * 8) // 256 AS bucket
  FROM px
),
c AS (SELECT doc_id, bucket, COUNT(*) AS cnt FROM pv GROUP BY doc_id, bucket),
spine AS (
  SELECT doc_id, total, unnest(range(0, 8)) AS bucket
  FROM (SELECT DISTINCT doc_id, total FROM px)
)
SELECT s.doc_id,
       CAST(s.bucket AS INTEGER) AS bucket,
       COALESCE(c.cnt, 0) / CAST(s.total AS DOUBLE) AS frac
FROM spine s LEFT JOIN c ON s.doc_id = c.doc_id AND s.bucket = c.bucket
""",
)
def q214_png_feature_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from cubicerp_client_etl_spark.operators.multimodal import (
        encode_png_gray,
        extract_features,
    )

    docs = (
        load(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 50 == 0)
        .select("doc_id")
    )

    def gen(batches):
        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 5 + did % 6, 6 + did % 5
                pxs = bytes(
                    (did * 37 + i * 101 + (i * i) % 251) % 256
                    for i in range(w * h)
                )
                payloads.append(encode_png_gray(w, h, pxs, filter_mode="mixed"))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    media = docs.mapInPandas(gen, "doc_id bigint, payload binary").selectExpr(
        "doc_id",
        "payload",
        "named_struct('media_type', 'image/png', 'byte_len', "
        "CAST(length(payload) AS BIGINT), 'format', 'png', "
        "'width', CAST(NULL AS INT), 'height', CAST(NULL AS INT)) AS meta",
    )
    feats = extract_features(media, n_features=8, fake=False)
    return feats.select(
        "doc_id", F.posexplode("features").alias("bucket", "frac")
    ).select(
        "doc_id",
        F.col("bucket").cast("int").alias("bucket"),
        F.col("frac").alias("frac"),
    )


# --------------------------------------------------------------------------
# q198 — mu-law companding quality datasheet (operators/multimodal.py
# ulaw_encode_expr/ulaw_decode_expr): the G.711 telephony codec as
# pure Catalyst integer expressions — deterministic PCM16 waveforms
# are companded to 8-bit mu-law and back IN SQL (no Python row path),
# and the per-waveform report carries exact integers: max absolute
# reconstruction error, signal/noise energy, e6 noise ratio — the
# compression-quality datasheet an audio-ingest pipeline keeps. The
# oracle replays encode AND decode bit-for-bit (bin()/bitwise ops),
# so a companding bug in either engine is a value mismatch. Scale:
# synth/transcode are map stages; one keyed agg.
# --------------------------------------------------------------------------
@register(
    "q198_ulaw_companding_quality",
    oracle="""
WITH sz AS (
  SELECT doc_id, 120 + doc_id % 50 AS n FROM documents WHERE doc_id % 10 = 0
),
samp AS (
  SELECT doc_id, n, g.i AS i,
         ((doc_id * 211 + g.i * 4799) % 60001) - 30000 AS x
  FROM sz CROSS JOIN generate_series(0, 169) g(i)
  WHERE g.i < n
),
enc AS (
  SELECT doc_id, n, i, x,
         xor((seg << 4) | ((a >> (seg + 3)) & 15),
             CASE WHEN x < 0 THEN 127 ELSE 255 END) AS u
  FROM (
    SELECT doc_id, n, i, x, a, length(bin(a)) - 8 AS seg
    FROM (SELECT doc_id, n, i, x,
                 least(abs(x), 32635) + 132 AS a
          FROM samp)
  )
),
dec AS (
  SELECT doc_id, n, i, x,
         CASE WHEN (v & 128) > 0 THEN 132 - t ELSE t - 132 END AS xc
  FROM (
    SELECT doc_id, n, i, x, v,
           (((v & 15) << 3) + 132) << ((v & 112) >> 4) AS t
    FROM (SELECT doc_id, n, i, x, 255 - u AS v FROM enc)
  )
)
SELECT doc_id,
       CAST(ANY_VALUE(n) AS BIGINT) AS n_samples,
       CAST(MAX(abs(x - xc)) AS BIGINT) AS max_abs_err,
       CAST(SUM(x * x) AS BIGINT) AS signal_sq,
       CAST(SUM((x - xc) * (x - xc)) AS BIGINT) AS noise_sq,
       CAST(SUM((x - xc) * (x - xc)) * 1000000 // SUM(x * x) AS BIGINT)
         AS noise_ratio_e6
FROM dec
GROUP BY doc_id
ORDER BY doc_id
""",
)
def q198_ulaw_companding_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cubicerp_client_etl_spark.functions import e6_floor_ratio
    from cubicerp_client_etl_spark.operators.multimodal import (
        ulaw_decode_expr,
        ulaw_encode_expr,
    )

    docs = (
        load(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 10 == 0)
        .select("doc_id", (120 + F.col("doc_id") % 50).alias("n"))
    )
    samp = docs.select(
        "doc_id",
        "n",
        F.explode(F.sequence(F.lit(0), F.col("n") - 1)).alias("i"),
    ).select(
        "doc_id",
        "n",
        "i",
        (
            (F.col("doc_id") * 211 + F.col("i") * 4799) % 60001 - 30000
        )
        .cast("int")
        .alias("x"),
    )
    enc = samp.withColumn("u", ulaw_encode_expr("x"))
    dec = enc.withColumn("xc", ulaw_decode_expr("u"))
    err = F.col("x") - F.col("xc")
    return (
        dec.groupBy("doc_id")
        .agg(
            F.first("n").cast("bigint").alias("n_samples"),
            F.max(F.abs(err)).cast("bigint").alias("max_abs_err"),
            F.sum(F.col("x") * F.col("x")).cast("bigint").alias("signal_sq"),
            F.sum(err * err).cast("bigint").alias("noise_sq"),
            e6_floor_ratio(
                F.sum(err * err), F.sum(F.col("x") * F.col("x"))
            ).alias("noise_ratio_e6"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# q199 — Run-length compressibility signal: runs/chars e6 per document
# plus the corpus roll-up per source. The ORACLE-ABLE member of the
# compressibility family — q131's zlib ratio is rows-only forever
# (no zlib in SQL), while run structure is exact: runs = 1 + Σ[c_i ≠
# c_{i−1}], replayed character-for-character. Low run-ratio (long
# repeated runs) flags the same degenerate/repetitive text the zlib
# signal does, at whole-stage-codegen speed (one regexp-free map —
# the change count via a split on identical-adjacent boundaries).
# Scale: pure map + one keyed agg.
# --------------------------------------------------------------------------
@register(
    "q199_rle_compressibility",
    oracle="""
WITH d AS (
  SELECT doc_id, source, lower(trim(text)) AS t
  FROM documents WHERE len(trim(text)) > 0
),
b AS (
  SELECT d.doc_id, CAST(COUNT(*) AS BIGINT) AS nb
  FROM d CROSS JOIN generate_series(2, 640) g(i)
  WHERE g.i <= len(d.t)
    AND substr(d.t, g.i, 1) <> substr(d.t, g.i - 1, 1)
  GROUP BY d.doc_id
),
r AS (
  SELECT d.doc_id, d.source, len(d.t) AS n_chars,
         1 + COALESCE(b.nb, 0) AS n_runs
  FROM d LEFT JOIN b USING (doc_id)
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS n_chars,
       CAST(SUM(n_runs) AS BIGINT) AS n_runs,
       CAST(SUM(n_runs) * 1000000 // SUM(n_chars) AS BIGINT)
         AS run_ratio_e6,
       CAST(MIN(n_runs * 1000000 // n_chars) AS BIGINT) AS min_doc_ratio_e6
FROM r
GROUP BY source
ORDER BY source
""",
)
def q199_rle_compressibility(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cubicerp_client_etl_spark.functions import e6_floor_ratio

    docs = load(spark, sf_dir, "documents").where(
        F.length(F.trim("text")) > 0
    )
    t = F.lower(F.trim("text"))
    # runs = 1 + number of adjacent-unequal boundaries: compare the
    # string against itself shifted by one (zip of char arrays).
    # Spark's split keeps trailing empties (limit −1), and '(?!^)'
    # also matches at end-of-string — slice to exactly n chars or the
    # phantom '' counts one boundary per document
    chars = F.slice(F.split(t, "(?!^)"), 1, F.length(t))
    boundaries = F.size(
        F.filter(
            F.zip_with(
                chars,
                F.slice(chars, 2, F.greatest(F.size(chars) - 1, F.lit(1))),
                lambda a, b: a != b,
            ),
            lambda x: x,
        )
    )
    r = docs.select(
        "doc_id",
        "source",
        F.length(t).cast("bigint").alias("n_chars"),
        (F.lit(1) + boundaries).cast("bigint").alias("n_runs"),
    )
    return (
        r.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
            F.sum("n_runs").cast("bigint").alias("n_runs"),
            e6_floor_ratio(F.sum("n_runs"), F.sum("n_chars")).alias(
                "run_ratio_e6"
            ),
            F.min(
                e6_floor_ratio(F.col("n_runs"), F.col("n_chars"))
            )
            .cast("bigint")
            .alias("min_doc_ratio_e6"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# q223 (birth q200) — Corpus RELEASE pipeline (the release-flavored sibling of
# q015's curation pipeline): model-based quality gate (q166 scoring,
# keep score >= 0) → exact dedup (md5 fingerprint, keep lowest id) →
# eval-set decontamination (drop docs sharing a word-5-gram with the
# planted eval slice doc_id % 97 == 0) → deterministic hash split →
# the per-(split, lang) release datacard. Every stage is a shape
# proven at scale elsewhere in the corpus (broadcast weight join,
# WindowGroupLimit-free min-id dedup via groupBy, broadcast anti-join
# on shingles, map-side split); the composite's end-to-end numbers
# are what actually ships with a release. Fully oracled.
# --------------------------------------------------------------------------
@register(
    "q223_release_pipeline",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
b AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(token || '|qcls'), 1, 8)) AS BIGINT)
           % 1024 AS bucket
  FROM tok
),
w AS (
  SELECT g.b AS bucket,
         CAST(concat('0x', substr(md5(CAST(g.b AS VARCHAR) || '|qclsw'), 1, 8))
              AS BIGINT) % 2001 - 1000 AS w
  FROM (SELECT unnest(generate_series(0, 1023)) AS b) g
),
scored AS (
  SELECT b.doc_id, CAST(SUM(w.w) AS BIGINT) AS score
  FROM b JOIN w USING (bucket) GROUP BY b.doc_id
),
kept1 AS (
  SELECT d.doc_id, d.lang, d.text
  FROM documents d JOIN scored s USING (doc_id)
  WHERE s.score >= 0
),
fp AS (
  SELECT doc_id, lang, text,
         md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS f
  FROM kept1
),
kept2 AS (
  SELECT doc_id, lang, text
  FROM (SELECT doc_id, lang, text,
               MIN(doc_id) OVER (PARTITION BY f) AS keeper
        FROM fp)
  WHERE doc_id = keeper
),
etoks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
  FROM documents WHERE doc_id % 97 = 0
),
eg AS (
  SELECT DISTINCT t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
           || ' ' || t[i+4] AS gram
  FROM etoks CROSS JOIN generate_series(1, 4096) g(i)
  WHERE len(t) >= 5 AND i <= len(t) - 4
),
ktoks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
  FROM kept2
),
kg AS (
  SELECT DISTINCT doc_id,
         t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' '
           || t[i+4] AS gram
  FROM ktoks CROSS JOIN generate_series(1, 4096) g(i)
  WHERE len(t) >= 5 AND i <= len(t) - 4
),
contaminated AS (SELECT DISTINCT kg.doc_id FROM kg JOIN eg USING (gram)),
kept3 AS (
  SELECT k.doc_id, k.lang, k.text FROM kept2 k
  WHERE k.doc_id NOT IN (SELECT doc_id FROM contaminated)
),
final AS (
  SELECT doc_id, lang,
         CASE WHEN bkt < 900 THEN 'train'
              WHEN bkt < 950 THEN 'val' ELSE 'test' END AS split,
         CASE WHEN len(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_toks
  FROM (SELECT doc_id, lang, text,
               CAST(concat('0x',
                 substr(md5(CAST(doc_id AS VARCHAR) || '|splitr6'), 1, 8))
               AS BIGINT) % 1000 AS bkt
        FROM kept3)
),
st AS (SELECT split, CAST(COUNT(*) AS BIGINT) AS n_split FROM final GROUP BY split)
SELECT f.split, f.lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(f.n_toks) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) * 1000000 // ANY_VALUE(st.n_split) AS BIGINT)
         AS share_in_split_e6
FROM final f JOIN st ON st.split = f.split
GROUP BY f.split, f.lang
ORDER BY f.split, f.lang
""",
)
def q223_release_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cubicerp_client_etl_spark.functions import e6_floor_ratio
    from cubicerp_client_etl_spark.operators.classifier import (
        derived_weights,
        score_documents,
    )
    from cubicerp_client_etl_spark.operators.dedup import shingle_rows
    from cubicerp_client_etl_spark.operators.sampling import hash_split
    from cubicerp_client_etl_spark.operators.text import fingerprint, token_count

    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    # 1. model-based quality gate
    weights = derived_weights(spark, 1024, "qclsw")
    scored = score_documents(docs, weights, 1024, "qcls")
    kept1 = docs.join(
        scored.where(F.col("score") >= 0).select("doc_id"), "doc_id"
    )
    # 2. exact dedup, keep lowest id per fingerprint (min-id via
    # groupBy — map-side combinable, no window sort)
    keeper = (
        kept1.select(fingerprint("text").alias("f"), "doc_id")
        .groupBy("f")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    kept2 = kept1.join(keeper, "doc_id")
    # 3. decontamination against the planted eval slice
    eval_grams = shingle_rows(
        docs.where(F.col("doc_id") % 97 == 0).where(
            F.size(F.split(F.lower(F.trim("text")), r"\s+")) >= 5
        ),
        "doc_id",
        "text",
        n=5,
    ).select("sh").distinct()
    kg = shingle_rows(
        kept2.where(F.size(F.split(F.lower(F.trim("text")), r"\s+")) >= 5),
        "doc_id",
        "text",
        n=5,
    )
    contaminated = (
        kg.join(F.broadcast(eval_grams), "sh").select("doc_id").distinct()
    )
    kept3 = kept2.join(contaminated, "doc_id", "left_anti")
    # 4. deterministic split + 5. per-(split, lang) datacard
    final = hash_split(kept3, "doc_id", salt="r6").select(
        "doc_id", "lang", "split", token_count("text").cast("bigint").alias("n_toks")
    )
    st = final.groupBy("split").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_split")
    )
    return (
        final.join(F.broadcast(st), "split")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_toks").cast("bigint").alias("n_tokens"),
            e6_floor_ratio(F.count(F.lit(1)), F.first("n_split")).alias(
                "share_in_split_e6"
            ),
        )
        .orderBy("split", "lang")
    )


# --------------------------------------------------------------------------
# q201 — Language-ID confusion matrix (the evaluation harness for
# q037's marker-heuristic detector against the corpus's declared
# labels): per (declared, detected) cell counts plus each declared
# language's e6 hit rate — the accuracy datasheet a lang-ID gate is
# tuned with, and the template for evaluating any swapped-in detector.
# Scale: one map pass (the detector is pure Catalyst) + one keyed agg.
# --------------------------------------------------------------------------
@register(
    "q201_langid_confusion",
    oracle="""
WITH t AS (
  SELECT doc_id, lang, string_split_regex(trim(text), '\\s+') AS toks
  FROM documents
),
g AS (
  SELECT lang,
         CASE WHEN greatest(s_de, s_en, s_es, s_fr) < 1 THEN 'und'
              WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
              WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
              WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
              ELSE 'fr' END AS lang_guess
  FROM (
    SELECT lang,
           len(list_filter(toks, x -> lower(x) IN ('the','a','of','and'))) AS s_en,
           len(list_filter(toks, x -> lower(x) IN ('el','la','de','y'))) AS s_es,
           len(list_filter(toks, x -> lower(x) IN ('der','die','das','und'))) AS s_de,
           len(list_filter(toks, x -> lower(x) IN ('le','la','et','les'))) AS s_fr
    FROM t)
),
n AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_lang FROM g GROUP BY lang)
SELECT g.lang AS declared, g.lang_guess AS detected,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(*) * 1000000 // ANY_VALUE(n.n_lang) AS BIGINT)
         AS cell_share_e6,
       CAST(CASE WHEN g.lang = g.lang_guess THEN 1 ELSE 0 END AS INTEGER)
         AS is_hit
FROM g JOIN n ON n.lang = g.lang
GROUP BY g.lang, g.lang_guess
ORDER BY declared, detected
""",
)
def q201_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cubicerp_client_etl_spark.functions import e6_floor_ratio
    from cubicerp_client_etl_spark.operators import text as tx

    docs = load(spark, sf_dir, "documents").select(
        F.col("lang").alias("declared"),
        tx.language_id("text").alias("detected"),
    )
    n = docs.groupBy("declared").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lang")
    )
    return (
        docs.join(F.broadcast(n), "declared")
        .groupBy("declared", "detected")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            e6_floor_ratio(F.count(F.lit(1)), F.first("n_lang")).alias(
                "cell_share_e6"
            ),
            F.when(F.col("declared") == F.col("detected"), 1)
            .otherwise(0)
            .cast("int")
            .alias("is_hit"),
        )
        .orderBy("declared", "detected")
    )


# --------------------------------------------------------------------------
# q202 — IVF cell-balance report (index health for the q184/q150 ANN
# family): per-cell occupancy + e6 share, plus the imbalance factor
# max_cell·k/n vs the uniform ideal — the number that predicts probe
# latency variance (a hot cell makes nprobe=1 queries scan far more
# than n/k). Same centroid set and cosine-assignment rule as the
# q162 recall harness, so the two reports describe the same index.
# Scale: assignment = broadcast against the k-row centroid table +
# per-vector window (keyed by the high-cardinality vec id); the
# report aggregates k rows.
# --------------------------------------------------------------------------
@register(
    "q202_ivf_cell_balance",
    oracle="""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
scored_assign AS (
  SELECT e.vec_id, c.cid,
         ROW_NUMBER() OVER (
           PARTITION BY e.vec_id
           ORDER BY ROUND(list_dot_product(e.v, c.cv) /
                    sqrt(list_dot_product(e.v, e.v) * list_dot_product(c.cv, c.cv)), 6) DESC,
                    c.cid) AS crn
  FROM e CROSS JOIN c
),
assigned AS (SELECT vec_id, cid FROM scored_assign WHERE crn = 1),
cells AS (
  SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_vecs FROM assigned GROUP BY cid
),
tot AS (
  SELECT CAST(SUM(n_vecs) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS k,
         CAST(MAX(n_vecs) AS BIGINT) AS mx
  FROM cells
)
SELECT cells.cid, cells.n_vecs,
       CAST(cells.n_vecs * 1000000 // tot.n AS BIGINT) AS share_e6,
       CAST(tot.mx * tot.k * 1000000 // tot.n AS BIGINT) AS imbalance_e6
FROM cells CROSS JOIN tot
ORDER BY cid
""",
)
def q202_ivf_cell_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from cubicerp_client_etl_spark.functions import e6_floor_ratio
    from cubicerp_client_etl_spark.operators.similarity import as_double, cosine

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("v")
    )
    cents = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    cos_c = F.round(cosine(F.col("v"), F.col("cv")), 6)
    w = W.partitionBy("vec_id").orderBy(F.col("__cs").desc(), F.col("cid"))
    assigned = (
        emb.crossJoin(F.broadcast(cents))
        .select("vec_id", "cid", cos_c.alias("__cs"))
        .withColumn("__crn", F.row_number().over(w))
        .where(F.col("__crn") == 1)
        .select("vec_id", "cid")
    )
    cells = assigned.groupBy("cid").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs")
    )
    tot = cells.agg(
        F.sum("n_vecs").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.max("n_vecs").cast("bigint").alias("mx"),
    )
    return (
        cells.join(F.broadcast(tot))
        .select(
            "cid",
            "n_vecs",
            e6_floor_ratio(F.col("n_vecs"), F.col("n")).alias("share_e6"),
            e6_floor_ratio(F.col("mx") * F.col("k"), F.col("n")).alias(
                "imbalance_e6"
            ),
        )
        .orderBy("cid")
    )


# --------------------------------------------------------------------------
# q203 — LSH band-bucket skew report (observability for the uncapped
# band join of lsh_candidate_pairs): bucket-size
# distribution of the q032 band join — total buckets, singleton
# fraction, max bucket, and the candidate-pair mass Σ m·(m−1)/2 the
# join would emit — the report that says whether a boilerplate
# mega-bucket is about to go quadratic BEFORE the join runs. Same
# portable MinHash/band pipeline as q032 over the same dupped corpus.
# Scale: signatures are one keyed agg; the report aggregates bucket
# counts (bounded by #docs·bands).
# --------------------------------------------------------------------------
@register(
    "q203_lsh_bucket_skew",
    oracle="""
WITH dupped AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
),
toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t FROM dupped
),
sh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
  FROM toks CROSS JOIN generate_series(1, 4096) g(i)
  WHERE len(t) >= 3 AND i <= len(t) - 2
  UNION
  SELECT DISTINCT doc_id, array_to_string(t, ' ') AS sh FROM toks WHERE len(t) < 3
),
hashes AS (
  SELECT doc_id, g.i AS i, MIN(md5(sh || '|' || g.i)) AS h
  FROM sh CROSS JOIN generate_series(0, 31) g(i)
  GROUP BY doc_id, g.i
),
bands AS (
  SELECT doc_id, CAST(i // 4 AS INT) AS band_id,
         md5(string_agg(h, '|' ORDER BY i)) AS band_hash
  FROM hashes GROUP BY doc_id, i // 4
),
buckets AS (
  SELECT band_id, band_hash, CAST(COUNT(*) AS BIGINT) AS m
  FROM bands GROUP BY band_id, band_hash
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(SUM(CASE WHEN m = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_singletons,
       CAST(SUM(CASE WHEN m = 1 THEN 1 ELSE 0 END) * 1000000 // COUNT(*)
         AS BIGINT) AS singleton_e6,
       CAST(MAX(m) AS BIGINT) AS max_bucket,
       CAST(SUM(m * (m - 1) // 2) AS BIGINT) AS candidate_pairs
FROM buckets
""",
)
def q203_lsh_bucket_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cubicerp_client_etl_spark.functions import e6_floor_ratio
    from cubicerp_client_etl_spark.operators import dedup as dd

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    dupped = docs.unionByName(
        docs.filter(F.col("doc_id") % 7 == 0).withColumn(
            "doc_id", F.col("doc_id") + 1000000
        )
    )
    sigs = dd.minhash_signatures(dupped, "doc_id", "text", num_hashes=32)
    bands = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.md5(
                            F.concat_ws(
                                "|", *[F.col(f"h{b * 4 + r}") for r in range(4)]
                            ).cast("binary")
                        ).alias("band_hash"),
                    )
                    for b in range(8)
                ]
            )
        ).alias("_b"),
    ).select("doc_id", "_b.band_id", "_b.band_hash")
    buckets = bands.groupBy("band_id", "band_hash").agg(
        F.count(F.lit(1)).cast("bigint").alias("m")
    )
    single = F.sum(F.when(F.col("m") == 1, 1).otherwise(0))
    return buckets.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        single.cast("bigint").alias("n_singletons"),
        e6_floor_ratio(single, F.count(F.lit(1))).alias("singleton_e6"),
        F.max("m").cast("bigint").alias("max_bucket"),
        F.sum(F.expr("m * (m - 1) div 2")).cast("bigint").alias("candidate_pairs"),
    )


# --------------------------------------------------------------------------
# q050 (birth q204) — SimHash Hamming-ball blocking (completes the SimHash scale
# story: q183 computes fingerprints; this FINDS the near pairs without
# all-pairs): split the 32-bit fingerprint into 4 chunks of 8 bits —
# by pigeonhole, any pair within Hamming distance 3 shares at least
# one chunk — equi-join on (chunk_id, chunk_value), then verify the
# exact Hamming distance on candidates only. Planted near-dups (copies
# with one appended token at doc_id+10⁶) must surface. The standard
# Charikar/Manku-Jain-Sarma blocking, on the r11 SINGLE-DIGEST md5
# family (bit i = hex digit i of md5(token) — one md5 per token
# instead of one per token·bit), so DuckDB still replays fingerprints,
# blocking AND verification bit-for-bit. The 32-bit width is the scale
# fix the round-10 heavy-tail audit prescribed: 4-bit chunks (16
# buckets) made the candidate set DENSE (11.4M pairs from 5.7k docs at
# sf0.1 — the measured wall); 8-bit chunks give 256-way buckets and
# ~16x fewer candidates with the same Hamming<=3 guarantee.
# Scale: fingerprints are map-only; the chunk join is bucketed (the
# LSH-band shape — q203's skew report applies verbatim).
# --------------------------------------------------------------------------
@register(
    "q050_simhash_blocking",
    oracle="""
WITH dupped AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text || ' extra' AS text
  FROM documents WHERE doc_id % 7 = 0
),
toks AS (
  SELECT doc_id, u.t AS t
  FROM dupped, UNNEST(string_split_regex(lower(trim(text)), '\\s+')) AS u(t)
),
digs AS (SELECT doc_id, md5(t) AS d FROM toks),
ones AS (
  SELECT doc_id, g.i AS i,
         COUNT(*) FILTER (WHERE substr(d, g.i + 1, 1) >= '8') AS o
  FROM digs CROSS JOIN generate_series(0, 31) g(i)
  GROUP BY doc_id, g.i
),
counts AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id),
fp AS (
  SELECT o.doc_id,
         CAST(SUM(CASE WHEN 2 * o.o > c.n
                       THEN CAST(1 AS BIGINT) << (31 - o.i)
                       ELSE 0 END) AS BIGINT) AS f
  FROM ones o JOIN counts c ON c.doc_id = o.doc_id
  GROUP BY o.doc_id
),
chunks AS (
  SELECT doc_id, f, g.c AS chunk_id, (f >> (8 * (3 - g.c))) & 255 AS chunk
  FROM fp CROSS JOIN generate_series(0, 3) g(c)
),
ham AS (
  -- least-matching-chunk dedup: a pair is emitted ONLY from its
  -- smallest shared chunk (earlier chunks must differ, checkable from
  -- the carried fingerprints) -> unique by construction, no DISTINCT
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(bit_count(xor(a.f, b.f)) AS BIGINT) AS hamming
  FROM chunks a JOIN chunks b
    ON a.chunk_id = b.chunk_id AND a.chunk = b.chunk
   AND a.doc_id < b.doc_id
  WHERE (a.chunk_id <= 0 OR ((a.f >> 24) & 255) <> ((b.f >> 24) & 255))
    AND (a.chunk_id <= 1 OR ((a.f >> 16) & 255) <> ((b.f >> 16) & 255))
    AND (a.chunk_id <= 2 OR ((a.f >> 8) & 255) <> ((b.f >> 8) & 255))
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_cand,
       CAST(SUM(CASE WHEN hamming <= 3 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_within3,
       CAST((SELECT COUNT(*) FROM documents WHERE doc_id % 7 = 0) AS BIGINT)
         AS n_planted,
       CAST(SUM(CASE WHEN hamming <= 3 AND id_b = id_a + 1000000
                THEN 1 ELSE 0 END) AS BIGINT) AS planted_found,
       CAST(SUM(CASE WHEN hamming <= 3 AND id_b = id_a + 1000000
                THEN 1 ELSE 0 END) * 1000000
            // (SELECT COUNT(*) FROM documents WHERE doc_id % 7 = 0)
         AS BIGINT) AS planted_recall_e6
FROM ham
""",
)
def q050_simhash_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cubicerp_client_etl_spark.operators.dedup import (
        simhash_chunk_candidates,
        simhash_int_portable,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    dupped = docs.unionByName(
        docs.filter(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" extra")).alias("text"),
        )
    )
    fp = dupped.select(
        "doc_id", simhash_int_portable("text", n_bits=32).alias("f")
    )
    # chunk blocking + least-matching-chunk unique emission + inline
    # Hamming verify — the shared operator (uncapped here: the oracle
    # replays the FULL candidate set; ``hot_chunk_cap`` is the opt-in
    # boilerplate defense, equivalence-tested in tests/test_dedup.py)
    ham = simhash_chunk_candidates(
        fp, id_col="doc_id", fp_col="f", n_bits=32, chunk_bits=8
    )
    # the fixture vocabulary is shared across docs, so fingerprints
    # cluster and the pair set is DENSE — report the aggregate
    # datasheet (counts + planted-pair recall) rather than millions of
    # raw pairs
    from cubicerp_client_etl_spark.functions import e6_floor_ratio

    npl = docs.where(F.col("doc_id") % 7 == 0).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_planted")
    )
    within = F.sum(F.when(F.col("hamming") <= 3, 1).otherwise(0))
    found = F.sum(
        F.when(
            (F.col("hamming") <= 3) & (F.col("id_b") == F.col("id_a") + 1000000),
            1,
        ).otherwise(0)
    )
    # the unique-by-construction pair stream feeds ONE aggregate:
    # n_cand is its row count (the old form counted a separate
    # cand.distinct() pass — the pair join now runs once, not twice)
    return ham.join(F.broadcast(npl)).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cand"),
        within.cast("bigint").alias("n_within3"),
        F.first("n_planted").alias("n_planted"),
        found.cast("bigint").alias("planted_found"),
        e6_floor_ratio(found, F.first("n_planted")).alias(
            "planted_recall_e6"
        ),
    )


# --------------------------------------------------------------------------
# q205 — Windowed cardinality: per-hour distinct users, exact AND by
# the portable HLL (``sketches.hll_registers_by`` / ``hll_estimate_by``
# keyed by the event-time window) — the dashboard shape streaming
# analytics actually serves ("uniques per hour"), with the sketch's
# per-window error measured against the exact count in the same
# report. Registers group by (window, bucket) — bounded 64·#windows
# state, the same merge-by-max law the streaming accumulator uses.
# Fully oracled incl. the estimate arithmetic.
# --------------------------------------------------------------------------
@register(
    "q042_windowed_hll_uniques",
    oracle="""
WITH e AS (
  SELECT epoch_us(date_trunc('hour', ts)) AS w_us, user_id FROM events
),
h AS (
  SELECT w_us,
         CAST(concat('0x',
           substr(md5(CAST(user_id AS VARCHAR) || '|hll1'), 1, 8))
         AS BIGINT) AS h,
         user_id
  FROM e
),
rho AS (
  SELECT w_us, h // 67108864 AS bucket,
         MAX(CASE WHEN h % 67108864 = 0 THEN 27
                  ELSE 27 - length(bin(h % 67108864)) END) AS m_rho
  FROM h GROUP BY w_us, h // 67108864
),
regs AS (
  SELECT w.w_us, g.i AS bucket, COALESCE(rho.m_rho, 0) AS m_rho
  FROM (SELECT DISTINCT w_us FROM e) w
  CROSS JOIN generate_series(0, 63) g(i)
  LEFT JOIN rho ON rho.w_us = w.w_us AND rho.bucket = g.i
),
est AS (
  SELECT w_us,
         CAST(389776872046592000 //
              (SUM(CAST(1 AS BIGINT) << (27 - m_rho)) * 1000000)
           AS BIGINT) AS hll_est
  FROM regs GROUP BY w_us
),
ex AS (
  SELECT w_us, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
  FROM e GROUP BY w_us
)
SELECT ex.w_us AS window_start_us, ex.n_exact, est.hll_est,
       CAST(abs(est.hll_est - ex.n_exact) * 1000000 // ex.n_exact AS BIGINT)
         AS err_e6
FROM ex JOIN est ON est.w_us = ex.w_us
ORDER BY window_start_us
""",
)
def q042_windowed_hll_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cubicerp_client_etl_spark.functions import e6_floor_ratio
    from cubicerp_client_etl_spark.operators.sketches import (
        hll_estimate_by,
        hll_registers_by,
    )

    ev = load(spark, sf_dir, "events").select(
        F.unix_micros(F.window("ts", "1 hour").getField("start")).alias("w_us"),
        "user_id",
    )
    est = hll_estimate_by(hll_registers_by(ev, "w_us", "user_id"), "w_us")
    ex = ev.groupBy("w_us").agg(
        F.count_distinct("user_id").cast("bigint").alias("n_exact")
    )
    return (
        ex.join(est, "w_us")
        .select(
            F.col("w_us").alias("window_start_us"),
            "n_exact",
            "hll_est",
            e6_floor_ratio(
                F.abs(F.col("hll_est") - F.col("n_exact")), F.col("n_exact")
            ).alias("err_e6"),
        )
        .orderBy("window_start_us")
    )


# --------------------------------------------------------------------------
# q206 — Character-bigram entropy per language: H = −Σ p·log2 p over
# each language's char-bigram distribution — the script-complexity /
# degenerate-text signal (collapsed boilerplate has low entropy, real
# prose sits in a narrow band per script). One float per bigram TYPE
# (p·log2 p, rounded e6 once — the q174/q028 discipline), then the
# entropy is an integer sum over the bounded type table. Scale: bigram
# extraction is a per-doc bounded explode; counting is one
# map-side-combinable keyed agg; everything after runs on the
# #langs·#types aggregate.
# --------------------------------------------------------------------------
@register(
    "q206_char_bigram_entropy",
    oracle="""
WITH d AS (
  SELECT lang, lower(trim(text)) AS t
  FROM documents WHERE len(trim(text)) >= 2
),
bg AS (
  SELECT lang, substr(t, g.i, 2) AS b
  FROM d CROSS JOIN generate_series(1, 639) g(i)
  WHERE g.i <= len(t) - 1
),
c AS (SELECT lang, b, CAST(COUNT(*) AS BIGINT) AS c FROM bg GROUP BY lang, b),
tot AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS n FROM c GROUP BY lang),
term AS (
  SELECT c.lang,
         CAST(round(-(CAST(c.c AS DOUBLE) / tot.n)
                    * log2(CAST(c.c AS DOUBLE) / tot.n) * 1000000)
           AS BIGINT) AS h_e6
  FROM c JOIN tot ON tot.lang = c.lang
)
SELECT t2.lang,
       ANY_VALUE(tot.n) AS n_bigrams,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       CAST(SUM(t2.h_e6) AS BIGINT) AS entropy_e6
FROM term t2 JOIN tot ON tot.lang = t2.lang
GROUP BY t2.lang
ORDER BY t2.lang
""",
)
def q206_char_bigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").where(
        F.length(F.trim("text")) >= 2
    )
    # materialize the normalized text before the HOF references it —
    # an inlined lower(trim()) would re-run per bigram (the q009
    # CollapseProject lesson); length(_t) in the bound is the second
    # reference that keeps the projection boundary
    d = docs.select("lang", F.lower(F.trim("text")).alias("_t"))
    bg = d.select(
        "lang",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("_t") - 1),
                lambda i: F.col("_t").substr(i, F.lit(2)),
            )
        ).alias("b"),
    )
    c = bg.groupBy("lang", "b").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    tot = c.groupBy("lang").agg(F.sum("c").cast("bigint").alias("n"))
    p = F.col("c").cast("double") / F.col("n")
    term = c.join(F.broadcast(tot), "lang").select(
        "lang",
        "n",
        F.round(-p * F.log2(p) * 1_000_000).cast("bigint").alias("h_e6"),
    )
    return (
        term.groupBy("lang")
        .agg(
            F.first("n").alias("n_bigrams"),
            F.count(F.lit(1)).cast("bigint").alias("n_types"),
            F.sum("h_e6").cast("bigint").alias("entropy_e6"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# q207 — Dedup-family recall matrix (the capstone observability report
# for the whole dedup stack): the SAME corpus gets two kinds of
# planted duplicates — byte-identical copies (doc_id%7 → +10⁶) and
# perturbed copies with one appended token (doc_id%11 → +2·10⁶) — and
# the report measures, per family × plant kind, how many planted
# pairs each detector recovers: exact md5 fingerprint (catches
# identical, misses perturbed BY DESIGN), MinHash-LSH bands (q032
# config), SimHash Hamming<=3 (q204 config). The cross-family recall
# deltas are the quantified version of "why the stack has all three
# layers". Fully oracled: all three chains reuse their queries'
# oracle fragments verbatim. Scale: each family is its proven shape;
# recall checks are joins against the bounded planted-pair dims.
# --------------------------------------------------------------------------
@register(
    "q207_dedup_family_recall",
    oracle="""
WITH dupped AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0
  UNION ALL
  SELECT doc_id + 2000000, text || ' extra' FROM documents WHERE doc_id % 11 = 0
),
plants AS (
  SELECT doc_id AS id_a, doc_id + 1000000 AS id_b, 'identical' AS kind
  FROM documents WHERE doc_id % 7 = 0
  UNION ALL
  SELECT doc_id, doc_id + 2000000, 'perturbed'
  FROM documents WHERE doc_id % 11 = 0
),
fp AS (
  SELECT doc_id,
         md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS f
  FROM dupped
),
exact_hit AS (
  SELECT p.kind, p.id_a
  FROM plants p
  JOIN fp a ON a.doc_id = p.id_a
  JOIN fp b ON b.doc_id = p.id_b AND b.f = a.f
),
toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t FROM dupped
),
sh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
  FROM toks CROSS JOIN generate_series(1, 4096) g(i)
  WHERE len(t) >= 3 AND i <= len(t) - 2
  UNION
  SELECT DISTINCT doc_id, array_to_string(t, ' ') AS sh FROM toks WHERE len(t) < 3
),
shd AS (
  SELECT doc_id, g.g AS g, md5(sh || '|' || g.g) AS dgst
  FROM sh CROSS JOIN generate_series(0, 7) g(g)
),
hashes AS (
  SELECT doc_id, g * 4 + j.j AS i,
         MIN(substr(dgst, 8 * j.j + 1, 8)) AS h
  FROM shd CROSS JOIN generate_series(0, 3) j(j)
  GROUP BY doc_id, g * 4 + j.j
),
bands AS (
  SELECT doc_id, CAST(i // 4 AS INT) AS band_id,
         md5(string_agg(h, '|' ORDER BY i)) AS band_hash
  FROM hashes GROUP BY doc_id, i // 4
),
mh_hit AS (
  SELECT DISTINCT p.kind, p.id_a
  FROM plants p
  JOIN bands a ON a.doc_id = p.id_a
  JOIN bands b ON b.doc_id = p.id_b
   AND b.band_id = a.band_id AND b.band_hash = a.band_hash
),
tokd AS (
  SELECT t2.doc_id, md5(u.t) AS d
  FROM toks t2, UNNEST(t2.t) AS u(t)
),
ones AS (
  SELECT doc_id, g.i AS i,
         COUNT(*) FILTER (WHERE substr(d, g.i + 1, 1) >= '8') AS o,
         COUNT(*) AS n
  FROM tokd CROSS JOIN generate_series(0, 15) g(i)
  GROUP BY doc_id, g.i
),
sfp AS (
  SELECT doc_id,
         string_agg(CASE WHEN 2 * o > n THEN '1' ELSE '0' END, ''
                    ORDER BY i) AS bits
  FROM ones GROUP BY doc_id
),
sh_hit AS (
  SELECT p.kind, p.id_a
  FROM plants p
  JOIN sfp a ON a.doc_id = p.id_a
  JOIN sfp b ON b.doc_id = p.id_b
  WHERE (SELECT COUNT(*) FROM generate_series(1, 16) g(i)
         WHERE substr(a.bits, g.i, 1) <> substr(b.bits, g.i, 1)) <= 3
),
base AS (
  SELECT kind, CAST(COUNT(*) AS BIGINT) AS n_planted FROM plants GROUP BY kind
),
fams AS (
  SELECT 'exact' AS family, kind, CAST(COUNT(*) AS BIGINT) AS found
  FROM exact_hit GROUP BY kind
  UNION ALL
  SELECT 'minhash_lsh', kind, CAST(COUNT(*) AS BIGINT) FROM mh_hit GROUP BY kind
  UNION ALL
  SELECT 'simhash_h3', kind, CAST(COUNT(*) AS BIGINT) FROM sh_hit GROUP BY kind
),
spine AS (
  SELECT f.family, b.kind, b.n_planted
  FROM (SELECT UNNEST(['exact', 'minhash_lsh', 'simhash_h3']) AS family) f
  CROSS JOIN base b
)
SELECT s.family, s.kind, s.n_planted,
       CAST(COALESCE(f.found, 0) AS BIGINT) AS found,
       CAST(COALESCE(f.found, 0) * 1000000 // s.n_planted AS BIGINT)
         AS recall_e6
FROM spine s
LEFT JOIN fams f ON f.family = s.family AND f.kind = s.kind
ORDER BY s.family, s.kind
""",
)
def q207_dedup_family_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cubicerp_client_etl_spark.functions import e6_floor_ratio
    from cubicerp_client_etl_spark.operators import dedup as dd
    from cubicerp_client_etl_spark.operators.dedup import (
        hamming_distance,
        simhash_bits_portable,
    )
    from cubicerp_client_etl_spark.operators.text import fingerprint

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    ident = docs.filter(F.col("doc_id") % 7 == 0)
    pert = docs.filter(F.col("doc_id") % 11 == 0)
    dupped = docs.unionByName(
        ident.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    ).unionByName(
        pert.select(
            (F.col("doc_id") + 2000000).alias("doc_id"),
            F.concat("text", F.lit(" extra")).alias("text"),
        )
    )
    plants = ident.select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + 1000000).alias("id_b"),
        F.lit("identical").alias("kind"),
    ).unionByName(
        pert.select(
            F.col("doc_id").alias("id_a"),
            (F.col("doc_id") + 2000000).alias("id_b"),
            F.lit("perturbed").alias("kind"),
        )
    )
    # Every family fingerprint below is DOC-LOCAL (min over own
    # shingles / votes over own tokens / own normalized text), and the
    # recall joins touch only planted ids — so the builds run on the
    # planted docs alone. Pure dead-code elimination: output identical
    # (the oracle computes all docs and value-matches), but the Spark
    # side skips ~2/3 of the corpus' md5/shingle work. The planted id
    # set is closed-form in the modulus, so it's a FILTER (pushes to
    # the scan), not a join.
    did = F.col("doc_id")
    planted = dupped.filter(
        ((did < 1000000) & ((did % 7 == 0) | (did % 11 == 0)))
        | ((did >= 1000000) & (did < 2000000) & ((did - 1000000) % 7 == 0))
        | ((did >= 2000000) & ((did - 2000000) % 11 == 0))
    )
    # exact family
    fp = planted.select("doc_id", fingerprint("text").alias("f"))
    fa = fp.select(F.col("doc_id").alias("id_a"), F.col("f").alias("_fa"))
    fb = fp.select(F.col("doc_id").alias("id_b"), F.col("f").alias("_fb"))
    exact_hit = (
        plants.join(fa, "id_a")
        .join(fb, "id_b")
        .where(F.col("_fa") == F.col("_fb"))
        .select("kind", "id_a")
    )
    # minhash-lsh family (q032 config)
    sigs = dd.minhash_signatures(
        planted, "doc_id", "text", num_hashes=32, hashes_per_digest=4,
    )
    bands = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.md5(
                            F.concat_ws(
                                "|", *[F.col(f"h{b * 4 + r}") for r in range(4)]
                            ).cast("binary")
                        ).alias("band_hash"),
                    )
                    for b in range(8)
                ]
            )
        ).alias("_b"),
    ).select("doc_id", "_b.band_id", "_b.band_hash")
    ba = bands.select(F.col("doc_id").alias("id_a"), "band_id", "band_hash")
    bb = bands.select(
        F.col("doc_id").alias("id_b"),
        F.col("band_id").alias("_bid"),
        F.col("band_hash").alias("_bh"),
    )
    mh_hit = (
        plants.join(ba, "id_a")
        .join(bb, "id_b")
        .where(
            (F.col("band_id") == F.col("_bid"))
            & (F.col("band_hash") == F.col("_bh"))
        )
        .select("kind", "id_a")
        .distinct()
    )
    # simhash family (q204 config)
    sfp = planted.select(
        "doc_id",
        simhash_bits_portable("text", n_bits=16, single_digest=True).alias(
            "bits"
        ),
    )
    sa = sfp.select(F.col("doc_id").alias("id_a"), F.col("bits").alias("_ba"))
    sb = sfp.select(F.col("doc_id").alias("id_b"), F.col("bits").alias("_bb"))
    sh_hit = (
        plants.join(sa, "id_a")
        .join(sb, "id_b")
        .where(hamming_distance(F.col("_ba"), F.col("_bb")) <= 3)
        .select("kind", "id_a")
    )
    base = plants.groupBy("kind").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_planted")
    )
    fams = (
        exact_hit.groupBy("kind")
        .agg(F.count(F.lit(1)).cast("bigint").alias("found"))
        .withColumn("family", F.lit("exact"))
        .unionByName(
            mh_hit.groupBy("kind")
            .agg(F.count(F.lit(1)).cast("bigint").alias("found"))
            .withColumn("family", F.lit("minhash_lsh"))
        )
        .unionByName(
            sh_hit.groupBy("kind")
            .agg(F.count(F.lit(1)).cast("bigint").alias("found"))
            .withColumn("family", F.lit("simhash_h3"))
        )
    )
    spine = (
        spark.createDataFrame(
            [("exact",), ("minhash_lsh",), ("simhash_h3",)], "family string"
        )
        .join(base)
    )
    return (
        spine.join(fams, ["family", "kind"], "left")
        .select(
            "family",
            "kind",
            "n_planted",
            F.coalesce(F.col("found"), F.lit(0)).cast("bigint").alias("found"),
            e6_floor_ratio(
                F.coalesce(F.col("found"), F.lit(0)), F.col("n_planted")
            ).alias("recall_e6"),
        )
        .orderBy("family", "kind")
    )


# --------------------------------------------------------------------------
# q293 (birth q208) — REAL JPEG decode path (operators/jpeg.py stdlib baseline
# codec, VERDICT r6 "missing" #2): deterministic BLOCK-UNIFORM
# grayscale images (each 8x8 block one planted value — DC-only in DCT
# domain, where the codec round-trip is pixel-EXACT with quant=1;
# unit-pinned in tests/test_multimodal.py) are encoded as real JPEGs
# with restart markers, then extract_features(fake=False) runs the
# actual huffman entropy decode + dequant + IDCT and buckets the
# luminance histogram. The oracle replays the planted block values'
# pixel arithmetic directly, so an entropy/DC-prediction/IDCT/restart
# bug surfaces as a value mismatch. The JPEG sibling of q042's
# PNG-filter chain. Scale: synth + decode are pure map stages
# (mapInPandas, no shuffle).
# --------------------------------------------------------------------------
@register(
    "q293_jpeg_feature_histogram",
    oracle="""
WITH d AS (
  SELECT doc_id, 10 + doc_id % 7 AS w, 9 + doc_id % 6 AS h
  FROM documents WHERE doc_id % 50 = 0
),
px AS (
  SELECT doc_id, w, w * h AS total, unnest(range(0, w * h)) AS i FROM d
),
pv AS (
  SELECT doc_id, total,
         (((doc_id * 31 + ((i // w) // 8) * 17 + ((i % w) // 8) * 53) % 256)
          * 8) // 256 AS bucket
  FROM px
),
c AS (SELECT doc_id, bucket, COUNT(*) AS cnt FROM pv GROUP BY doc_id, bucket),
spine AS (
  SELECT doc_id, total, unnest(range(0, 8)) AS bucket
  FROM (SELECT DISTINCT doc_id, total FROM px)
)
SELECT s.doc_id,
       CAST(s.bucket AS INTEGER) AS bucket,
       COALESCE(c.cnt, 0) / CAST(s.total AS DOUBLE) AS frac
FROM spine s LEFT JOIN c ON s.doc_id = c.doc_id AND s.bucket = c.bucket
""",
)
def q293_jpeg_feature_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from cubicerp_client_etl_spark.operators.jpeg import encode_jpeg_gray
    from cubicerp_client_etl_spark.operators.multimodal import extract_features

    docs = (
        load(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 50 == 0)
        .select("doc_id")
    )

    def gen(batches):
        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 10 + did % 7, 9 + did % 6
                pxs = bytes(
                    (did * 31 + (y // 8) * 17 + (x // 8) * 53) % 256
                    for y in range(h)
                    for x in range(w)
                )
                payloads.append(
                    encode_jpeg_gray(w, h, pxs, quant=[1] * 64, restart_interval=2)
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    media = docs.mapInPandas(gen, "doc_id bigint, payload binary").selectExpr(
        "doc_id",
        "payload",
        "named_struct('media_type', 'image/jpeg', 'byte_len', "
        "CAST(length(payload) AS BIGINT), 'format', 'jpeg', "
        "'width', CAST(NULL AS INT), 'height', CAST(NULL AS INT)) AS meta",
    )
    feats = extract_features(media, n_features=8, fake=False)
    return feats.select(
        "doc_id", F.posexplode("features").alias("bucket", "frac")
    ).select(
        "doc_id",
        F.col("bucket").cast("int").alias("bucket"),
        F.col("frac").alias("frac"),
    )


# --------------------------------------------------------------------------
# q083 (birth q209) — Histogram quantile sketch audit (operators/quantiles.py
# histogram_quantile_sketch): the quantile member of the portable
# sketch family (CMS/HLL/Bloom/occupancy), with its accuracy audit in
# the same query — est vs exact_quantiles at five q's over exact
# lineitem price cents, |err| and the certified bucket-width bound
# (exact ∈ [est, est+w) by the shared disc-rank rule, so `within` is
# deterministically true — the audit proves the bound, not luck).
# Everything is exact integer (decimal-cast cents, integer `div`
# bucketing), so every cell oracle-replays. Scale: two map-side-
# combinable corpus passes + the two-phase prefix scan over <= 256
# bucket rows; shard sketches merge by count-sum + min/min + max/max.
# --------------------------------------------------------------------------
@register(
    "q083_quantile_sketch_audit",
    oracle="""
WITH c AS (
  SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
  FROM lineitem
),
mm AS (SELECT MIN(v) AS lo, MAX(v) AS hi, CAST(COUNT(*) AS BIGINT) AS n FROM c),
pw AS (SELECT lo, hi, n, (hi - lo + 256) // 256 AS w FROM mm),
bu AS (
  SELECT (c.v - pw.lo) // pw.w AS b, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM c CROSS JOIN pw GROUP BY 1
),
cum AS (SELECT b, SUM(cnt) OVER (ORDER BY b) AS cum FROM bu),
spec AS (SELECT unnest([0.01, 0.25, 0.5, 0.75, 0.99]) AS q),
est AS (
  SELECT s.q, pw.lo + MIN(cum.b) * pw.w AS est_cents, pw.w AS bound_cents
  FROM spec s CROSS JOIN cum CROSS JOIN pw
  WHERE CAST(cum.cum AS DOUBLE) / pw.n >= s.q
  GROUP BY s.q, pw.lo, pw.w
),
ex AS (
  SELECT 0.01 AS q, quantile_disc(v, 0.01) AS exact_cents FROM c
  UNION ALL SELECT 0.25, quantile_disc(v, 0.25) FROM c
  UNION ALL SELECT 0.5,  quantile_disc(v, 0.5)  FROM c
  UNION ALL SELECT 0.75, quantile_disc(v, 0.75) FROM c
  UNION ALL SELECT 0.99, quantile_disc(v, 0.99) FROM c
)
SELECT CAST(e.q AS DOUBLE) AS q,
       CAST(est.est_cents AS BIGINT) AS est_cents,
       CAST(e.exact_cents AS BIGINT) AS exact_cents,
       CAST(abs(e.exact_cents - est.est_cents) AS BIGINT) AS abs_err_cents,
       CAST(est.bound_cents AS BIGINT) AS bound_cents,
       abs(e.exact_cents - est.est_cents) < est.bound_cents AS within
FROM ex e JOIN est ON est.q = e.q
ORDER BY q
""",
)
def q083_quantile_sketch_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cubicerp_client_etl_spark.operators.quantiles import (
        exact_quantiles,
        histogram_quantile_sketch,
    )

    li = load(spark, sf_dir, "lineitem").select(
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents")
    )
    qs = [0.01, 0.25, 0.5, 0.75, 0.99]
    sk = histogram_quantile_sketch(
        li, "cents", qs, n_buckets=256, est_col="est_cents",
        bound_col="bound_cents",
    )
    ex = exact_quantiles(li, "cents", qs, out_col="exact_cents")
    err = F.abs(F.col("exact_cents") - F.col("est_cents"))
    return (
        sk.join(ex, "q")
        .select(
            "q",
            "est_cents",
            "exact_cents",
            err.cast("bigint").alias("abs_err_cents"),
            "bound_cents",
            (err < F.col("bound_cents")).alias("within"),
        )
        .orderBy("q")
    )


# --------------------------------------------------------------------------
# q175 (birth q210) — Per-source quantile sketch datasheet (operators/quantiles.py
# histogram_quantile_sketch_by): per-domain token-length p50/p95 with
# certified bounds — the curation-policy input (length caps per
# source) at fixed memory per group (B counter rows), which
# exact_quantiles_by cannot promise for continuous columns. Audit
# columns compare each estimate to the exact per-group disc quantile;
# `within` is deterministically true by the shared rank rule. Scale:
# two keyed map-side-combinable aggs + a group-keyed window over
# <= 64 bucket rows per group; NULL groups survive via the null-safe
# grid join (unit-pinned).
# --------------------------------------------------------------------------
@register(
    "q175_grouped_quantile_sketch",
    oracle="""
WITH v AS (
  SELECT source,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS v
  FROM documents
),
mm AS (
  SELECT source, MIN(v) AS lo, MAX(v) AS hi, CAST(COUNT(*) AS BIGINT) AS n
  FROM v GROUP BY source
),
pw AS (SELECT source, lo, n, (hi - lo + 64) // 64 AS w FROM mm),
bu AS (
  SELECT v.source, (v.v - pw.lo) // pw.w AS b, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM v JOIN pw ON pw.source IS NOT DISTINCT FROM v.source
  GROUP BY v.source, b
),
cum AS (
  SELECT source, b, SUM(cnt) OVER (PARTITION BY source ORDER BY b) AS cum
  FROM bu
),
spec AS (SELECT unnest([0.5, 0.95]) AS q),
est AS (
  SELECT c.source, s.q, pw.lo + MIN(c.b) * pw.w AS est, pw.w AS bound
  FROM cum c
  JOIN pw ON pw.source IS NOT DISTINCT FROM c.source
  CROSS JOIN spec s
  WHERE CAST(c.cum AS DOUBLE) / pw.n >= s.q
  GROUP BY c.source, s.q, pw.lo, pw.w
),
ex AS (
  SELECT source, 0.5 AS q, quantile_disc(v, 0.5) AS exact FROM v GROUP BY source
  UNION ALL
  SELECT source, 0.95, quantile_disc(v, 0.95) FROM v GROUP BY source
)
SELECT e.source, CAST(e.q AS DOUBLE) AS q,
       CAST(t.est AS BIGINT) AS est_tokens,
       CAST(e.exact AS BIGINT) AS exact_tokens,
       CAST(abs(e.exact - t.est) AS BIGINT) AS abs_err,
       CAST(t.bound AS BIGINT) AS bound,
       abs(e.exact - t.est) < t.bound AS within
FROM ex e
JOIN est t ON t.source IS NOT DISTINCT FROM e.source AND t.q = e.q
ORDER BY e.source, e.q
""",
)
def q175_grouped_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cubicerp_client_etl_spark.operators.quantiles import (
        exact_quantiles_by,
        histogram_quantile_sketch_by,
    )

    docs = load(spark, sf_dir, "documents").select(
        "source",
        F.size(F.split(F.trim("text"), r"\s+")).cast("bigint").alias("n_tok"),
    )
    qs = [0.5, 0.95]
    sk = histogram_quantile_sketch_by(
        docs, "source", "n_tok", qs, n_buckets=64,
        est_col="est_tokens", bound_col="bound",
    )
    ex = exact_quantiles_by(docs, "source", "n_tok", qs, out_col="exact_tokens")
    err = F.abs(F.col("exact_tokens") - F.col("est_tokens"))
    return (
        sk.join(ex, ["source", "q"])
        .select(
            "source",
            "q",
            "est_tokens",
            F.col("exact_tokens").cast("bigint").alias("exact_tokens"),
            err.cast("bigint").alias("abs_err"),
            "bound",
            (err < F.col("bound")).alias("within"),
        )
        .orderBy("source", "q")
    )


# --------------------------------------------------------------------------
# q053 (birth q211) — Unicode NFC key collapse (operators/text.nfc_normalize_col):
# the normalization-before-hashing step every multilingual dedup chain
# needs. Two variants are planted per selected doc — composed ('a' ->
# U+00E0) and decomposed ('a' -> 'a' + combining U+0300) — which are
# different byte strings (2 raw md5 keys) but the same text; after
# NFC both collapse to one key. Python's stdlib NFC (Arrow-batched
# pandas UDF) is probe-verified byte-identical to DuckDB's
# nfc_normalize (both UAX #15), so every md5 cell oracle-replays —
# the cross-engine unicode discipline, pinned at corpus level.
# Scale: map-only (a pandas UDF + hash, no shuffle before the agg).
# --------------------------------------------------------------------------
@register(
    "q053_unicode_nfc_dedup",
    oracle="""
WITH sel AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
var AS (
  SELECT doc_id, 0 AS variant, replace(text, 'a', chr(224)) AS t FROM sel
  UNION ALL
  SELECT doc_id, 1, replace(text, 'a', 'a' || chr(768)) FROM sel
),
k AS (
  SELECT doc_id, md5(t) AS raw_key, md5(nfc_normalize(t)) AS nfc_key FROM var
)
SELECT doc_id,
       CAST(COUNT(DISTINCT raw_key) AS BIGINT) AS n_raw_keys,
       CAST(COUNT(DISTINCT nfc_key) AS BIGINT) AS n_nfc_keys,
       MIN(nfc_key) AS nfc_key
FROM k GROUP BY doc_id
""",
)
def q053_unicode_nfc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cubicerp_client_etl_spark.operators.text import nfc_normalize_col

    sel = (
        load(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 5 == 0)
        .select("doc_id", "text")
    )
    composed = sel.select(
        "doc_id", F.replace(F.col("text"), F.lit("a"), F.lit("\u00e0")).alias("t")
    )
    decomposed = sel.select(
        "doc_id", F.replace(F.col("text"), F.lit("a"), F.lit("a\u0300")).alias("t")
    )
    var = composed.unionByName(decomposed)
    k = var.select(
        "doc_id",
        F.md5(F.encode(F.col("t"), "UTF-8")).alias("raw_key"),
        F.md5(F.encode(nfc_normalize_col("t"), "UTF-8")).alias("nfc_key"),
    )
    return k.groupBy("doc_id").agg(
        F.count_distinct("raw_key").cast("bigint").alias("n_raw_keys"),
        F.count_distinct("nfc_key").cast("bigint").alias("n_nfc_keys"),
        F.min("nfc_key").alias("nfc_key"),
    )


# --------------------------------------------------------------------------
# q289 (birth q212) — HTML boilerplate stripping (operators/text.strip_html): the
# web-corpus extraction step — drop <script>/<style> subtrees, strip
# tags, decode the five standard entities, collapse whitespace — as a
# pure whole-stage-codegen regex chain (no UDF) restricted to the
# regex subset Java and RE2 evaluate identically, replayed verbatim by
# the oracle. The fixture documents are wrapped in a synthesized page
# (title/script/p/div) so the stripper must remove script CONTENT,
# not just tags, and recover the original text plus the visible
# title/source fragments. Scale: map-only.
# --------------------------------------------------------------------------
@register(
    "q289_html_strip",
    oracle="""
WITH page AS (
  SELECT doc_id,
         '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
         '</title><script type="text/javascript">var x = 1 &amp;&amp; 2;'
         || '</script></head><body><p>' || text ||
         '</p><div class="footer">source: ' || COALESCE(source, 'none') ||
         ' &copy; 2026</div></body></html>' AS html
  FROM documents
),
s1 AS (SELECT doc_id, regexp_replace(html, '<script[^>]*>.*?</script>', ' ', 'g') AS t FROM page),
s2 AS (SELECT doc_id, regexp_replace(t, '<style[^>]*>.*?</style>', ' ', 'g') AS t FROM s1),
s3 AS (SELECT doc_id, regexp_replace(t, '<[^>]*>', ' ', 'g') AS t FROM s2),
s4 AS (
  SELECT doc_id,
         replace(replace(replace(replace(replace(t,
           '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
           '&amp;', '&') AS t
  FROM s3
),
clean AS (SELECT doc_id, trim(regexp_replace(t, '\\s+', ' ', 'g')) AS t FROM s4)
SELECT doc_id, md5(t) AS text_md5,
       CAST(length(t) AS BIGINT) AS n_chars,
       CAST(t LIKE 'Doc %' AS BOOLEAN) AS has_title,
       CAST(t NOT LIKE '%var x%' AS BOOLEAN) AS script_dropped
FROM clean
""",
)
def q289_html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cubicerp_client_etl_spark.operators.text import strip_html

    docs = load(spark, sf_dir, "documents").select("doc_id", "text", "source")
    page = docs.select(
        "doc_id",
        F.concat(
            F.lit("<html><head><title>Doc "),
            F.col("doc_id").cast("string"),
            F.lit(
                '</title><script type="text/javascript">var x = 1 &amp;&amp; 2;'
                "</script></head><body><p>"
            ),
            F.col("text"),
            F.lit('</p><div class="footer">source: '),
            F.coalesce(F.col("source"), F.lit("none")),
            F.lit(" &copy; 2026</div></body></html>"),
        ).alias("html"),
    )
    clean = page.select("doc_id", strip_html("html").alias("t"))
    return clean.select(
        "doc_id",
        F.md5(F.encode(F.col("t"), "UTF-8")).alias("text_md5"),
        F.length("t").cast("bigint").alias("n_chars"),
        F.col("t").startswith("Doc ").alias("has_title"),
        (~F.col("t").contains("var x")).alias("script_dropped"),
    )


# --------------------------------------------------------------------------
# q213 — URL canonicalization dedup (operators/text.canonical_url):
# the crawl-frontier key — two synthesized variants per doc (mixed
# case + default port + utm params + fragment + trailing slash vs the
# clean form) are different raw strings but one page; canonicalization
# collapses them 2 -> 1. Pure codegen Column chain mirrored verbatim
# in the oracle (regexp_extract / split_part / list_filter /
# list_sort — the Java-RE2-identical subset). Scale: map-only.
# --------------------------------------------------------------------------
@register(
    "q213_url_canonicalize",
    oracle="""
WITH base AS (
  SELECT doc_id, COALESCE(source, 'none') AS src, doc_id % 7 AS ref
  FROM documents
),
var AS (
  SELECT doc_id,
         'HTTP://WWW.' || upper(src) || '.COM:80/docs/' ||
         CAST(doc_id AS VARCHAR) || '/?utm_campaign=x&ref=' ||
         CAST(ref AS VARCHAR) || '&lang=en#top' AS u
  FROM base
  UNION ALL
  SELECT doc_id,
         'http://www.' || lower(src) || '.com/docs/' ||
         CAST(doc_id AS VARCHAR) || '?lang=en&ref=' || CAST(ref AS VARCHAR)
  FROM base
),
c AS (
  SELECT doc_id, u,
         lower(regexp_extract(u, '^([A-Za-z]+)://', 1)) AS scheme,
         regexp_replace(u, '^[A-Za-z]+://', '') AS after
  FROM var
),
c2 AS (
  SELECT doc_id, u, scheme, after,
         lower(regexp_extract(after, '^([^/?#]+)', 1)) AS hostport,
         split_part(after, '#', 1) AS pathqf
  FROM c
),
c3 AS (
  SELECT doc_id, u, scheme,
         CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
              WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
              ELSE hostport END AS host,
         substr(pathqf, length(hostport) + 1) AS tail
  FROM c2
),
c4 AS (
  SELECT doc_id, u, scheme, host,
         CASE WHEN regexp_replace(split_part(tail, '?', 1), '/+$', '') = ''
              THEN '/'
              ELSE regexp_replace(split_part(tail, '?', 1), '/+$', '') END AS path,
         CASE WHEN contains(tail, '?')
              THEN substr(tail, instr(tail, '?') + 1)
              ELSE '' END AS query
  FROM c3
),
c5 AS (
  SELECT doc_id, u, scheme, host, path,
         array_to_string(list_sort(list_filter(string_split(query, '&'),
           p -> p <> '' AND NOT starts_with(p, 'utm_'))), '&') AS qs
  FROM c4
),
k AS (
  SELECT doc_id, md5(u) AS raw_key,
         scheme || '://' || host || path ||
         CASE WHEN qs <> '' THEN '?' || qs ELSE '' END AS canon
  FROM c5
)
SELECT doc_id,
       CAST(COUNT(DISTINCT raw_key) AS BIGINT) AS n_raw_keys,
       CAST(COUNT(DISTINCT canon) AS BIGINT) AS n_canon_keys,
       MIN(canon) AS canon_url
FROM k GROUP BY doc_id
""",
)
def q213_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cubicerp_client_etl_spark.operators.text import canonical_url

    base = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.coalesce(F.col("source"), F.lit("none")).alias("src"),
        (F.col("doc_id") % 7).alias("ref"),
    )
    v0 = base.select(
        "doc_id",
        F.concat(
            F.lit("HTTP://WWW."), F.upper("src"), F.lit(".COM:80/docs/"),
            F.col("doc_id").cast("string"), F.lit("/?utm_campaign=x&ref="),
            F.col("ref").cast("string"), F.lit("&lang=en#top"),
        ).alias("u"),
    )
    v1 = base.select(
        "doc_id",
        F.concat(
            F.lit("http://www."), F.lower("src"), F.lit(".com/docs/"),
            F.col("doc_id").cast("string"), F.lit("?lang=en&ref="),
            F.col("ref").cast("string"),
        ).alias("u"),
    )
    k = v0.unionByName(v1).select(
        "doc_id",
        F.md5(F.encode(F.col("u"), "UTF-8")).alias("raw_key"),
        canonical_url("u").alias("canon"),
    )
    return k.groupBy("doc_id").agg(
        F.count_distinct("raw_key").cast("bigint").alias("n_raw_keys"),
        F.count_distinct("canon").cast("bigint").alias("n_canon_keys"),
        F.min("canon").alias("canon_url"),
    )


# --------------------------------------------------------------------------
# q294 (birth q214) — REAL GIF decode path (operators/gif.py stdlib LZW codec):
# deterministic per-pixel grayscale images are encoded as INTERLACED
# GIFs with real LZW compression, then extract_features(fake=False)
# runs the actual variable-width LZW decode + interlace reorder +
# palette-luma mapping and buckets the histogram. Gray-palette GIF is
# pixel-exact on ANY content (palette luma == pixel value, no DCT),
# so the oracle replays the planted pixel arithmetic directly — an
# LZW/interlace/palette bug surfaces as a value mismatch. Fourth
# member of the real-codec chain (BMP q024, PNG q042, JPEG q208).
# Scale: synth + decode are pure map stages.
# --------------------------------------------------------------------------
@register(
    "q294_gif_feature_histogram",
    oracle="""
WITH d AS (
  SELECT doc_id, 9 + doc_id % 8 AS w, 7 + doc_id % 9 AS h
  FROM documents WHERE doc_id % 50 = 0
),
px AS (
  SELECT doc_id, w * h AS total, unnest(range(0, w * h)) AS i FROM d
),
pv AS (
  SELECT doc_id, total,
         (((doc_id * 43 + i * 97 + (i * i) % 193) % 256) * 8) // 256 AS bucket
  FROM px
),
c AS (SELECT doc_id, bucket, COUNT(*) AS cnt FROM pv GROUP BY doc_id, bucket),
spine AS (
  SELECT doc_id, total, unnest(range(0, 8)) AS bucket
  FROM (SELECT DISTINCT doc_id, total FROM px)
)
SELECT s.doc_id,
       CAST(s.bucket AS INTEGER) AS bucket,
       COALESCE(c.cnt, 0) / CAST(s.total AS DOUBLE) AS frac
FROM spine s LEFT JOIN c ON s.doc_id = c.doc_id AND s.bucket = c.bucket
""",
)
def q294_gif_feature_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from cubicerp_client_etl_spark.operators.gif import encode_gif_gray
    from cubicerp_client_etl_spark.operators.multimodal import extract_features

    docs = (
        load(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 50 == 0)
        .select("doc_id")
    )

    def gen(batches):
        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 9 + did % 8, 7 + did % 9
                pxs = bytes(
                    (did * 43 + i * 97 + (i * i) % 193) % 256
                    for i in range(w * h)
                )
                payloads.append(encode_gif_gray(w, h, pxs, interlace=True))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    media = docs.mapInPandas(gen, "doc_id bigint, payload binary").selectExpr(
        "doc_id",
        "payload",
        "named_struct('media_type', 'image/gif', 'byte_len', "
        "CAST(length(payload) AS BIGINT), 'format', 'gif', "
        "'width', CAST(NULL AS INT), 'height', CAST(NULL AS INT)) AS meta",
    )
    feats = extract_features(media, n_features=8, fake=False)
    return feats.select(
        "doc_id", F.posexplode("features").alias("bucket", "frac")
    ).select(
        "doc_id",
        F.col("bucket").cast("int").alias("bucket"),
        F.col("frac").alias("frac"),
    )


# --------------------------------------------------------------------------
# q264 (birth q215) — Keyed HLL uniques datasheet (operators/sketches.py
# hll_registers_by / hll_estimate_by): distinct users PER EVENT TYPE
# at fixed memory per group (64 registers each, merge-by-max across
# shards/streams) — the per-domain uniques production shape — reported
# next to the exact per-group distinct count with the e6 error, so the
# query doubles as the keyed sketch's accuracy audit. Same portable
# md5 family and exact-integer estimate as q011; every register and
# every estimate cell oracle-replays. Scale: map projection + keyed
# 64-group max (map-side partial); spine = groups × 64, bounded by
# group count. Unit-pinned equal to the global sketch run per filtered
# group (tests/test_sketches.py).
# --------------------------------------------------------------------------
@register(
    "q264_keyed_hll_uniques",
    oracle="""
WITH e AS (SELECT event_type, user_id FROM events),
h AS (
  SELECT event_type,
         CAST(concat('0x',
           substr(md5(CAST(user_id AS VARCHAR) || '|hll1'), 1, 8))
         AS BIGINT) AS h,
         user_id
  FROM e
),
rho AS (
  SELECT event_type, h // 67108864 AS bucket,
         MAX(CASE WHEN h % 67108864 = 0 THEN 27
                  ELSE 27 - length(bin(h % 67108864)) END) AS m_rho
  FROM h GROUP BY event_type, h // 67108864
),
regs AS (
  SELECT g.event_type, s.i AS bucket, COALESCE(rho.m_rho, 0) AS m_rho
  FROM (SELECT DISTINCT event_type FROM e) g
  CROSS JOIN generate_series(0, 63) s(i)
  LEFT JOIN rho ON rho.event_type IS NOT DISTINCT FROM g.event_type
              AND rho.bucket = s.i
),
est AS (
  SELECT event_type,
         CAST(389776872046592000 //
              (SUM(CAST(1 AS BIGINT) << (27 - m_rho)) * 1000000)
           AS BIGINT) AS hll_est
  FROM regs GROUP BY event_type
),
ex AS (
  SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
  FROM e GROUP BY event_type
)
SELECT ex.event_type, ex.n_exact, est.hll_est,
       CAST(abs(est.hll_est - ex.n_exact) * 1000000 // ex.n_exact AS BIGINT)
         AS err_e6
FROM ex JOIN est ON est.event_type IS NOT DISTINCT FROM ex.event_type
ORDER BY ex.event_type
""",
)
def q264_keyed_hll_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cubicerp_client_etl_spark.functions import e6_floor_ratio
    from cubicerp_client_etl_spark.operators.sketches import (
        hll_estimate_by,
        hll_registers_by,
    )

    ev = load(spark, sf_dir, "events").select("event_type", "user_id")
    est = hll_estimate_by(
        hll_registers_by(ev, "event_type", "user_id", seed="1"), "event_type"
    ).select("event_type", "hll_est")
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("bigint").alias("n_exact")
    )
    return (
        exact.join(est, "event_type")
        .select(
            "event_type",
            "n_exact",
            "hll_est",
            e6_floor_ratio(
                F.abs(F.col("hll_est") - F.col("n_exact")), F.col("n_exact")
            ).alias("err_e6"),
        )
        .orderBy("event_type")
    )
