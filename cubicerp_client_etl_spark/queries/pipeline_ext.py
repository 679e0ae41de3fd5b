"""Training-data-pipeline queries (SURVEY §2.L): dedup, similarity
search, text analysis, multimodal — over the documents/embeddings/events
fixtures, with DuckDB oracles wherever the semantics are SQL-expressible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from cubicerp_client_etl_spark.catalog import load
from cubicerp_client_etl_spark.operators import dedup as dd
from cubicerp_client_etl_spark.operators import similarity as sim
from cubicerp_client_etl_spark.operators import text as tx
from cubicerp_client_etl_spark.operators.multimodal import (
    attach_binary_payload,
    extract_features,
    resize_media,
    sample_frames,
)
from cubicerp_client_etl_spark.queries import register

# --------------------------------------------------------------------------
# q030 — exact dedup, keep-latest (L-dedup1): one event per (user_id,
# event_type), latest ts with event_id tie-break.
# --------------------------------------------------------------------------
@register(
    "q030_dedup_keep_latest",
    headline=True,
    oracle="""
SELECT user_id, event_type, event_id, value
FROM events
QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                           ORDER BY ts DESC, event_id DESC) = 1
""",
)
def q030_dedup_keep_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    out = dd.exact_dedup(
        ev,
        ["user_id", "event_type"],
        [F.col("ts").desc(), F.col("event_id").desc()],
    )
    return out.select("user_id", "event_type", "event_id", "value")


# --------------------------------------------------------------------------
# q069 — whole-row exact dedup via fingerprint (L-dedup1 + L-txt
# fingerprint): documents deduped on normalized-text md5. The fixture is
# dup-free, so the engine synthesizes dups (union with shifted ids) and
# the oracle mirrors that — exercising the keep-min-id semantics for real.
# --------------------------------------------------------------------------
@register(
    "q069_dedup_fingerprint",
    oracle="""
WITH dupped AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 3 = 0
)
SELECT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp,
       MIN(doc_id) AS kept_doc_id,
       COUNT(*) AS n_copies
FROM dupped GROUP BY 1
""",
)
def q069_dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    dupped = docs.unionByName(
        docs.filter(F.col("doc_id") % 3 == 0).withColumn(
            "doc_id", F.col("doc_id") + 1000000
        )
    )
    return (
        dupped.withColumn("fp", tx.fingerprint("text"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("kept_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# --------------------------------------------------------------------------
# q146 (birth q031) — n-gram Jaccard similarity vs a probe document (L-dedup, exact
# form): 3-gram shingle sets, one semi-join pass, linear in corpus size.
# --------------------------------------------------------------------------
@register(
    "q146_ngram_jaccard_probe",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
  FROM toks CROSS JOIN generate_series(1, 4096) g(i)
  WHERE len(t) >= 3 AND i <= len(t) - 2
  UNION
  SELECT DISTINCT doc_id, array_to_string(t, ' ') AS sh FROM toks WHERE len(t) < 3
),
probe AS (SELECT sh FROM sh WHERE doc_id = 0),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
probe_size AS (SELECT COUNT(*) AS psz FROM probe),
inter AS (
  SELECT s.doc_id, COUNT(*) AS n_inter
  FROM sh s JOIN probe p ON s.sh = p.sh
  WHERE s.doc_id <> 0
  GROUP BY s.doc_id
)
SELECT i.doc_id,
       ROUND(CAST(i.n_inter AS DOUBLE) / (z.sz + ps.psz - i.n_inter), 6) AS jaccard
FROM inter i JOIN sizes z USING (doc_id) CROSS JOIN probe_size ps
WHERE CAST(i.n_inter AS DOUBLE) / (z.sz + ps.psz - i.n_inter) >= 0.01
""",
)
def q146_ngram_jaccard_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    # NOTE (r16 measured): checkpointing this distinct shingle frame
    # for its four consumers read SLOWER at sf1 (8.8 → 10.4 s A/B
    # median) — AQE's runtime exchange reuse already dedupes the
    # identical distinct exchanges (the q254 counter-example), so the
    # checkpoint only added a shingle-stream materialization. Left as
    # plan-level reuse deliberately.
    sh = (
        docs.select(F.col("doc_id"), F.explode(dd.shingles("text", 3)).alias("sh"))
        .distinct()
    )
    probe = sh.filter(F.col("doc_id") == 0).select("sh")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    psz = probe.count()  # driver-side scalar: one probe's set size
    inter = (
        sh.filter(F.col("doc_id") != 0)
        .join(F.broadcast(probe), "sh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    jac = F.col("n_inter").cast("double") / (F.col("sz") + F.lit(psz) - F.col("n_inter"))
    return (
        inter.join(sizes, "doc_id")
        .filter(jac >= 0.01)
        .select("doc_id", F.round(jac, 6).alias("jaccard"))
    )


# --------------------------------------------------------------------------
# q082 (birth q032) — MinHash + LSH near-dup candidates (L-dedup2): the scale path.
# minhash_signatures hashes with the md5-string family: min over md5
# hex strings is a valid MinHash under any total order, and DuckDB
# replays the whole pipeline — shingles → 32 min-hashes → 8 band keys
# → bucket self-join → exact-Jaccard verify — value-for-value (the same
# family is recall-tested in tests/test_dedup.py).
# --------------------------------------------------------------------------
@register(
    "q082_minhash_lsh_candidates",
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
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.id_a
  JOIN sh sb ON sb.doc_id = c.id_b AND sb.sh = sa.sh
  GROUP BY c.id_a, c.id_b
)
SELECT i.id_a, i.id_b,
       ROUND(CAST(i.n_inter AS DOUBLE) / (za.sz + zb.sz - i.n_inter), 6) AS jaccard
FROM inter i
JOIN sizes za ON za.doc_id = i.id_a
JOIN sizes zb ON zb.doc_id = i.id_b
WHERE ROUND(CAST(i.n_inter AS DOUBLE) / (za.sz + zb.sz - i.n_inter), 6) >= 0.8
""",
)
def q082_minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    # synthesize near-dups so the pipeline has something to find
    dupped = docs.unionByName(
        docs.filter(F.col("doc_id") % 7 == 0).withColumn(
            "doc_id", F.col("doc_id") + 1000000
        )
    )
    sigs = dd.minhash_signatures(dupped, "doc_id", "text", num_hashes=32)
    pairs = dd.lsh_candidate_pairs(sigs, "doc_id", num_hashes=32, bands=8)
    verified = dd.jaccard_pairs(dupped, pairs, "doc_id", "text")
    return verified.filter(F.col("jaccard") >= 0.8).orderBy("id_a", "id_b")


# --------------------------------------------------------------------------
# q183 — SimHash fingerprints (L-dedup): the per-bit md5 vote family
# (simhash_bits_portable, 16 bits): per bit i a token votes ±1 by the
# top bit of md5(token || '|' || i); exact integer vote counting makes
# the fingerprint engine-replayable — the oracle recomputes it
# bit-for-bit in DuckDB (the single-digest fold is pinned in
# tests/test_dedup.py).
# --------------------------------------------------------------------------
@register(
    "q183_simhash",
    oracle="""
WITH toks AS (
  SELECT doc_id, u.t AS t
  FROM documents, UNNEST(string_split_regex(lower(trim(text)), '\\s+')) AS u(t)
),
counts AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id),
ones AS (
  SELECT doc_id, g.i AS i,
         COUNT(*) FILTER (WHERE substr(md5(t || '|' || g.i), 1, 1) >= '8') AS o
  FROM toks CROSS JOIN generate_series(0, 15) g(i)
  GROUP BY doc_id, g.i
)
SELECT o.doc_id,
       string_agg(CASE WHEN 2 * o.o > c.n THEN '1' ELSE '0' END,
                  '' ORDER BY o.i) AS simhash
FROM ones o JOIN counts c USING (doc_id)
GROUP BY o.doc_id
""",
)
def q183_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", dd.simhash_bits_portable("text", 16).alias("simhash")
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# q034 — brute-force cosine top-k (L-sim1, the oracle-checkable baseline):
# 5 probe vectors against the corpus, k=5. Broadcast probes, one scan.
# --------------------------------------------------------------------------
@register(
    "q034_cosine_topk",
    headline=True,
    oracle="""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
probes AS (SELECT vec_id AS probe_id, v AS pv FROM e WHERE vec_id < 5),
scored AS (
  SELECT p.probe_id, e.vec_id,
         ROUND(list_dot_product(e.v, p.pv) /
               sqrt(list_dot_product(e.v, e.v) * list_dot_product(p.pv, p.pv)),
               6) AS sim
  FROM e CROSS JOIN probes p
  WHERE e.vec_id <> p.probe_id
)
SELECT probe_id, vec_id, sim, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                               ORDER BY sim DESC, vec_id) AS rank
  FROM scored)
WHERE rank <= 5
""",
)
def q034_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding")
    )
    corpus = emb.select("vec_id", "embedding")
    out = sim.brute_force_topk(corpus, probes, k=6)  # k+1 then drop self
    w = W.partitionBy("probe_id").orderBy(F.col("sim").desc(), F.col("vec_id"))
    return (
        out.filter(F.col("vec_id") != F.col("probe_id"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("probe_id", "vec_id", "sim", "rank")
    )


# --------------------------------------------------------------------------
# q026 (birth q070) — all-pairs near-neighbor above threshold (L-sim): exact within the
# oracle; the LSH-bucketed variant (q035) is the 100 TB path.
# --------------------------------------------------------------------------
@register(
    "q026_cosine_pairs",
    oracle="""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_dot_product(a.v, b.v) /
             sqrt(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v)),
             6) AS sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v) /
      sqrt(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v)) >= 0.3
""",
)
def q026_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # size-guarded: stays exact (oracle semantics) below max_exact_rows,
    # auto-switches to the LSH-bucketed equi-join shape above it
    emb = load(spark, sf_dir, "embeddings")
    return sim.all_pairs_cosine(emb, threshold=0.3)


# --------------------------------------------------------------------------
# q209 (birth q035) — LSH-bucketed near-neighbor (the scale path): hyperplane buckets
# first, pairs only within buckets, by the Rademacher-md5 bucketer
# (hyperplane_lsh_bucket_portable, also all_pairs_cosine's guarded
# branch): ±1 signs from md5(f"{m},{d}"), projections in exact int64
# over floor(v·1e6 + 0.5) quantized components — the bucket key is
# bit-identical in DuckDB, so the oracle replays bucketing AND the
# within-bucket cosine filter.
# --------------------------------------------------------------------------
@register(
    "q209_lsh_bucketed_pairs",
    oracle="""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)) AS qv
  FROM embeddings
),
proj AS (
  SELECT vec_id, m.m AS m,
         SUM(qv[CAST(d.d AS INT) + 1] *
             CASE WHEN substr(md5(m.m || ',' || d.d), 1, 1) >= '8'
                  THEN 1 ELSE -1 END) AS p
  FROM e CROSS JOIN generate_series(0, 7) m(m)
         CROSS JOIN generate_series(0, 63) d(d)
  GROUP BY vec_id, m.m
),
bucketed AS (
  SELECT vec_id,
         string_agg(CASE WHEN p >= 0 THEN '1' ELSE '0' END, '' ORDER BY m)
           AS lsh_bucket
  FROM proj GROUP BY vec_id
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM bucketed a JOIN bucketed b
    ON a.lsh_bucket = b.lsh_bucket AND a.vec_id < b.vec_id
)
SELECT p.id_a, p.id_b,
       ROUND(list_dot_product(ea.v, eb.v) /
             sqrt(list_dot_product(ea.v, ea.v) * list_dot_product(eb.v, eb.v)),
             6) AS sim
FROM pairs p JOIN e ea ON ea.vec_id = p.id_a JOIN e eb ON eb.vec_id = p.id_b
WHERE list_dot_product(ea.v, eb.v) /
      sqrt(list_dot_product(ea.v, ea.v) * list_dot_product(eb.v, eb.v)) >= 0.3
""",
)
def q209_lsh_bucketed_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    bucketed = sim.hyperplane_lsh_bucket_portable(emb, "embedding", n_planes=8, dim=64)
    a = bucketed.select(
        F.col("vec_id").alias("id_a"),
        sim.as_double("embedding").alias("va"),
        "lsh_bucket",
    )
    b = bucketed.select(
        F.col("vec_id").alias("id_b"),
        sim.as_double("embedding").alias("vb"),
        "lsh_bucket",
    )
    cos = sim.cosine(F.col("va"), F.col("vb"))
    return (
        a.join(b, ["lsh_bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(cos >= 0.3)
        .select("id_a", "id_b", F.round(cos, 6).alias("sim"))
        .orderBy("id_a", "id_b")
    )


# --------------------------------------------------------------------------
# q037 — text analysis pack (L-txt1): token counts, quality features,
# language ID, fingerprint — all Catalyst expressions, map-only.
# --------------------------------------------------------------------------
@register(
    "q037_text_analysis",
    headline=True,
    oracle="""
WITH t AS (
  SELECT doc_id, lang, source, text,
         string_split_regex(trim(text), '\\s+') AS toks
  FROM documents
),
feat AS (
  SELECT doc_id, lang, source,
         len(toks) AS n_tokens,
         len(list_filter(toks, x -> lower(x) IN ('the','a','of','and','to','in','is','it'))) AS n_stop,
         len(list_filter(toks, x -> lower(x) IN ('the','a','of','and'))) AS s_en,
         len(list_filter(toks, x -> lower(x) IN ('el','la','de','y'))) AS s_es,
         len(list_filter(toks, x -> lower(x) IN ('der','die','das','und'))) AS s_de,
         len(list_filter(toks, x -> lower(x) IN ('le','la','et','les'))) AS s_fr,
         md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
  FROM t
)
SELECT doc_id, lang, source, n_tokens,
       ROUND(CAST(n_stop AS DOUBLE) / n_tokens, 6) AS stop_ratio,
       CASE WHEN greatest(s_de, s_en, s_es, s_fr) < 1 THEN 'und'
            WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
            WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
            WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
            ELSE 'fr' END AS lang_guess,
       fp
FROM feat
""",
)
def q037_text_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cubicerp_client_etl_spark.catalog import widen_scan

    # per-doc hashing/HOF work: widen the single-row-group fixture scan
    docs = widen_scan(load(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        "lang",
        "source",
        tx.token_count("text").alias("n_tokens"),
        F.round(tx.stopword_ratio("text"), 6).alias("stop_ratio"),
        tx.language_id("text").alias("lang_guess"),
        tx.fingerprint("text").alias("fp"),
    )


# --------------------------------------------------------------------------
# q071 — corpus quality stats rollup (L-txt1 aggregate form).
# --------------------------------------------------------------------------
@register(
    "q071_corpus_stats",
    oracle="""
WITH t AS (
  SELECT lang, source, n_chars,
         len(string_split_regex(trim(text), '\\s+')) AS n_tokens
  FROM documents
)
SELECT lang, source, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*) AS avg_tokens,
       MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
FROM t GROUP BY lang, source
""",
)
def q071_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    with_tok = docs.withColumn("n_tokens", tx.token_count("text"))
    return with_tok.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        (F.sum("n_tokens").cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


# --------------------------------------------------------------------------
# q149 (birth q040) — multimodal binary plumbing (L-mm1): payload + typed metadata,
# oracle checks the byte-level plumbing (octet length, head bytes in hex).
# --------------------------------------------------------------------------
@register(
    "q149_multimodal_meta",
    oracle="""
SELECT doc_id,
       'text/plain' AS media_type,
       octet_length(encode(text)) AS byte_len,
       hex(encode(substring(text, 1, 8))) AS head_hex
FROM documents
""",
)
def q149_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    with_payload = attach_binary_payload(docs, "text")
    return with_payload.select(
        "doc_id",
        F.col("meta.media_type").alias("media_type"),
        F.col("meta.byte_len").alias("byte_len"),
        F.hex(F.encode(F.substring("text", 1, 8), "UTF-8")).alias("head_hex"),
    )


# --------------------------------------------------------------------------
# q208 (birth q041) — multimodal feature extraction through mapInPandas (the Arrow
# batch path). The stubbed decoder is a deterministic byte-histogram
# (bucket = byte % 8, mass = count/len as plain IEEE division), so DuckDB
# can replay it exactly over the pure-ASCII fixture text (bytes == chars,
# verified across SFs like q197, birth q042). Features are projected to per-feature
# scalar columns — window queries return scalars only (driver
# canonicalizer can't sort array cells).
# --------------------------------------------------------------------------
@register(
    "q208_multimodal_features",
    oracle="""
WITH hist AS (
  SELECT d.doc_id,
         ascii(substr(d.text, CAST(t.i AS INT), 1)) % 8 AS bucket,
         COUNT(*) AS c
  FROM documents d, UNNEST(range(1, length(d.text) + 1)) AS t(i)
  GROUP BY 1, 2
)
SELECT d.doc_id,
       'text/plain' AS media_type,
       octet_length(encode(d.text)) AS byte_len,
       COALESCE(MAX(CASE WHEN bucket = 0 THEN c END), 0)
         / CAST(greatest(length(d.text), 1) AS DOUBLE) AS f0,
       COALESCE(MAX(CASE WHEN bucket = 1 THEN c END), 0)
         / CAST(greatest(length(d.text), 1) AS DOUBLE) AS f1,
       COALESCE(MAX(CASE WHEN bucket = 2 THEN c END), 0)
         / CAST(greatest(length(d.text), 1) AS DOUBLE) AS f2,
       COALESCE(MAX(CASE WHEN bucket = 3 THEN c END), 0)
         / CAST(greatest(length(d.text), 1) AS DOUBLE) AS f3,
       COALESCE(MAX(CASE WHEN bucket = 4 THEN c END), 0)
         / CAST(greatest(length(d.text), 1) AS DOUBLE) AS f4,
       COALESCE(MAX(CASE WHEN bucket = 5 THEN c END), 0)
         / CAST(greatest(length(d.text), 1) AS DOUBLE) AS f5,
       COALESCE(MAX(CASE WHEN bucket = 6 THEN c END), 0)
         / CAST(greatest(length(d.text), 1) AS DOUBLE) AS f6,
       COALESCE(MAX(CASE WHEN bucket = 7 THEN c END), 0)
         / CAST(greatest(length(d.text), 1) AS DOUBLE) AS f7
FROM documents d LEFT JOIN hist USING (doc_id)
GROUP BY d.doc_id, d.text
""",
)
def q208_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    with_payload = attach_binary_payload(docs, "text")
    feats = extract_features(with_payload, n_features=8, fake=True)
    return feats.select(
        "doc_id",
        "media_type",
        "byte_len",
        *[F.col("features")[i].alias(f"f{i}") for i in range(8)],
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# q079 — multimodal resize (L-mm1): payload → uniform width×height payload
# through mapInPandas. The fake resample is deterministic nearest-
# neighbor byte indexing (b[min(int(i*step), len-1)], step = len/64
# as ONE double then multiplied by i — IEEE-identical in DuckDB), and
# the fixture text is pure ASCII (byte i == char i+1, verified across
# SFs by q138), so since round 7 the oracle reconstructs every output
# payload byte-for-byte and replays its md5 — upgraded from rows-only.
# The empty-payload branch (b"\x00" -> 64 NUL bytes) is covered by a
# pinned constant md5 (no NUL literals in SQL).
# --------------------------------------------------------------------------
@register(
    "q079_multimodal_resize",
    oracle="""
WITH r AS (SELECT doc_id, text, length(text) AS n FROM documents),
px AS (
  SELECT r.doc_id, i.i,
         substr(r.text,
                CAST(least(floor(i.i * (CAST(r.n AS DOUBLE) / 64)),
                           r.n - 1) AS INT) + 1, 1) AS ch
  FROM r CROSS JOIN (SELECT unnest(range(0, 64)) AS i) i
  WHERE r.n > 0
),
blob AS (SELECT doc_id, string_agg(ch, '' ORDER BY i) AS s FROM px GROUP BY doc_id)
SELECT r.doc_id,
       CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
       CASE WHEN r.n = 0 THEN '3b5d3c7d207e37dceeedd301e35e2e58'
            ELSE md5(b.s) END AS payload_md5,
       CAST(64 AS INT) AS byte_len
FROM r LEFT JOIN blob b USING (doc_id)
ORDER BY r.doc_id
""",
)
def q079_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    with_payload = attach_binary_payload(docs, "text")
    resized = resize_media(with_payload, width=8, height=8, fake=True)
    return resized.select(
        "doc_id",
        "width",
        "height",
        F.md5("payload").alias("payload_md5"),
        F.octet_length("payload").alias("byte_len"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# q138 (birth q042) — frame sampling (L-mm1, UDTF shape): one document → one row per
# sampled 64-byte frame via mapInPandas; row growth happens map-side with
# no shuffle. The fixture text is pure ASCII (verified across SFs), so
# byte-slice frames equal char-slice frames and DuckDB can oracle the
# md5 of every sampled frame exactly.
# --------------------------------------------------------------------------
@register(
    "q138_frame_sample",
    oracle="""
SELECT doc_id, CAST(fi AS INT) AS frame_idx,
       md5(substr(text, CAST(fi AS INT)*64+1, 64)) AS frame_md5,
       length(substr(text, CAST(fi AS INT)*64+1, 64)) AS frame_len
FROM documents, UNNEST(range(0, greatest(length(text)//64, 1), 4)) AS t(fi)
""",
)
def q138_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    with_payload = attach_binary_payload(docs, "text")
    frames = sample_frames(with_payload, frame_bytes=64, every_n=4, fake=True)
    return frames.select(
        "doc_id",
        "frame_idx",
        F.md5("frame").alias("frame_md5"),
        F.octet_length("frame").alias("frame_len"),
    )


# --------------------------------------------------------------------------
# q184 — IVF-style ANN (L-sim1 scale path, oracle-checkable): vectors are
# assigned to the nearest of 8 fixed centroids (the first 8 vectors) and
# each probe searches ONLY its own cluster — the inverted-file pruning
# that replaces the full scan at scale. Centroids broadcast; one shuffle
# on cluster id.
# --------------------------------------------------------------------------
@register(
    "q184_ivf_topk",
    oracle="""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
scored_assign AS (
  SELECT e.vec_id, e.v, c.cid,
         ROW_NUMBER() OVER (
           PARTITION BY e.vec_id
           ORDER BY ROUND(list_dot_product(e.v, c.cv) /
                    sqrt(list_dot_product(e.v, e.v) * list_dot_product(c.cv, c.cv)), 6) DESC,
                    c.cid) AS crn
  FROM e CROSS JOIN c
),
assigned AS (SELECT vec_id, v, cid FROM scored_assign WHERE crn = 1),
probes AS (SELECT vec_id AS probe_id, v AS pv, cid FROM assigned WHERE vec_id IN (10, 20, 30)),
cand AS (
  SELECT p.probe_id, a.vec_id,
         ROUND(list_dot_product(a.v, p.pv) /
               sqrt(list_dot_product(a.v, a.v) * list_dot_product(p.pv, p.pv)), 6) AS sim
  FROM probes p JOIN assigned a ON a.cid = p.cid AND a.vec_id <> p.probe_id
)
SELECT probe_id, vec_id, sim, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id) AS rank
  FROM cand)
WHERE rank <= 5
""",
)
def q184_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", sim.as_double("embedding").alias("v")
    )
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    cos_c = F.round(sim.cosine(F.col("v"), F.col("cv")), 6)
    w_assign = W.partitionBy("vec_id").orderBy(F.col("__cs").desc(), F.col("cid"))
    assigned = (
        emb.crossJoin(F.broadcast(cents))
        .select("vec_id", "v", "cid", cos_c.alias("__cs"))
        .withColumn("crn", F.row_number().over(w_assign))
        .filter(F.col("crn") == 1)
        .select("vec_id", "v", "cid")
    )
    probes = assigned.filter(F.col("vec_id").isin(10, 20, 30)).select(
        F.col("vec_id").alias("probe_id"), F.col("v").alias("pv"), "cid"
    )
    cand = (
        assigned.join(F.broadcast(probes), "cid")
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "vec_id",
            F.round(sim.cosine(F.col("v"), F.col("pv")), 6).alias("sim"),
        )
    )
    w_rank = W.partitionBy("probe_id").orderBy(F.col("sim").desc(), F.col("vec_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= 5)
        .select("probe_id", "vec_id", "sim", "rank")
    )


# --------------------------------------------------------------------------
# q072 — quality scoring (L-txt1): the composite heuristic, mirrored
# arithmetic in the oracle (deterministic: exact-int ratios + IEEE ops).
# --------------------------------------------------------------------------
@register(
    "q072_quality_score",
    oracle="""
WITH t AS (
  SELECT doc_id, text, string_split_regex(trim(text), '\\s+') AS toks FROM documents
),
feat AS (
  SELECT doc_id,
         CAST(len(toks) AS DOUBLE) AS n_tok,
         CASE WHEN len(text) = 0 THEN 0.0
              ELSE CAST(len(text) - len(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE) / len(text)
         END AS punct_ratio,
         CASE WHEN len(toks) = 0 THEN 0.0
              ELSE CAST(len(list_filter(toks, x -> lower(x) IN
                   ('the','a','of','and','to','in','is','it'))) AS DOUBLE) / len(toks)
         END AS stop_ratio
  FROM t
)
SELECT doc_id,
       ROUND(least(n_tok / 50.0, 1.0) * 0.5
             + greatest(0.0, 1.0 - punct_ratio * 5.0) * 0.3
             + least(stop_ratio * 4.0, 1.0) * 0.2, 6) AS quality
FROM feat
""",
)
def q072_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.select("doc_id", tx.quality_score("text").alias("quality"))


# --------------------------------------------------------------------------
# q147 (birth q038) — BPE-ish sub-word token estimate (L-txt1): regex word-pieces with
# ceil(len/4) merge depth, identical arithmetic in the oracle.
# --------------------------------------------------------------------------
@register(
    "q147_bpe_token_count",
    oracle="""
SELECT doc_id,
       CAST(list_aggregate(
         list_transform(regexp_extract_all(text, '([A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s])', 1),
                        p -> CAST(ceil(len(p) / 4.0) AS BIGINT)),
         'sum') AS BIGINT) AS n_bpe_tokens
FROM documents
""",
)
def q147_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", tx.bpe_ish_token_count("text").alias("n_bpe_tokens")
    )


# --------------------------------------------------------------------------
# q166 (birth q039) — TF-IDF top terms per document (L-txt1): corpus-relative term
# weighting entirely in codegen expressions; df table broadcast back.
# Both engines rank by the 6dp-rounded score with term tie-break, so the
# top-k sets are identical.
# --------------------------------------------------------------------------
@register(
    "q166_tfidf_top_terms",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS term
  FROM documents
), tok2 AS (SELECT doc_id, term FROM tok WHERE term <> ''),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok2 GROUP BY 1, 2),
df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok2 GROUP BY 1),
n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         ROUND(tf.tf * ln(CAST(n.n AS DOUBLE) / df.df), 6) AS score
  FROM tf JOIN df USING (term) CROSS JOIN n
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rk
  FROM scored
)
SELECT doc_id, term, tf, df, score, rk FROM ranked WHERE rk <= 3
""",
)
def q166_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cubicerp_client_etl_spark.operators.text import tfidf_top_terms

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return tfidf_top_terms(docs, "text", "doc_id", k=3)


# --------------------------------------------------------------------------
# q297 (birth q047) — near-dup clustering via distributed connected components
# (L-dedup terminal step): pair-level near-dup edges (cosine ≥ 0.35,
# same predicate family as q075) become duplicate *clusters*; the kept
# representative is the min vec_id per component. Spark side is
# iterative min-label propagation (operators/graph.py — one
# edges⋈labels shuffle + min-agg per round, localCheckpoint'd); the
# oracle computes the same fixpoint with a recursive CTE. All output
# columns are integers/booleans — no float hashing concerns.
# Scale: at 100 TB the edge list comes from LSH/IVF candidate pairs
# (q032/q035/q036), not the all-pairs join used at oracle scale; the CC
# loop itself is shuffle-bounded by |edges| per round with diameter-
# bounded round count.
# --------------------------------------------------------------------------
_CLUSTER_T = 0.35


@register(
    "q297_neardup_components",
    oracle="""
WITH RECURSIVE
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
edges AS (
  SELECT a.vec_id AS src, b.vec_id AS dst
  FROM e a JOIN e b ON a.vec_id <> b.vec_id
  WHERE list_dot_product(a.v, b.v)
        / sqrt(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v)) >= 0.35
),
reach(node, label) AS (
  SELECT vec_id, vec_id FROM e
  UNION
  SELECT edges.dst, reach.label FROM reach JOIN edges ON edges.src = reach.node
),
comp AS (SELECT node, MIN(label) AS component FROM reach GROUP BY node),
sized AS (SELECT component AS c2, COUNT(*) AS cluster_size FROM comp GROUP BY component)
SELECT comp.node AS vec_id, comp.component, sized.cluster_size,
       comp.node = comp.component AS is_kept
FROM comp JOIN sized ON comp.component = sized.c2
""",
)
def q297_neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cubicerp_client_etl_spark.operators.graph import connected_components

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # numpy-accumulated exact pairs (same left-fold arithmetic as the
    # HOF theta join this replaced); symmetrized inside the operator
    edges = sim.exact_cosine_pairs(
        emb, "vec_id", "embedding", _CLUSTER_T
    ).select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    comp = connected_components(emb.select("vec_id"), edges, node_col="vec_id")
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        comp.join(F.broadcast(sizes), "component")
        .select(
            F.col("node").alias("vec_id"),
            "component",
            "cluster_size",
            (F.col("node") == F.col("component")).alias("is_kept"),
        )
    )


# --------------------------------------------------------------------------
# q090 — corpus curation composite (the end-to-end L-pipeline): quality
# gate (q072's score) → language gate (q037's marker heuristic, drop
# 'und') → exact near-dup collapse on normalized fingerprint keeping the
# min doc_id. This is the canonical pretraining-data filter expressed as
# one declarative plan: every stage is codegen'd JVM expressions, the
# only shuffle is the fingerprint window.
# Scale: quality/lang are per-row (no shuffle); the dedup window
# shuffles on fp once — at 100 TB the same plan holds (fp is
# high-cardinality, no skew: md5 is uniform).
# --------------------------------------------------------------------------
@register(
    "q090_corpus_curation",
    oracle="""
WITH t AS (
  SELECT doc_id, lang, text, string_split_regex(trim(text), '\\s+') AS toks
  FROM documents
),
feat AS (
  SELECT doc_id, lang, text,
         CAST(len(toks) AS DOUBLE) AS n_tok,
         CASE WHEN len(text) = 0 THEN 0.0
              ELSE CAST(len(text) - len(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE) / len(text)
         END AS punct_ratio,
         CASE WHEN len(toks) = 0 THEN 0.0
              ELSE CAST(len(list_filter(toks, x -> lower(x) IN
                   ('the','a','of','and','to','in','is','it'))) AS DOUBLE) / len(toks)
         END AS stop_ratio,
         len(list_filter(toks, x -> lower(x) IN ('the','a','of','and'))) AS s_en,
         len(list_filter(toks, x -> lower(x) IN ('el','la','de','y'))) AS s_es,
         len(list_filter(toks, x -> lower(x) IN ('der','die','das','und'))) AS s_de,
         len(list_filter(toks, x -> lower(x) IN ('le','la','et','les'))) AS s_fr,
         md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
  FROM t
),
scored AS (
  SELECT doc_id, lang, fp,
         least(n_tok / 50.0, 1.0) * 0.5
           + greatest(0.0, 1.0 - punct_ratio * 5.0) * 0.3
           + least(stop_ratio * 4.0, 1.0) * 0.2 AS quality,
         CASE WHEN greatest(s_de, s_en, s_es, s_fr) < 1 THEN 'und'
              WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
              WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
              WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
              ELSE 'fr' END AS lang_guess
  FROM feat
),
gated AS (
  SELECT * FROM scored WHERE quality >= 0.7 AND lang_guess <> 'und'
)
SELECT doc_id, lang, lang_guess, ROUND(quality, 6) AS quality,
       n_copies
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rk,
         COUNT(*) OVER (PARTITION BY fp) AS n_copies
  FROM gated
) WHERE rk = 1
""",
)
def q090_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "lang",
        tx.quality_score("text").alias("quality_raw"),
        tx.language_id("text").alias("lang_guess"),
        tx.fingerprint("text").alias("fp"),
    )
    gated = scored.filter(
        (F.col("quality_raw") >= 0.7) & (F.col("lang_guess") != "und")
    )
    w = W.partitionBy("fp")
    ranked = gated.select(
        "doc_id",
        "lang",
        "lang_guess",
        F.round("quality_raw", 6).alias("quality"),
        F.row_number().over(w.orderBy("doc_id")).alias("rk"),
        F.count(F.lit(1)).over(w).alias("n_copies"),
    )
    return ranked.filter(F.col("rk") == 1).drop("rk")
