"""Observability wave continued (q156): corpus drift between
snapshots. New-file home for post-q155 additions."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cubicerp_client_etl_spark.catalog import load
from cubicerp_client_etl_spark.queries import register


# --------------------------------------------------------------------------
# q156 — corpus drift report (operators/drift.py): the keyed-md5 split
# plays two crawl snapshots; the report names the top-20 tokens whose
# e6-scaled unigram probability moved most between them — the
# distribution-shift alarm a pipeline watches across snapshots.
# Integer arithmetic end-to-end (total-variation-style |Δp|, no
# log-divergences), so the oracle replays it exactly.
# --------------------------------------------------------------------------
@register(
    "q156_corpus_drift",
    oracle="""
WITH flat AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
tagged AS (
  SELECT token, md5(CAST(doc_id AS VARCHAR) || '|drift1') < '8' AS is_a
  FROM flat
),
ca AS (SELECT token, COUNT(*) AS c FROM tagged WHERE is_a GROUP BY token),
cb AS (SELECT token, COUNT(*) AS c FROM tagged WHERE NOT is_a GROUP BY token),
na AS (SELECT SUM(c) AS n FROM ca),
nb AS (SELECT SUM(c) AS n FROM cb),
joined AS (
  SELECT COALESCE(ca.token, cb.token) AS token,
         COALESCE(ca.c, 0) * 1000000 // na.n AS p_a_e6,
         COALESCE(cb.c, 0) * 1000000 // nb.n AS p_b_e6
  FROM ca FULL OUTER JOIN cb ON ca.token = cb.token
  CROSS JOIN na CROSS JOIN nb
)
SELECT token,
       CAST(p_a_e6 AS BIGINT) AS p_a_e6,
       CAST(p_b_e6 AS BIGINT) AS p_b_e6,
       CAST(abs(p_a_e6 - p_b_e6) AS BIGINT) AS delta_e6
FROM joined
ORDER BY delta_e6 DESC, token
LIMIT 20
""",
)
def q156_corpus_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cubicerp_client_etl_spark.operators.drift import unigram_drift

    docs = load(spark, sf_dir, "documents")
    flat = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    ).withColumn(
        "_is_a",
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|drift1")))
        < "8",
    )
    side_a = flat.where(F.col("_is_a")).select("token")
    side_b = flat.where(~F.col("_is_a")).select("token")
    return unigram_drift(side_a, side_b, top_k=20)


# --------------------------------------------------------------------------
# q024 (birth q157) — REAL multimodal decode path (operators/multimodal.py, VERDICT
# r5 #5): deterministic grayscale images are ENCODED as real 8-bit BMP
# bytes (pure-stdlib codec), then extract_features(fake=False) decodes
# the actual pixel data back out and buckets the luminance histogram —
# the full binary-payload → decode → feature pipeline with no fake
# step. Oracle: DuckDB replays the pixel-value arithmetic directly
# (the BMP round-trip is the identity on pixels, pinned by unit tests),
# so a codec bug surfaces as a value mismatch here. frac is a plain
# IEEE division of two ints — bit-identical across engines.
# --------------------------------------------------------------------------
@register(
    "q024_bmp_feature_histogram",
    oracle="""
WITH d AS (
  SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
  FROM documents WHERE doc_id % 50 = 0
),
px AS (
  SELECT doc_id, w * h AS total, unnest(range(0, w * h)) AS i FROM d
),
pv AS (
  SELECT doc_id, total,
         (((doc_id * 131 + i * 17) % 256) * 8) // 256 AS bucket
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
def q024_bmp_feature_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from cubicerp_client_etl_spark.operators.multimodal import (
        encode_bmp_gray,
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
                w, h = 4 + did % 5, 3 + did % 4
                pxs = bytes((did * 131 + i * 17) % 256 for i in range(w * h))
                payloads.append(encode_bmp_gray(w, h, pxs))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    media = docs.mapInPandas(gen, "doc_id bigint, payload binary").selectExpr(
        "doc_id",
        "payload",
        "named_struct('media_type', 'image/bmp', 'byte_len', "
        "CAST(length(payload) AS BIGINT), 'format', 'bmp', "
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
# q216 (birth q158) — Bloom-filtered decontamination (operators/sketches.py): the
# scale path for q158's exact pass when the eval-suite shingle table
# outgrows its broadcast budget. Benchmark shingles (doc_id % 97 = 0,
# 5-grams) build a Bloom positions table (m = 65536 cells, k = 3 md5
# hash rows — the portable family); corpus shingles probe it and a
# document reports how many of its DISTINCT shingles maybe-hit. No
# false negatives by construction (every exact q158 hit is counted
# here); false positives over-flag at the filter's FP rate — the safe
# direction for decontamination. The oracle replays every hash
# position bit-for-bit, so the flagged sets match EXACTLY, collisions
# included.
# --------------------------------------------------------------------------
_BLOOM_M, _BLOOM_K = 65536, 3

@register(
    "q045_bloom_decontaminate",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
sh AS (
  SELECT doc_id,
         unnest(CASE WHEN len(t) >= 5
                     THEN list_transform(generate_series(1, len(t) - 4),
                                         i -> array_to_string(list_slice(t, i, i + 4), ' '))
                     ELSE [] END) AS sh
  FROM toks
),
bsh AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 97 = 0),
bpos AS (
  SELECT DISTINCT
         CAST(concat('0x', substr(md5(sh || '|bloomd1|' || CAST(i AS VARCHAR)), 1, 8)) AS BIGINT)
           % {_BLOOM_M} AS pos
  FROM bsh, (SELECT unnest(range(0, {_BLOOM_K})) AS i)
),
csh AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 97 <> 0),
probe AS (
  SELECT sh, i,
         CAST(concat('0x', substr(md5(sh || '|bloomd1|' || CAST(i AS VARCHAR)), 1, 8)) AS BIGINT)
           % {_BLOOM_M} AS pos
  FROM csh, (SELECT unnest(range(0, {_BLOOM_K})) AS i)
),
hits AS (
  SELECT p.sh FROM probe p JOIN bpos b USING (pos)
  GROUP BY p.sh HAVING COUNT(DISTINCT p.i) = {_BLOOM_K}
)
SELECT s.doc_id, CAST(COUNT(DISTINCT s.sh) AS BIGINT) AS n_maybe_hits
FROM sh s JOIN hits USING (sh)
WHERE s.doc_id % 97 <> 0
GROUP BY s.doc_id
""",
)
def q045_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cubicerp_client_etl_spark.functions import ngrams, space_tokens
    from cubicerp_client_etl_spark.operators.sketches import (
        bloom_build,
        bloom_maybe_members,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    bench_sh = (
        docs.filter(F.col("doc_id") % 97 == 0)
        .select(F.explode(ngrams(space_tokens("text"), 5)).alias("sh"))
    )
    bloom = bloom_build(bench_sh, "sh", m=_BLOOM_M, k=_BLOOM_K, seed="d1")
    corp_sh = (
        docs.filter(F.col("doc_id") % 97 != 0)
        .select("doc_id", F.explode(ngrams(space_tokens("text"), 5)).alias("sh"))
    )
    flagged = bloom_maybe_members(
        corp_sh, "sh", bloom, m=_BLOOM_M, k=_BLOOM_K, seed="d1"
    )
    return (
        corp_sh.join(F.broadcast(flagged), "sh")
        .groupBy("doc_id")
        .agg(F.count_distinct("sh").alias("n_maybe_hits"))
    )


# --------------------------------------------------------------------------
# q159 — VALUE-CHECKED multimodal resize (upgrades q079's rows-only
# evidence): deterministic BMPs (pixel = f(doc_id, x, y)) go through
# resize_media(fake=False) — stdlib decode, real 2D nearest-neighbor
# resample, stdlib re-encode — and the OUTPUT payload is decoded back
# to pixels and hex-dumped. The oracle recomputes the resampled pixel
# grid arithmetically (sx = x*sw div tw, sy = y*sh div th), so both the
# codec round-trip and the resample indexing are value-verified
# cross-engine. Subset: doc_id % 101 = 0 keeps the binary stage small
# while the plumbing stays the real mapInPandas pipeline.
# --------------------------------------------------------------------------
_RZ_TW, _RZ_TH = 4, 3

@register(
    "q159_bmp_resize_verified",
    oracle=f"""
WITH d AS (
  SELECT doc_id, 6 + doc_id % 5 AS sw, 4 + doc_id % 3 AS sh
  FROM documents WHERE doc_id % 101 = 0
),
px AS (
  SELECT doc_id,
         array_to_string(
           list_transform(range(0, {_RZ_TW * _RZ_TH}), i ->
             printf('%02x',
               (doc_id * 131
                + (LEAST((i // {_RZ_TW}) * sh // {_RZ_TH}, sh - 1) * sw
                   + LEAST((i % {_RZ_TW}) * sw // {_RZ_TW}, sw - 1)) * 17
               ) % 256)),
           '') AS px_hex
  FROM d
)
SELECT doc_id,
       CAST({_RZ_TW} AS INTEGER) AS width,
       CAST({_RZ_TH} AS INTEGER) AS height,
       px_hex
FROM px
""",
)
def q159_bmp_resize_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from cubicerp_client_etl_spark.operators.multimodal import (
        decode_bmp_gray,
        encode_bmp_gray,
        resize_media,
    )

    docs = (
        load(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 101 == 0)
        .select("doc_id")
    )

    def gen(batches):
        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                did = int(did)
                sw, sh = 6 + did % 5, 4 + did % 3
                pxs = bytes((did * 131 + i * 17) % 256 for i in range(sw * sh))
                payloads.append(encode_bmp_gray(sw, sh, pxs))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    media = docs.mapInPandas(gen, "doc_id bigint, payload binary").selectExpr(
        "doc_id",
        "payload",
        "named_struct('media_type', 'image/bmp', 'byte_len', "
        "CAST(length(payload) AS BIGINT), 'format', 'bmp', "
        "'width', CAST(NULL AS INT), 'height', CAST(NULL AS INT)) AS meta",
    )
    resized = resize_media(media, _RZ_TW, _RZ_TH, fake=False)

    def dump(batches):
        for pdf in batches:
            hexes = []
            for payload in pdf["payload"]:
                w, h, pxs = decode_bmp_gray(bytes(payload))
                assert (w, h) == (_RZ_TW, _RZ_TH)
                hexes.append(pxs.hex())
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": pdf["width"],
                    "height": pdf["height"],
                    "px_hex": hexes,
                }
            )

    return resized.mapInPandas(
        dump, "doc_id bigint, width int, height int, px_hex string"
    )


# --------------------------------------------------------------------------
# q025 (birth q160) — BPE vocabulary induction (operators/bpe.py): learn 5 merges
# from the corpus word histogram. The corpus is scanned once; each
# round is Catalyst over the bounded vocab table plus a 1-row argmax
# pull (the q013-kmeans iterative pattern). Fully oracled: the padded
# symbol-string representation makes a merge round a plain string
# replace, which Spark and DuckDB execute identically, so the oracle
# unrolls all 5 rounds as CTEs and reproduces the merge table
# bit-for-bit (ties break (count DESC, left, right) in binary
# collation on both engines).
# --------------------------------------------------------------------------
_BPE_K = 5


def _bpe_ctes(k: int) -> str:
    """The shared k-round merge chain (q025 + q161): vocab v0..vk carry
    (w, sym, cnt); b0..b{k-1} are the per-round argmax merges."""
    ctes = [
        "wtok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents)",
        "h AS (SELECT w, COUNT(*) AS cnt FROM wtok WHERE len(w) > 0 GROUP BY w)",
        "v0 AS (SELECT w, ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS sym, "
        "cnt FROM h)",
    ]
    for r in range(k):
        ctes.append(
            f"""p{r} AS (
  SELECT s.a AS a, s.b AS b, SUM(cnt) AS c FROM (
    SELECT cnt, unnest(list_transform(generate_series(1, len(sl) - 1),
                       i -> struct_pack(a := sl[i], b := sl[i + 1]))) AS s
    FROM (SELECT cnt, string_split(trim(sym), ' ') AS sl FROM v{r})
    WHERE len(sl) >= 2
  ) GROUP BY s.a, s.b)"""
        )
        ctes.append(
            f"b{r} AS (SELECT a, b, c FROM p{r} ORDER BY c DESC, a, b LIMIT 1)"
        )
        ctes.append(
            f"v{r + 1} AS (SELECT w, replace(sym, ' ' || a || ' ' || b || ' ', "
            f"' ' || a || b || ' ') AS sym, cnt FROM v{r} CROSS JOIN b{r})"
        )
    return ",\n".join(ctes)


def _bpe_learn_oracle(k: int) -> str:
    sels = [
        f"SELECT CAST({r} AS INTEGER) AS rank, a AS left_sym, b AS right_sym, "
        f"a || b AS merged, CAST(c AS BIGINT) AS cnt FROM b{r}"
        for r in range(k)
    ]
    return "WITH " + _bpe_ctes(k) + "\n" + "\nUNION ALL\n".join(sels)


@register("q025_bpe_vocab_induction", oracle=_bpe_learn_oracle(_BPE_K))
def q025_bpe_vocab_induction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cubicerp_client_etl_spark.operators.bpe import bpe_learn

    docs = load(spark, sf_dir, "documents").select("text")
    merges = bpe_learn(docs, "text", num_merges=_BPE_K)
    return spark.createDataFrame(
        [
            (m["rank"], m["left_sym"], m["right_sym"], m["merged"], m["cnt"])
            for m in merges
        ],
        "rank int, left_sym string, right_sym string, merged string, cnt bigint",
    )


# --------------------------------------------------------------------------
# q220 (birth q161) — BPE corpus tokenization (the APPLY path): segment the learned
# vocab with q025's merges, then tokenize every document by a BROADCAST
# join of its words against the segmented-vocab table — each distinct
# word is segmented once, the corpus never runs per-row Python. Output:
# per-document BPE token count vs whitespace word count (the
# sequence-length table a packing/budget stage consumes). Oracle:
# the same unrolled merge chain, segmented lengths joined per document.
# --------------------------------------------------------------------------
@register(
    "q220_bpe_tokenize_corpus",
    oracle="WITH "
    + _bpe_ctes(_BPE_K)
    + f""",
seg AS (
  SELECT w, len(string_split(trim(sym), ' ')) AS n_sub FROM v{_BPE_K}
),
tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
)
SELECT t.doc_id,
       CAST(SUM(s.n_sub) AS BIGINT) AS n_bpe_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_words
FROM (SELECT doc_id, w FROM tok WHERE len(w) > 0) t
JOIN seg s USING (w)
GROUP BY t.doc_id
""",
)
def q220_bpe_tokenize_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cubicerp_client_etl_spark.operators.bpe import (
        bpe_learn,
        bpe_segment_vocab,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    merges = bpe_learn(docs.select("text"), "text", num_merges=_BPE_K)
    seg = bpe_segment_vocab(docs.select("text"), merges, "text").select(
        "w", F.size("tokens").alias("n_sub")
    )
    words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).where(F.length("w") > 0)
    return (
        words.join(F.broadcast(seg), "w")
        .groupBy("doc_id")
        .agg(
            F.sum("n_sub").cast("bigint").alias("n_bpe_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
        )
    )


# --------------------------------------------------------------------------
# q162 — ANN recall evaluation report (L-sim eval harness): recall@5 of
# IVF multi-probe vs the exact cosine top-5, per nprobe ∈ {1, 2, 4} —
# the accuracy/cost curve an index operator ships with (nprobe is the
# recall knob; at nprobe = #centroids IVF degenerates to exact). Both
# sides are deterministic (6-dp rounded sims, id tie-breaks), so the
# recall numbers are exact values, not estimates, and the oracle
# replays the whole report. Spark shape: exact side broadcasts probes
# over one corpus stream; IVF side is the q150 equi-join per nprobe;
# the report is a bounded join of two ≤(probes×5)-row frames.
# --------------------------------------------------------------------------
_RECALL_NPROBES = (1, 2, 4)


def _recall_oracle() -> str:
    base = """
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
probes AS (SELECT vec_id AS probe_id, v AS pv FROM e WHERE vec_id IN (10, 20, 30)),
ex AS (
  SELECT probe_id, vec_id FROM (
    SELECT p.probe_id, e.vec_id,
           ROW_NUMBER() OVER (
             PARTITION BY p.probe_id
             ORDER BY ROUND(list_dot_product(e.v, p.pv) /
                      sqrt(list_dot_product(e.v, e.v) * list_dot_product(p.pv, p.pv)), 6) DESC,
                      e.vec_id) AS rank
    FROM e CROSS JOIN probes p WHERE e.vec_id <> p.probe_id)
  WHERE rank <= 5)"""
    parts, sels = [], []
    for np_ in _RECALL_NPROBES:
        parts.append(f""",
pc{np_} AS (
  SELECT vec_id AS probe_id, v AS pv, cid FROM scored_assign
  WHERE vec_id IN (10, 20, 30) AND crn <= {np_}
),
cand{np_} AS (
  SELECT p.probe_id, a.vec_id,
         ROUND(list_dot_product(a.v, p.pv) /
               sqrt(list_dot_product(a.v, a.v) * list_dot_product(p.pv, p.pv)), 6) AS sim
  FROM pc{np_} p JOIN assigned a ON a.cid = p.cid AND a.vec_id <> p.probe_id
),
ivf{np_} AS (
  SELECT probe_id, vec_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id) AS rank
    FROM cand{np_})
  WHERE rank <= 5
),
h{np_} AS (
  SELECT i.probe_id, COUNT(*) AS n FROM ivf{np_} i
  JOIN ex USING (probe_id, vec_id) GROUP BY i.probe_id
)""")
        sels.append(
            f"SELECT p.probe_id, CAST({np_} AS INTEGER) AS nprobe, "
            f"CAST(COALESCE(h.n, 0) AS BIGINT) AS n_hits, "
            f"COALESCE(h.n, 0) / 5.0 AS recall "
            f"FROM probes p LEFT JOIN h{np_} h USING (probe_id)"
        )
    return base + "".join(parts) + "\n" + "\nUNION ALL\n".join(sels)


@register("q162_ann_recall_report", oracle=_recall_oracle())
def q162_ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from cubicerp_client_etl_spark.operators import similarity as sim

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    embd = emb.select("vec_id", sim.as_double("embedding").alias("v"))
    cents = embd.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    probes_d = embd.filter(F.col("vec_id").isin(10, 20, 30)).select(
        F.col("vec_id").alias("probe_id"), F.col("v").alias("pv")
    )
    probes_raw = emb.filter(F.col("vec_id").isin(10, 20, 30)).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )

    w = W.partitionBy("probe_id").orderBy(F.col("sim").desc(), F.col("vec_id"))
    exact = (
        sim.brute_force_topk(emb, probes_raw, k=6)
        .filter(F.col("vec_id") != F.col("probe_id"))
        .withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= 5)
        .select("probe_id", "vec_id")
    )
    ivf_parts = [
        sim.ivf_topk(embd, cents, probes_d, k=5, nprobe=np_)
        .select("probe_id", "vec_id")
        .withColumn("nprobe", F.lit(np_).cast("int"))
        for np_ in _RECALL_NPROBES
    ]
    ivf_all = ivf_parts[0]
    for p in ivf_parts[1:]:
        ivf_all = ivf_all.unionByName(p)
    hits = (
        ivf_all.join(exact, ["probe_id", "vec_id"])
        .groupBy("probe_id", "nprobe")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    spine = probes_d.select("probe_id").crossJoin(
        F.broadcast(
            spark.createDataFrame(
                [(n,) for n in _RECALL_NPROBES], "nprobe int"
            )
        )
    )
    return spine.join(hits, ["probe_id", "nprobe"], "left").select(
        "probe_id",
        "nprobe",
        F.coalesce(F.col("_n"), F.lit(0)).cast("bigint").alias("n_hits"),
        (F.coalesce(F.col("_n"), F.lit(0)) / F.lit(5.0)).alias("recall"),
    )


# --------------------------------------------------------------------------
# q163 — corpus datacard (observability capstone): the per-source
# "datasheet" table a training-data release ships with — document and
# token counts, corpus share, exact-dup fraction, dominant language
# (deterministic tie-break), mean document length. All exact integer
# arithmetic (e6 shares via bigint div — counts here are far below the
# e6 ceiling, and the oracle replays the same div), one pass over the
# corpus plus a broadcast of the 1-row totals.
# --------------------------------------------------------------------------
@register(
    "q163_corpus_datacard",
    oracle="""
WITH base AS (
  SELECT source, lang, doc_id, n_chars,
         len(string_split(text, ' ')) AS n_toks,
         md5(text) AS h
  FROM documents
),
per_source AS (
  SELECT source,
         COUNT(*) AS n_docs,
         SUM(n_toks) AS n_tokens,
         SUM(n_chars) AS n_chars,
         COUNT(DISTINCT h) AS n_distinct
  FROM base GROUP BY source
),
tot AS (SELECT SUM(n_tokens) AS t FROM per_source),
langs AS (
  SELECT source, lang FROM (
    SELECT source, lang, ROW_NUMBER() OVER (
      PARTITION BY source ORDER BY COUNT(*) DESC, lang) AS rn
    FROM base GROUP BY source, lang)
  WHERE rn = 1
)
SELECT p.source,
       CAST(p.n_docs AS BIGINT) AS n_docs,
       CAST(p.n_tokens AS BIGINT) AS n_tokens,
       CAST(1000000 * p.n_tokens // tot.t AS BIGINT) AS token_share_e6,
       CAST(1000000 * (p.n_docs - p.n_distinct) // p.n_docs AS BIGINT) AS dup_frac_e6,
       l.lang AS top_lang,
       CAST(p.n_chars // p.n_docs AS BIGINT) AS mean_chars
FROM per_source p JOIN langs l USING (source) CROSS JOIN tot
""",
)
def q163_corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load(spark, sf_dir, "documents")
    base = docs.select(
        "source",
        "lang",
        "n_chars",
        F.size(F.split("text", " ")).alias("n_toks"),
        F.md5("text").alias("h"),
    )
    per_source = base.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").alias("n_tokens"),
        F.sum("n_chars").alias("n_chars_sum"),
        F.count_distinct("h").alias("n_distinct"),
    )
    tot = per_source.agg(F.sum("n_tokens").alias("t"))
    # dominant language: aggregate first (bounded source×lang table),
    # then a window over it — never over raw rows
    lang_counts = base.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("c")
    )
    wl = W.partitionBy("source").orderBy(F.col("c").desc(), "lang")
    top_lang = (
        lang_counts.withColumn("_rn", F.row_number().over(wl))
        .filter(F.col("_rn") == 1)
        .select("source", F.col("lang").alias("top_lang"))
    )
    return (
        per_source.join(F.broadcast(top_lang), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.expr("1000000 * n_tokens div t").cast("bigint").alias(
                "token_share_e6"
            ),
            F.expr("1000000 * (n_docs - n_distinct) div n_docs")
            .cast("bigint")
            .alias("dup_frac_e6"),
            "top_lang",
            F.expr("n_chars_sum div n_docs").cast("bigint").alias("mean_chars"),
        )
    )


# --------------------------------------------------------------------------
# q164 — deterministic negative sampling (contrastive-training data
# prep): each anchor document draws k pseudo-random negatives via hash
# buckets — anchor i's target bucket is md5-derived, the negative is
# the bucket member minimizing a (anchor, candidate) pairing hash.
# Fully deterministic (retry/cluster/engine-independent), and the join
# fan-out is bounded by bucket size (~n/B) at ANY corpus size — never
# probes × corpus. Self-pairs are excluded; a probe whose bucket holds
# only itself yields no row for that draw (deterministic on both
# engines). All portable md5 arithmetic — the oracle replays every
# bucket and every argmin.
# --------------------------------------------------------------------------
_NEG_B, _NEG_K = 256, 3

@register(
    "q164_negative_sampling",
    oracle=f"""
WITH members AS (
  SELECT CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || '|ring1'), 1, 8)) AS BIGINT)
           % {_NEG_B} AS bucket,
         doc_id
  FROM documents
),
anchors AS (
  SELECT doc_id AS anchor_id, i,
         CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || '|neg' || CAST(i AS VARCHAR)), 1, 8)) AS BIGINT)
           % {_NEG_B} AS tb
  FROM documents, (SELECT unnest(range(0, {_NEG_K})) AS i)
  WHERE doc_id % 211 = 0
),
cand AS (
  SELECT a.anchor_id, a.i, m.doc_id AS neg_id,
         md5(CAST(a.anchor_id AS VARCHAR) || '|pick|' || CAST(m.doc_id AS VARCHAR)) AS ph
  FROM anchors a JOIN members m ON m.bucket = a.tb
  WHERE m.doc_id <> a.anchor_id
)
SELECT anchor_id, CAST(i AS INTEGER) AS i, neg_id FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY anchor_id, i ORDER BY ph, neg_id) AS rn
  FROM cand)
WHERE rn = 1
""",
)
def q164_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from cubicerp_client_etl_spark.functions import md5_hash32

    docs = load(spark, sf_dir, "documents").select("doc_id")
    members = docs.select(
        (md5_hash32(F.concat(F.col("doc_id").cast("string"), F.lit("|ring1")))
         % _NEG_B).alias("bucket"),
        "doc_id",
    )
    draws = spark.createDataFrame([(i,) for i in range(_NEG_K)], "i int")
    anchors = (
        docs.where(F.col("doc_id") % 211 == 0)
        .crossJoin(F.broadcast(draws))
        .select(
            F.col("doc_id").alias("anchor_id"),
            "i",
            (md5_hash32(
                F.concat(
                    F.col("doc_id").cast("string"),
                    F.lit("|neg"),
                    F.col("i").cast("string"),
                )
            ) % _NEG_B).alias("tb"),
        )
    )
    cand = (
        anchors.join(members, anchors["tb"] == members["bucket"])
        .where(F.col("doc_id") != F.col("anchor_id"))
        .select(
            "anchor_id",
            "i",
            F.col("doc_id").alias("neg_id"),
            F.md5(
                F.concat(
                    F.col("anchor_id").cast("string"),
                    F.lit("|pick|"),
                    F.col("doc_id").cast("string"),
                )
            ).alias("ph"),
        )
    )
    w = W.partitionBy("anchor_id", "i").orderBy("ph", "neg_id")
    return (
        cand.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("anchor_id", "i", "neg_id")
    )
