"""Corpus-curation operators for LLM training-data pipelines:
repetition filtering, benchmark decontamination, sliding-window
chunking, and corpus-frequency scoring.

These go beyond the reference's surface (the reference moves ERP rows,
cubicerpetl/cubicerpetl.py:243-394, and has no text curation): they are
the document-hygiene stages a 100 TB pretraining pipeline runs between
ingest and tokenization — the Gopher/C4-style repetition rules, the
eval-set n-gram decontamination pass, and chunking for context-window
packing / RAG indexes.

Tokens and n-grams come from the shared primitives in ``functions``
(``space_tokens``, ``ngrams``: a document shorter than ``n`` has no
n-grams); the two scorers that treat such a document as one shingle
(``boilerplate_shingle_report``, ``ngram_novelty``) use
``dedup.shingle_rows`` / ``dedup.shingles`` instead.

Scale posture (the design constraint for every function here):

* Everything per-document is a pure Catalyst expression over the
  tokenized array — higher-order functions (``transform`` /
  ``aggregate`` / ``filter``) run inside whole-stage codegen, map-only,
  zero shuffle, zero Python.
* ``decontaminate`` is the only two-sided op: the benchmark shingle set
  is DISTINCT-ed and broadcast (eval suites are tiny next to a corpus),
  so the corpus side streams through a broadcast hash join — the single
  shuffle is the final per-doc aggregation.
* ``unigram_freq_score`` needs the global token histogram; the
  vocabulary join is left to AQE (broadcast when the vocab fits,
  shuffle-hash otherwise — Zipf vocabularies are small relative to the
  corpus, so broadcast is the common case).
* All derived ratios are emitted as exact integers (``1e6``-scaled via
  integer ``div``), never floating division — bit-identical across
  engines, partitionings, and retries.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from cubicerp_client_etl_spark.functions import e6_floor_ratio, ngrams, space_tokens
from cubicerp_client_etl_spark.operators.dedup import shingle_rows, shingles


def repetition_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Gopher-style repetition metrics per document (Rae et al. 2021,
    table A1 — the public repetition-filter family), exact-integer form.

    Output columns (all deterministic integers):

    * ``n_tokens`` / ``n_distinct`` — total and distinct token counts
    * ``top_token_count`` — occurrences of the most frequent token
      (computed as the longest run in the sorted token array — a single
      ``array_sort`` + ``aggregate`` fold, no per-doc group-by)
    * ``sum_sq_counts`` — Σc² over per-token counts (same fold)
    * ``n_bigrams`` / ``n_distinct_bigrams``
    * ``simpson_div_e6``      = 1e6 * (n² - Σc²) div n² (Gini–Simpson
      diversity; near 0 ⇒ dominated by few tokens — a spam signal)
    * ``dup_token_frac_e6``   = 1e6 * (n - n_distinct) div n
    * ``top_token_frac_e6``   = 1e6 * top_token_count div n
    * ``dup_bigram_frac_e6``  = 1e6 * (nb - nb_distinct) div nb (0 if nb=0)

    Map-only: one Catalyst projection, no shuffle, no Python. At 100 TB
    this is a streaming pass over the scan with whole-stage codegen.
    """
    toks = space_tokens(text_col)
    srt = F.array_sort(toks)
    zero = F.lit(0).cast("bigint")
    run_acc = F.struct(
        F.lit("").alias("prev"),
        zero.alias("run"),
        zero.alias("best"),
        zero.alias("sumsq"),
    )

    # one fold over the sorted tokens yields BOTH the longest run (=
    # the top token's count) and the sum of squared run lengths (= the
    # Simpson concentration numerator Σc²): on a token change the
    # finished run's square is banked, the final run is banked by the
    # finish lambda
    def _step(acc: Column, x: Column) -> Column:
        same = x == acc["prev"]
        run = F.when(same, acc["run"] + 1).otherwise(F.lit(1).cast("bigint"))
        sumsq = F.when(same, acc["sumsq"]).otherwise(
            acc["sumsq"] + acc["run"] * acc["run"]
        )
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
            sumsq.alias("sumsq"),
        )

    folded = F.aggregate(
        srt,
        run_acc,
        _step,
        lambda acc: F.struct(
            acc["best"].alias("best"),
            (acc["sumsq"] + acc["run"] * acc["run"]).alias("sumsq"),
        ),
    )
    top = folded["best"]
    sumsq = folded["sumsq"]
    bg = ngrams(toks, 2)

    base = docs.select(
        F.col(id_col),
        *[F.col(c) for c in keep],
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_distinct"),
        top.alias("top_token_count"),
        sumsq.alias("sum_sq_counts"),
        F.size(bg).cast("bigint").alias("n_bigrams"),
        F.size(F.array_distinct(bg)).cast("bigint").alias("n_distinct_bigrams"),
    )
    return base.select(
        "*",
        # Gini–Simpson diversity 1 - Σc²/n², exact-integer e6 scaling:
        # low values = the doc is dominated by few tokens (spam signal)
        F.expr(
            "1000000 * (n_tokens * n_tokens - sum_sq_counts) "
            "div (n_tokens * n_tokens)"
        ).alias("simpson_div_e6"),
        F.expr("1000000 * (n_tokens - n_distinct) div n_tokens").alias(
            "dup_token_frac_e6"
        ),
        F.expr("1000000 * top_token_count div n_tokens").alias("top_token_frac_e6"),
        F.expr(
            "CASE WHEN n_bigrams = 0 THEN CAST(0 AS BIGINT) "
            "ELSE 1000000 * (n_bigrams - n_distinct_bigrams) div n_bigrams END"
        ).alias("dup_bigram_frac_e6"),
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
) -> DataFrame:
    """Flag corpus documents sharing any token ``n``-gram with a
    benchmark (eval) set — the standard pretraining decontamination
    pass (GPT-3 appx. C / PaLM-style 5-gram overlap).

    Returns one row per contaminated corpus document:
    ``(id_col, n_hits)`` where ``n_hits`` is the count of DISTINCT
    benchmark shingles the document contains.

    Scale: the benchmark shingle set is DISTINCT-ed and **broadcast**
    (eval suites are MBs against a 100 TB corpus); the corpus side is a
    map-side explode feeding a broadcast hash join, so the only shuffle
    is the final ``groupBy(id)`` — and that is pre-shrunk to matching
    shingles only.
    """
    bench_sh = (
        benchmark.select(F.explode(ngrams(space_tokens(text_col), n)).alias("sh"))
        .distinct()
    )
    corp_sh = corpus.select(
        F.col(id_col), F.explode(ngrams(space_tokens(text_col), n)).alias("sh")
    )
    return (
        corp_sh.join(F.broadcast(bench_sh), "sh")
        .groupBy(id_col)
        .agg(F.count_distinct("sh").alias("n_hits"))
    )


def chunk_documents(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_size: int = 32,
    stride: int = 24,
) -> DataFrame:
    """Sliding-window token chunking: fixed-size windows every
    ``stride`` tokens (overlap = ``chunk_size - stride``), last window
    ragged — the shape context-window packing and RAG indexers consume.

    Chunk count is ``1`` when ``n <= chunk_size`` else
    ``1 + ceil((n - chunk_size) / stride)``, so every token is covered
    and no window starts past the end. Output:
    ``(id_col, chunk_idx, chunk_tokens, chunk_md5)`` — the md5 of the
    re-joined chunk text keeps downstream comparison cheap.

    Map-only flatMap (explode of a computed index range) — no shuffle;
    output order within a document is the deterministic ``chunk_idx``.
    """
    if chunk_size < 1 or stride < 1:
        raise ValueError("chunk_size and stride must be >= 1")
    toks = space_tokens(text_col)
    n = F.size(toks).cast("bigint")
    # exact integer ceil-div on the SAME `n` expression as the slice
    # below (no re-derived SQL-string token count — a splice of the raw
    # column name breaks on names needing backticks and can drift from
    # the Column-API tokenization). floor-div of non-negative ints:
    # ceil((n - chunk_size) / stride) == (n - chunk_size + stride - 1) div stride
    n_chunks = F.when(n <= F.lit(chunk_size), F.lit(1).cast("bigint")).otherwise(
        F.lit(1).cast("bigint")
        + F.floor((n - F.lit(chunk_size) + F.lit(stride - 1)) / F.lit(stride)).cast(
            "bigint"
        )
    )
    exploded = docs.select(
        F.col(id_col),
        toks.alias("_toks"),
        F.explode(F.sequence(F.lit(0).cast("bigint"), n_chunks - 1)).alias(
            "chunk_idx"
        ),
    )
    chunk = F.slice(
        F.col("_toks"), (F.col("chunk_idx") * stride + 1).cast("int"), chunk_size
    )
    return exploded.select(
        id_col,
        "chunk_idx",
        F.size(chunk).cast("bigint").alias("chunk_tokens"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_md5"),
    )


def unigram_freq_score(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus-frequency document scoring: each token occurrence
    contributes the GLOBAL corpus count of that token; rare-token
    documents (low ``min_freq`` / ``avg_freq_e0``) are outliers worth
    routing to quality review, high-frequency documents are boilerplate
    candidates. The exact-integer stand-in for unigram-LM perplexity
    (log-space scoring is not bit-portable across engines; the integer
    frequency field orders documents the same way).

    Two aggregations: (1) global token histogram (shuffle on token,
    partial-agg map-side), (2) per-doc rollup (shuffle on id). The
    vocab-side join is AQE's choice — Zipf vocabularies are small next
    to the corpus, so it resolves to broadcast in practice.
    """
    tok = docs.select(F.col(id_col), F.explode(space_tokens(text_col)).alias("tok"))
    hist = tok.groupBy("tok").agg(F.count("*").cast("bigint").alias("freq"))
    scored = (
        tok.join(hist, "tok")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum("freq").cast("bigint").alias("sum_freq"),
            F.min("freq").cast("bigint").alias("min_freq"),
        )
    )
    return scored.select(
        "*", F.expr("sum_freq div n_tokens").alias("avg_freq_e0")
    )


def compression_ratio(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document zlib compression ratio — the classic boilerplate /
    repetition signal (highly compressible text is template or spam;
    near-incompressible text is often binary junk or high-entropy
    noise). Complements ``repetition_stats``: n-gram fractions see
    short-range repeats, the compressor sees long-range structure.

    Output: ``(id_col, raw_len, zlib_len, ratio_e6)`` with
    ``ratio_e6 = 1e6 * zlib_len // raw_len`` (0 for empty text).
    Deterministic: zlib level is pinned, so byte counts are stable
    across runs/partitionings (rows-only oracle — SQL engines have no
    zlib; the unit test pins exact values).

    Scale: Arrow-batched ``mapInPandas`` (never per-row Python); pure
    map — no shuffle, no state; CPU-bound at ~100 MB/s/core, which at
    100 TB is embarrassingly parallel compressor work.
    """
    # the id column passes through untouched, so its output type is
    # whatever the input has (string ids, ints of any width) — not a
    # hardcoded long
    id_type = docs.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {id_type}, raw_len long, zlib_len long, ratio_e6 long"

    def batches(it):
        import zlib

        for pdf in it:
            raw = pdf[text_col].fillna("").str.encode("utf-8")
            raw_len = raw.str.len().astype("int64")
            zlib_len = raw.map(lambda b: len(zlib.compress(b, 6))).astype("int64")
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "raw_len": raw_len,
                    "zlib_len": zlib_len,
                    "ratio_e6": (1_000_000 * zlib_len // raw_len.clip(lower=1))
                    * (raw_len > 0).astype("int64"),
                }
            )

    import pandas as pd  # noqa: F811 — imported for closure scope clarity

    return docs.select(id_col, text_col).mapInPandas(batches, schema=out_schema)


def bigram_fluency_score(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Bigram-LM fluency scoring: each bigram occurrence contributes
    the exact-integer conditional probability
    ``P(w2|w1) ≈ (count(w1 w2) · 1e6) div count(w1 as head)`` from the
    corpus itself; documents whose transitions are globally common
    score high (fluent/boilerplate), rare-transition documents score
    low (noise, code, other-language). The bigram upgrade of
    ``unigram_freq_score`` and the integer stand-in for bigram-LM
    perplexity — log-space scoring is not bit-portable across engines,
    but these ratios order documents the same way and replay exactly.

    Documents need >= 2 tokens to appear. Three shuffles, all keyed and
    partial-agg'd: bigram histogram, head histogram, per-doc rollup;
    the histogram joins resolve to broadcast under Zipf vocabularies.
    """
    base = docs.select(F.col(id_col), space_tokens(text_col).alias("_tk")).where(
        F.size("_tk") >= 2
    )
    bg = base.select(
        id_col,
        F.explode(
            F.expr(
                "transform(sequence(0, size(_tk) - 2),"
                " i -> struct(_tk[i] AS w1, _tk[i + 1] AS w2))"
            )
        ).alias("_b"),
    ).select(id_col, F.col("_b.w1").alias("w1"), F.col("_b.w2").alias("w2"))
    heads = bg.groupBy("w1").agg(F.count("*").cast("bigint").alias("_ch"))
    pairs = bg.groupBy("w1", "w2").agg(F.count("*").cast("bigint").alias("_cb"))
    scored = (
        bg.join(pairs, ["w1", "w2"])
        .join(heads, "w1")
        # exact decimal-floor ratio — corpus bigram counts can pass the
        # ANSI bigint*1e6 ceiling (functions.e6_floor_ratio, ADVICE r5)
        .select(id_col, e6_floor_ratio(F.col("_cb"), F.col("_ch")).alias("_p_e6"))
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.sum("_p_e6").cast("bigint").alias("sum_p_e6"),
            F.min("_p_e6").cast("bigint").alias("min_p_e6"),
        )
        .select("*", F.expr("sum_p_e6 div n_bigrams").alias("avg_p_e6"))
    )


def vocab_growth(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 8,
) -> DataFrame:
    """Vocabulary-growth datasheet (Heaps' law / Good–Turing audit):
    split the corpus into ``n_buckets`` ingestion slices by ``id_col``
    order and report, per slice, the exact cumulative token count,
    cumulative vocabulary size, newly-seen word count, and cumulative
    SINGLETON count (words seen exactly once so far — Good–Turing's
    N₁, whose ratio to tokens estimates unseen-mass; all returned as
    exact integers so the consumer fits Heaps' V≈K·nᵝ or computes
    N₁/N without any float leaving the engine).

    A corpus whose vocab_cum keeps growing near-linearly is unsegmented
    or noisy (OCR junk, binary spill); a collapsing n1_cum flags a
    saturating (heavily duplicated) crawl — the two datasheet reads
    this exists for.

    Scale: one token explode + two keyed aggregations (map-side
    combinable); the per-(word, slice) cumulative runs in a window
    partitioned by the WORD (high cardinality); every bucket-level
    window is over the O(n_buckets) aggregate — prover-bounded.
    """
    if n_buckets < 1:
        raise ValueError("n_buckets must be >= 1")
    nb = int(n_buckets)
    hi = docs.agg((F.max(F.col(id_col)) + 1).alias("_hi"))
    toks = (
        docs.join(F.broadcast(hi))
        .select(
            F.least(
                F.lit(nb - 1),
                F.expr(f"({id_col} * {nb}) div _hi"),
            )
            .cast("int")
            .alias("b"),
            F.explode(F.split(F.col(text_col), " ")).alias("w"),
        )
        .where(F.length("w") > 0)
    )
    wc = toks.groupBy("w", "b").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    # dense (word × bucket) grid via per-word explode — no cross join
    grid = (
        wc.groupBy("w")
        .agg(F.min("b").alias("_fb"))
        .select("w", "_fb", F.explode(F.sequence(F.lit(0), F.lit(nb - 1))).alias("b"))
        .join(wc, ["w", "b"], "left")
        .withColumn("c", F.coalesce("c", F.lit(0)))
    )
    w_word = Window.partitionBy("w").orderBy("b").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = grid.withColumn("cc", F.sum("c").over(w_word))
    per_b = (
        cum.groupBy("b")
        .agg(
            F.sum("c").cast("bigint").alias("tokens"),
            F.sum(F.when(F.col("_fb") == F.col("b"), 1).otherwise(0))
            .cast("bigint")
            .alias("vocab_new"),
            F.sum(F.when(F.col("cc") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n1_cum"),
        )
    )
    w_b = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per_b.withColumn("tokens_cum", F.sum("tokens").over(w_b).cast("bigint"))
        .withColumn("vocab_cum", F.sum("vocab_new").over(w_b).cast("bigint"))
        .select(
            F.col("b").alias("bucket"),
            "tokens",
            "tokens_cum",
            "vocab_new",
            "vocab_cum",
            "n1_cum",
        )
    )


def boilerplate_shingle_report(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    source_col: str,
    shingle_n: int = 3,
    df_ratio_e6: int = 500_000,
) -> DataFrame:
    """Cross-document boilerplate detector: a shingle that appears in
    at least ``df_ratio_e6``/1e6 of a SOURCE's documents is boilerplate
    (site templates, navigation chrome, licence footers — the text a
    scraped corpus repeats per origin and a training set must not
    memorize). Per document, the share of its shingles that are
    boilerplate — the strip/keep signal downstream filters consume.

    The threshold test is the EXACT integer cross-multiplication
    ``df · 1e6 ≥ ratio · n_docs`` — no division, no float, no floor
    asymmetry to replay. Returns one row per document:
    ``(id_col, source_col, n_shingles, n_boiler, boiler_ratio_e6)``.

    Scale: shingle explode (distinct per doc — the MinHash input
    shape), one (source, shingle) doc-frequency aggregation, a
    broadcast of the bounded per-source doc counts, and one join back
    on (source, shingle) — candidate volume is the shingle table, the
    same mass every dedup pass already touches. No windows, no
    all-pairs.
    """
    if not 0 < df_ratio_e6 <= 1_000_000:
        raise ValueError("df_ratio_e6 must be in (0, 1e6]")
    sh = shingle_rows(
        docs.select(id_col, text_col), id_col, text_col, n=shingle_n
    ).join(docs.select(id_col, source_col), id_col)
    n_docs = docs.groupBy(source_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("_nd")
    )
    freq = sh.groupBy(source_col, "sh").agg(
        F.count(F.lit(1)).cast("bigint").alias("_df")
    )
    marked = freq.join(F.broadcast(n_docs), source_col).withColumn(
        "_boiler",
        F.col("_df") * 1_000_000 >= F.lit(int(df_ratio_e6)) * F.col("_nd"),
    )
    j = sh.join(marked.select(source_col, "sh", "_boiler"), [source_col, "sh"])
    return j.groupBy(id_col, source_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
        F.sum(F.when(F.col("_boiler"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_boiler"),
        e6_floor_ratio(
            F.sum(F.when(F.col("_boiler"), 1).otherwise(0)),
            F.count(F.lit(1)),
        )
        .cast("bigint")
        .alias("boiler_ratio_e6"),
    )


def ngram_novelty(
    docs: DataFrame,
    reference: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
) -> DataFrame:
    """Per-document n-gram NOVELTY against a reference corpus: the
    fraction of the document's distinct word ``shingle_n``-grams never
    seen in ``reference`` — the curation gate that scores an incoming
    crawl snapshot for how much genuinely new text it adds (the
    additive complement of the dedup family: near-dup finds what to
    DROP, novelty ranks what's worth KEEPING).

        novelty_e6 = unseen_shingles · 1e6 div distinct_shingles

    Documents shorter than ``shingle_n`` tokens fall back to their
    whole text as one shingle (the ``dedup.shingles`` rule).

    Returns one row per scored doc: ``(id_col, n_shingles, n_unseen,
    novelty_e6)``.

    Scale: distinct (doc, shingle) explode on both sides, one
    LEFT-ANTI equi-join on the shingle value (the q158/q216
    decontamination shape — candidates only, never all-pairs), one
    doc-keyed count. The reference side reduces to DISTINCT shingles
    before the join, so boilerplate repetition never inflates it.
    """
    # NOTE (r16 measured): checkpointing the distinct (doc, shingle)
    # frame for its two consumers (anti-join + totals) read SLOWER at
    # sf1 (8.4 → 9.9 s A/B median) — the two consumers' distinct
    # exchanges canonicalize identically, so AQE's runtime exchange
    # reuse already dedupes the recompute and the checkpoint only adds
    # a shingle-stream materialization (the triangle_stats/q254
    # counter-example). Left uncheckpointed deliberately.
    d_sh = docs.select(
        F.col(id_col), F.explode(shingles(text_col, shingle_n)).alias("_sh")
    ).distinct()
    ref_sh = (
        reference.select(F.explode(shingles(text_col, shingle_n)).alias("_sh"))
        .distinct()
    )
    unseen = d_sh.join(ref_sh, "_sh", "left_anti")
    totals = d_sh.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shingles")
    )
    novel = unseen.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_unseen")
    )
    return (
        totals.join(novel, id_col, "left")
        .select(
            id_col,
            "n_shingles",
            F.coalesce("n_unseen", F.lit(0)).cast("bigint").alias("n_unseen"),
            F.expr(
                "CAST(coalesce(n_unseen, 0) * 1000000 AS DECIMAL(38,0))"
                " div n_shingles"
            )
            .cast("bigint")
            .alias("novelty_e6"),
        )
    )
