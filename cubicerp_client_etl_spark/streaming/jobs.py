"""Structured-Streaming surface (SURVEY §2.J).

The reference's closest streaming concepts: 'online' jobs with inline
payloads processed on demand (cubicerpetl/cubicerpetl.py:205-214) and a
ready→running→done cron sweep with 100-row micro-batches
(etl_cron.py:39-55). Here those map to real Structured Streaming:

* J1 — micro-batch ingestion: ``readStream`` + ``foreachBatch`` running
  the same batch pipeline per epoch (chunking disappears; triggers and
  partitions replace it);
* J2/J3 — event-time tumbling/sliding/session windows (the batch-
  checkable twins live in queries/windows.py);
* J4 — watermarks for bounded state / late-data drop;
* J5 — stateful streaming dedup (``dropDuplicates`` under watermark).

Scale posture: every aggregation here keys its state by (window, key)
under a watermark, so state size is bounded by watermark horizon ×
key cardinality — the property that keeps a stream job alive at 100 TB/
day. Tests drive these with the file source over the events fixture and
assert stream output == the batch twin (SURVEY §5.2.7).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream over the events fixture (micro-batch J1 shape).

    The nanos-timestamp handling matches catalog.load: read ts as long,
    truncate to micros.
    """
    from cubicerp_client_etl_spark.catalog import normalize_timestamps

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    static = spark.read.parquet(f"{sf_dir}/events.parquet")
    # the file stream source requires a directory path; select the one
    # table out of the fixture dir with a glob filter
    stream = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if dict(static.dtypes).get("ts") == "bigint":
        stream = stream.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return normalize_timestamps(stream)


def run_stream_to_memory(
    stream_df: DataFrame,
    query_name: str,
    output_mode: str = "complete",
) -> DataFrame:
    """Run a (bounded) streaming frame to completion into a memory sink
    and return the result as a batch DataFrame. Used by tests and by
    online-job execution where the payload is finite."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return stream_df.sparkSession.sql(f"SELECT * FROM {query_name}")


def windowed_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """J2+J4: watermarked tumbling-window aggregate (streaming form of
    queries/windows.q043)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def stream_dedup(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """J5: stateful exact dedup on event_id under a watermark — state is
    dropped once the watermark passes, bounding memory for unbounded
    streams."""
    return events.withWatermark("ts", watermark).dropDuplicates(["event_id"])


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator (§2.K surface on streams):
    per-user running totals via ``applyInPandasWithState``.

    This is the engine's replacement for the reference's per-row Python
    hooks running inside the cron loop (cubicerpetl/etl_cron.py:46-53
    carries accumulator state across 100-row chunks in driver memory):
    state lives in Spark's state store, keyed by user, checkpointed, and
    Arrow-batched — one pandas call per (user, micro-batch), never per row.

    Scale posture: state is one (count, sum) pair per user_id — bounded
    by key cardinality, independent of stream length; no watermark needed
    because the state never grows per-event.
    """
    import pandas as pd  # local import: only the streaming path needs it
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update_totals(key, pdfs, state: GroupState):
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += int(len(pdf))
            s += float(pdf["value"].sum()) if len(pdf) else 0.0
        state.update((n, s))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [s]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update_totals,
        outputStructType="user_id bigint, n_events bigint, sum_value double",
        stateStructType="n bigint, s double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stateful_user_totals_tws(events: DataFrame) -> DataFrame:
    """Per-user running totals via ``transformWithStateInPandas`` — the
    Spark-4-native stateful processor API (successor to
    ``applyInPandasWithState``; same reference semantics as
    ``stateful_user_totals``, see that docstring).

    The new API's advantages at scale: typed state variables (ValueState
    here; ListState/MapState for richer operators), state schema
    evolution, and per-key timers — the building blocks for session
    operators the old API had to hand-roll. State remains one (count,
    sum) pair per user_id, bounded by key cardinality.

    Requires the ``protobuf`` package (Spark's stateful-processor state
    server speaks protobuf to the Python worker); environments without
    it should use ``stateful_user_totals`` — identical semantics on the
    ``applyInPandasWithState`` API, no extra dependency.
    """
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError as ex:
        raise NotImplementedError(
            "transformWithStateInPandas needs the 'protobuf' package; "
            "use stateful_user_totals (applyInPandasWithState) instead"
        ) from ex
    import pandas as pd  # local import: only the streaming path needs it
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState("totals", "n bigint, s double")

        def handleInputRows(self, key, rows, timerValues):
            n, s = self._totals.get() if self._totals.exists() else (0, 0.0)
            for pdf in rows:
                n += int(len(pdf))
                s += float(pdf["value"].sum()) if len(pdf) else 0.0
            self._totals.update((n, s))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "sum_value": [s]}
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        RunningTotals(),
        outputStructType="user_id bigint, n_events bigint, sum_value double",
        outputMode="Update",
        timeMode="None",
    )


def foreach_batch_job(
    stream_df: DataFrame,
    batch_fn: Callable[[DataFrame, int], None],
    checkpoint: str | None = None,
) -> "object":
    """J1: run a batch pipeline per micro-batch epoch (the online-job
    runner: same transform/load code as batch jobs, exactly-once via the
    sink's idempotent MERGE on pk + epoch id).

    ``checkpoint`` enables crash recovery: a restarted job resumes from
    the last committed offset and RE-DELIVERS any epoch whose sink
    write happened but whose checkpoint commit did not (the crash
    window) — with the SAME epoch id, which is what makes the sink's
    id-keyed idempotent write exactly-once end-to-end. The recovery
    pytest kills a query between sink write and commit and asserts a
    ledger-style sink's totals survive the replay unchanged."""
    writer = stream_df.writeStream.foreachBatch(batch_fn)
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def view_purchase_interval_join(
    views: DataFrame,
    purchases: DataFrame,
    watermark: str = "1 hour",
    max_gap_minutes: int = 30,
) -> DataFrame:
    """Stream-stream interval join (J-family): attribute each purchase
    to the views by the same user within the preceding ``max_gap``.

    Both sides carry watermarks and the join condition bounds event
    time in BOTH directions — the two requirements that let Spark
    expire join state instead of buffering the streams forever. State
    per side is bounded by watermark + gap horizon × user cardinality;
    that bound is what makes the join viable on an unbounded stream at
    100 TB/day. Works identically on batch frames (the twin the test
    checks against).
    """
    v = views.select(
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
        F.col("event_id").alias("view_id"),
    )
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
    )
    if v.isStreaming:
        v = v.withWatermark("v_ts", watermark)
    if p.isStreaming:
        p = p.withWatermark("p_ts", watermark)
    cond = (
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (
            F.col("p_ts")
            <= F.col("v_ts") + F.expr(f"INTERVAL {max_gap_minutes} MINUTES")
        )
    )
    return v.join(p, cond).select(
        F.col("v_user").alias("user_id"),
        "view_id",
        "purchase_id",
        "purchase_value",
        F.unix_micros("v_ts").alias("view_ts_us"),
        F.unix_micros("p_ts").alias("purchase_ts_us"),
    )


def documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents fixture — the continuous-
    ingestion shape of a training-data pipeline (crawl batches landing
    as files, curated incrementally instead of in one monolithic job)."""
    static = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def stream_curation(docs: DataFrame, min_tokens: int = 10,
                    max_dup_frac_e6: int = 600_000) -> DataFrame:
    """Streaming curation gate + incremental content dedup: the
    batch curation chain's streaming twin (q130 stages 1–2).

    The repetition metrics are STATELESS map-only Catalyst expressions,
    so they attach to a stream unchanged — the same operator code as
    batch (`operators/curation.repetition_stats`). The only stateful
    stage is the exact-content dedup: ``dropDuplicates`` on md5(text),
    whose state store holds one hash per distinct document ever seen —
    the incremental form of the batch keep-smallest-id dedup (a stream
    keeps the FIRST arrival; deterministic given arrival order).

    Output is append-mode safe (no aggregation): doc_id, lang,
    n_tokens, dup_token_frac_e6 for every surviving document.
    """
    from cubicerp_client_etl_spark.operators.curation import repetition_stats

    gated = (
        repetition_stats(docs, keep=("text", "lang"))
        .filter(
            (F.col("n_tokens") >= min_tokens)
            & (F.col("dup_token_frac_e6") < max_dup_frac_e6)
        )
        .withColumn("_h", F.md5("text"))
    )
    return gated.dropDuplicates(["_h"]).select(
        "doc_id", "lang", "n_tokens", "dup_token_frac_e6"
    )


def stream_token_budget(
    docs: DataFrame,
    domain_col: str = "source",
    token_col: str = "n_chars",
    id_col: str = "doc_id",
    budget: int = 5000,
) -> DataFrame:
    """Streaming admission control — the online twin of
    ``operators/budget.token_budget_select``: admit documents per domain
    until the domain's token budget is spent, then admit nothing more.

    Semantics mirror the batch rule exactly: the running total counts
    EVERY document seen (admitted or not), and a document is admitted
    iff the total after adding it is still <= budget — so admission is
    a prefix of the processing order, which is (arrival batch, id) —
    deterministic for a given batch sequence (each micro-batch is
    sorted by ``id_col`` before the state walk).

    State is ONE bigint (tokens seen) per domain — bounded by domain
    cardinality, independent of stream length; no watermark needed.
    Arrow-batched ``applyInPandasWithState``, one pandas call per
    (domain, micro-batch).

    Memory note (VERDICT r5): the (arrival batch, id) contract forces
    each domain's ENTIRE micro-batch into one pandas frame before the
    sort (chunk-local sorting would make admission depend on Arrow
    chunking). With O(10) training domains a micro-batch therefore
    concentrates ~1/#domains of its rows in one group; rows here are
    narrow (id + token count — payloads are NOT carried through the
    gate), so the bound is batch size, not corpus size. Size triggers
    (``trigger(processingTime=...)`` / ``maxOffsetsPerTrigger``)
    accordingly; ``spark.sql.execution.arrow.maxRecordsPerBatch`` does
    NOT bound this concat — it only sizes the chunks being concatenated.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def gate(key, pdfs, state: GroupState):
        seen = state.get[0] if state.exists else 0
        # materialize the WHOLE micro-batch before sorting: the
        # iterator yields Arrow chunks (split at
        # spark.sql.execution.arrow.maxRecordsPerBatch) in shuffle
        # arrival order, so sorting each chunk independently would make
        # admission depend on chunking — the batch must be one ordered
        # frame for the "(arrival batch, id)" contract to hold
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values(id_col)
            cum = seen + pdf[token_col].cumsum()
            admitted = pdf[cum <= budget]
            seen += int(pdf[token_col].sum())
            if len(admitted):
                yield pd.DataFrame(
                    {
                        domain_col: admitted[domain_col],
                        id_col: admitted[id_col],
                        token_col: admitted[token_col],
                        "cum_tokens": cum[cum <= budget].astype("int64"),
                    }
                )
        state.update((seen,))

    return docs.select(domain_col, id_col, token_col).groupBy(
        domain_col
    ).applyInPandasWithState(
        gate,
        outputStructType=(
            f"{domain_col} string, {id_col} bigint, "
            f"{token_col} bigint, cum_tokens bigint"
        ),
        stateStructType="seen bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_count_min(
    docs: DataFrame,
    text_col: str = "text",
    depth: int = 4,
    width: int = 64,
    seed: str = "1",
) -> DataFrame:
    """Streaming count-min sketch over document tokens — the batch
    ``operators/sketches.cms_build`` over the space-split tokens.

    Because CMS counters are ADDITIVE, the streaming build is literally
    the same bounded groupBy running in update mode: Spark's state
    store holds the depth×width counter grid (fixed size, independent
    of stream length — no watermark needed), and each micro-batch's
    partial counts merge by sum. The memory-sink/complete or
    foreachBatch consumer reads the live sketch; estimates use the
    batch ``cms_estimate`` unchanged on the materialized grid.
    """
    from cubicerp_client_etl_spark.operators.sketches import cms_build

    tokens = docs.select(F.explode(F.split(F.col(text_col), " ")).alias("token"))
    return cms_build(tokens, "token", depth=depth, width=width, seed=seed)


def stream_decontaminate_bloom(
    docs: DataFrame,
    bits: list[bool],
    k: int = 3,
    seed: str = "",
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Streaming decontamination gate — the online twin of the
    Bloom-filtered batch pass (q158): drop any arriving document one of
    whose token ``n``-gram shingles maybe-hits the benchmark Bloom.

    ``bits`` is the ``sketches.bloom_bitset`` of the eval suite
    (bounded O(m), built batch-side) embedded as ONE array<boolean>
    LITERAL, so the gate is a pure map-side Catalyst expression —
    ``exists(shingles, s -> all k element_at probes)`` — with no state
    store, no joins, append-mode safe, and the SAME portable md5
    family as the batch filter: stream and batch flag identical
    documents (the equivalence test pins it). No false negatives
    (Bloom contract): everything the exact decontamination pass drops
    is dropped here too; over-dropping is bounded by the FP rate.
    """
    from cubicerp_client_etl_spark.functions import ngrams, space_tokens
    from cubicerp_client_etl_spark.operators.sketches import (
        bloom_bitset_maybe_member,
    )

    sh = ngrams(space_tokens(text_col), n)
    flagged = F.exists(
        sh, lambda s: bloom_bitset_maybe_member(s, bits, k, seed)
    )
    return docs.where(~flagged).select(id_col, text_col)


def stream_quality_classify(
    docs: DataFrame,
    weights: "list[int]",
    salt: str,
    threshold: int = 0,
) -> DataFrame:
    """Streaming twin of the batch quality classifier
    (``operators/classifier.score_documents``) — model-based filtering
    as a STATELESS map-side expression, the same literal-embedding
    trick as ``stream_decontaminate_bloom``'s bitset.

    The batch operator scores via explode → broadcast join → per-doc
    sum; on a stream that aggregation would need state. Instead the
    bucket→weight table (bounded: O(n_buckets), exactly what the batch
    side broadcasts) embeds as ONE array literal indexed by bucket id,
    and the score folds over the token array in Catalyst:
    ``aggregate(transform(tokens, t -> w[bucket(t)]), 0, +)`` — no
    joins, no state store, no watermark, append-mode safe, and
    bit-equal to the batch score (integer sum, total fold order
    irrelevant under associativity... integer addition is associative,
    so ANY fold order gives the batch sum). Equivalence is pinned by
    tests/test_streaming.py.

    ``weights[b]`` is the weight of bucket ``b``; pass the collected
    column of ``classifier.derived_weights`` (or trained weights) —
    n_buckets is ``len(weights)``.
    """
    from cubicerp_client_etl_spark.functions import md5_hash32

    n_buckets = len(weights)
    w_arr = F.array(*[F.lit(int(w)).cast("bigint") for w in weights])
    toks = F.split(F.col("text"), " ")
    score = F.aggregate(
        F.transform(
            toks,
            lambda t: F.element_at(
                w_arr,
                (
                    md5_hash32(F.concat(t, F.lit(f"|{salt}"))) % n_buckets + 1
                ).cast("int"),
            ),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return docs.withColumn("score", score).where(
        F.col("score") >= threshold
    ).drop("text")


def stream_bm25_score(
    docs: DataFrame,
    idf_e6: "dict[str, int]",
    n_docs: int,
    total_len: int,
    text_col: str = "text",
) -> DataFrame:
    """Streaming twin of ``operators/retrieval.bm25_topk``'s scoring
    stage — BM25 as a STATELESS map-side expression, the literal-
    embedding pattern of ``stream_quality_classify``: the bounded
    corpus statistics a batch index build produces (per-term e6 idf,
    doc count N, total token count L — frozen at index-build time, as
    every serving BM25 index does) embed as literals, and each
    arriving document scores itself from its own token array:

        tf        = size(filter(tokens, t -> t = term))
        tf_part   = e6_floor_ratio(22·L·tf, 10·L·tf + 3·L + 9·dl·N)
        score_e12 = Σ_terms idf_e6[term] · tf_part

    — the identical exact rational arithmetic as the batch operator
    (k1 = 1.2, b = 0.75 multiplied through by 10·L), so stream and
    batch scores are bit-equal (pinned by tests/test_streaming.py).
    No joins, no state store, no watermark; append-mode safe. Docs
    matching no probe term are dropped (retrieval semantics — the
    batch side never ranks them). Ranking/top-k stays a batch (or
    sink-side) concern; a stream scores, it doesn't globally sort.
    """
    if not idf_e6:
        raise ValueError("idf_e6 must not be empty")
    if n_docs < 1 or total_len < 1:
        raise ValueError("n_docs and total_len must be >= 1")
    from cubicerp_client_etl_spark.functions import e6_floor_ratio

    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    dl = F.size(toks).cast("bigint")
    L = F.lit(int(total_len)).cast("bigint")
    N = F.lit(int(n_docs)).cast("bigint")
    score = F.lit(0).cast("bigint")
    hits = F.lit(0).cast("bigint")
    for term, idf in sorted(idf_e6.items()):
        tf = F.size(F.filter(toks, lambda t: t == F.lit(term))).cast("bigint")  # noqa: B023
        part = e6_floor_ratio(
            F.lit(22) * L * tf,
            F.lit(10) * L * tf + F.lit(3) * L + F.lit(9) * dl * N,
        )
        score = score + F.lit(int(idf)).cast("bigint") * part
        hits = hits + F.when(tf > 0, 1).otherwise(0)
    return (
        docs.withColumn("n_terms_hit", hits)
        .withColumn("score_e12", score)
        .where(F.col("n_terms_hit") >= 1)
        .drop(text_col)
    )


def stream_hll_registers(
    keys: DataFrame, key_col: str, seed: str = "1"
) -> DataFrame:
    """Streaming HyperLogLog registers — the online form of
    ``operators/sketches.hll_registers`` (the same bucket/rho
    projection, ``sketches._hll_bucket_rho``), as ``stream_count_min``
    is for the CMS: HLL registers merge by MAX, so the streaming build
    is the same bounded groupBy running in update mode. The state store holds at most ``sketches.HLL_M``
    (bucket, max-rho) rows — fixed size, independent of stream
    length, no watermark. The consumer pads absent buckets with 0 and
    feeds ``sketches.hll_estimate`` unchanged (batch == stream
    registers pinned by tests/test_streaming.py).
    """
    from cubicerp_client_etl_spark.operators.sketches import _hll_bucket_rho

    rho = _hll_bucket_rho(keys, key_col, seed)
    return rho.groupBy("bucket").agg(F.max("_rho").alias("m_rho"))


def stream_winnow_digest(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Streaming winnowing fingerprints — winnowing is a per-document
    LOCAL algorithm (Schleimer et al. 2003: that is the paper's
    point), so the stream form is simply the shuffle-free row-local
    digest (``operators/winnow.winnow_digest_inline``) applied to the
    stream: stateless, no watermark, append-safe, and bit-equal to
    the batch digest (pinned by tests/test_streaming.py). Fingerprint
    INDEXING (the shared-hash join) stays a batch/sink concern."""
    from cubicerp_client_etl_spark.operators.winnow import winnow_digest_inline

    return winnow_digest_inline(docs, id_col, text_col)


def stream_gram_partials(vecs: DataFrame) -> DataFrame:
    """Streaming PCA moment accumulation — the online form of
    ``operators/pca.gram_partials``: the (i, j, p) moment partials are
    ADDITIVE (a Gram matrix is a sum of per-row outer products), so
    the streaming build is the partials map + the same bounded keyed
    sum in update mode — the stream_count_min/stream_hll pattern. The
    state store holds at most d²+d+1 rows regardless of stream
    length; the materialized sums feed ``pca.scatter_matrix``'s
    centering arithmetic / power iteration unchanged (batch == stream
    pinned by tests/test_streaming.py)."""
    from cubicerp_client_etl_spark.operators.pca import gram_partials

    return gram_partials(vecs).groupBy("i", "j").agg(
        F.sum("p").cast("bigint").alias("p")
    )


def stream_hash_split(
    docs: DataFrame, id_col: str = "doc_id", salt: str = ""
) -> DataFrame:
    """Streaming twin of ``operators/sampling.hash_split`` — trivially
    so, and that is the point: split membership is a pure function of
    md5(id|salt), so the STREAMING split is the batch operator applied
    unchanged (stateless map, no watermark), and a document ingested
    today lands in the same split a batch rebuild would assign next
    year. Equivalence pinned by tests/test_streaming.py."""
    from cubicerp_client_etl_spark.operators.sampling import hash_split

    return hash_split(docs, id_col, salt=salt)


def stream_media_features(docs: DataFrame, n_features: int = 8) -> DataFrame:
    """Streaming twin of the q208 multimodal chain: per-document
    baseline JPEGs (block-uniform planted values — the family on which
    the stdlib codec is pixel-exact) are synthesized and then REALLY
    decoded (huffman entropy + IDCT, ``operators/jpeg.py``) into
    luminance-histogram features, all through stateless Arrow-batched
    ``mapInPandas`` stages that attach to a stream unchanged — media
    feature extraction needs no state store, no watermark, and no
    shuffle, so continuous ingestion decodes exactly like the batch
    rebuild. Equivalence pinned by tests/test_streaming.py."""
    import pandas as pd

    from cubicerp_client_etl_spark.operators.jpeg import encode_jpeg_gray
    from cubicerp_client_etl_spark.operators.multimodal import extract_features

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

    media = docs.select("doc_id").mapInPandas(
        gen, "doc_id bigint, payload binary"
    ).selectExpr(
        "doc_id",
        "payload",
        "named_struct('media_type', 'image/jpeg', 'byte_len', "
        "CAST(length(payload) AS BIGINT), 'format', 'jpeg', "
        "'width', CAST(NULL AS INT), 'height', CAST(NULL AS INT)) AS meta",
    )
    return extract_features(media, n_features=n_features, fake=False)


def stream_quantile_buckets(
    vals: DataFrame,
    value_col: str,
    lo: int,
    width: int,
    n_buckets: int = 256,
) -> DataFrame:
    """Streaming twin of ``operators/quantiles.histogram_quantile_sketch``'s
    bucket pass. Histogram counters are ADDITIVE, so the online build
    is the same bounded groupBy in update mode: state = at most
    ``n_buckets`` counter rows (fixed size, no watermark), micro-batch
    partials merge by sum. The GRID (lo, width) is pinned up front —
    production derives it from the previous corpus snapshot's min/max
    (a new value past the edge clamps into the boundary bucket, which
    only ever WIDENS the reported bound for the extreme quantiles,
    never mis-orders interior ones). Quantile extraction reads the
    materialized counter table with the same disc-rank rule as batch.
    """
    if width < 1 or n_buckets < 1:
        raise ValueError("width and n_buckets must be >= 1")
    b = F.expr(f"(CAST({value_col} AS BIGINT) - {lo}) div {width}")
    clamped = F.greatest(F.lit(0), F.least(F.lit(n_buckets - 1), b))
    return (
        vals.where(F.col(value_col).isNotNull())
        .select(clamped.cast("bigint").alias("b"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def stream_pii_card_audit(docs: DataFrame) -> DataFrame:
    """Streaming twin of the q282 Luhn PII audit: per document,
    extract payment-card candidates and split them into checksum-valid
    and invalid counts. Pure codegen regex + HOF arithmetic
    (``operators/text.card_candidates``/``luhn_valid``) — stateless
    map-only, so it attaches to a stream unchanged (append mode, no
    watermark, no state store) and scanning the live firehose costs
    exactly what the batch scan costs. Batch-equivalence pinned by
    tests/test_streaming.py."""
    from cubicerp_client_etl_spark.operators.text import (
        card_candidates,
        luhn_valid,
    )

    cands = F.transform(
        card_candidates("text"),
        lambda s: F.when(luhn_valid(s), 1).otherwise(0),
    )
    return docs.select(
        "doc_id",
        F.size(cands).cast("bigint").alias("n_cands"),
        F.aggregate(cands, F.lit(0), lambda a, x: a + x)
        .cast("bigint")
        .alias("n_valid"),
    ).withColumn("n_invalid", F.col("n_cands") - F.col("n_valid"))


def stream_winsorize(
    vals: DataFrame, p_lo: int, p_hi: int, value_col: str = "value_cents"
) -> DataFrame:
    """Streaming twin of the q232 winsorization: clip a live value
    stream at thresholds COMPUTED OFFLINE (the batch quantile sketch's
    p01/p99 — pass them in as plain ints, the Bloom-gate pattern:
    heavy statistics on yesterday's batch, a stateless map on today's
    firehose). Pure Column arithmetic — append mode, no state store,
    no watermark; re-deploy with fresh thresholds on whatever cadence
    the distribution drifts. Batch-equivalence pinned by
    tests/test_streaming-style round trip in tests/test_round8_ops.py.
    """
    v = F.col(value_col)
    clipped = F.least(F.greatest(v, F.lit(int(p_lo))), F.lit(int(p_hi)))
    return vals.withColumn("winsorized_cents", clipped.cast("bigint")).withColumn(
        "clipped",
        F.when(v < p_lo, F.lit("low"))
        .when(v > p_hi, F.lit("high"))
        .otherwise(F.lit("none")),
    )


def stream_transition_counts(events: DataFrame) -> DataFrame:
    """Streaming twin of ``operators/behavior.transition_matrix``:
    per-user event-type transition counts with the cross-batch edge
    carried in state.

    State is ONE (last_t, last_event_id, last_type) triple per user —
    bounded by user cardinality, independent of stream length. Each
    micro-batch is materialized per user and sorted by (t, event_id)
    before the walk (chunk-local order would make the bigram sequence
    depend on Arrow chunking); the FIRST event of a batch pairs with
    the state's last event, so transitions never drop at batch
    boundaries. Contract: per-user arrival must be time-ordered ACROSS
    micro-batches (the standard ordered-ingest assumption every
    stateful sequence operator carries) — a late event would emit the
    bigram out of order rather than re-sorting history.

    Emits (from_type, to_type, n) deltas per (user, micro-batch) in
    append mode; the downstream rollup ``groupBy(from,to).sum(n)`` —
    run as a batch over the sink or a second streaming agg — equals
    the batch operator's counts (equivalence-tested).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def walk(key, pdfs, state: GroupState):
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True).sort_values(
            ["t", "event_id"]
        )
        tys = pdf["event_type"].tolist()
        if state.exists:
            frm = [state.get[2], *tys[:-1]]
            to = tys
        else:
            frm = tys[:-1]
            to = tys[1:]
        counts: dict[tuple, int] = {}
        for a, b in zip(frm, to):
            counts[(a, b)] = counts.get((a, b), 0) + 1
        state.update(
            (int(pdf["t"].iloc[-1]), int(pdf["event_id"].iloc[-1]), tys[-1])
        )
        if counts:
            yield pd.DataFrame(
                {
                    "from_type": [a for a, _ in counts],
                    "to_type": [b for _, b in counts],
                    "n": list(counts.values()),
                }
            )

    return events.select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("t"),
        "event_id",
        "event_type",
    ).groupBy("user_id").applyInPandasWithState(
        walk,
        outputStructType="from_type string, to_type string, n bigint",
        stateStructType="last_t bigint, last_eid bigint, last_ty string",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_funnel_progress(events: DataFrame, steps: list[str]) -> DataFrame:
    """Streaming twin of ``operators/behavior.funnel_steps``: per-user
    greedy earliest-completion funnel state maintained across
    micro-batches.

    State is ONE timestamp per funnel step per user (K bigints —
    bounded by user cardinality × K, independent of stream length).
    Each micro-batch is materialized per user and sorted by
    (t, event_id); the greedy walk then matches the batch operator
    EXACTLY under the ordered-ingest contract (per-user arrival is
    time-ordered across batches — the same contract as
    ``stream_transition_counts``): the first step-1 event sets t1,
    the first step-k event strictly after t(k-1) sets tk, and a set
    step never regresses (greedy-earliest is optimal for unbounded
    windows, the batch operator's own argument).

    Emits the user's current (t1..tK) row per (user, micro-batch) in
    update mode; the LAST row per user equals the batch
    ``funnel_steps`` output (equivalence-tested).
    """
    if len(steps) < 2:
        raise ValueError("a funnel needs at least 2 steps")
    if len(set(steps)) != len(steps):
        raise ValueError(f"duplicate step types: {steps}")
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    k = len(steps)
    idx = {s: i for i, s in enumerate(steps)}
    out_cols = [f"t{i + 1}_us" for i in range(k)]

    def walk(key, pdfs, state: GroupState):
        ts = list(state.get) if state.exists else [None] * k
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True).sort_values(
            ["t", "event_id"]
        )
        for t, ty in zip(pdf["t"], pdf["event_type"]):
            i = idx.get(ty)
            if i is None or ts[i] is not None:
                continue
            if i == 0:
                ts[0] = int(t)
            elif ts[i - 1] is not None and int(t) > ts[i - 1]:
                ts[i] = int(t)
        state.update(tuple(ts))
        if ts[0] is not None:  # users who never hit step 1 emit nothing
            yield pd.DataFrame(
                {"user_id": [key[0]], **{c: [ts[i]] for i, c in enumerate(out_cols)}}
            )

    return events.select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("t"),
        "event_id",
        "event_type",
    ).groupBy("user_id").applyInPandasWithState(
        walk,
        outputStructType="user_id bigint, " + ", ".join(
            f"{c} bigint" for c in out_cols
        ),
        stateStructType=", ".join(f"s{i} bigint" for i in range(k)),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_last_touch_attribution(events: DataFrame) -> DataFrame:
    """Streaming twin of ``operators/behavior.last_touch_attribution``:
    per-user last-event-type carried in state so a conversion arriving
    at the top of a micro-batch still credits the type that closed the
    PREVIOUS batch.

    State is ONE (last_t, last_event_id, last_type) triple per user —
    bounded by user cardinality, independent of stream length (the
    same state shape as ``stream_transition_counts``). Each
    micro-batch is materialized per user and sorted by (t, event_id)
    before the walk; the ordered-ingest contract applies (per-user
    arrival time-ordered ACROSS batches).

    Emits (source_type, n_conversions, sum_value_floor) DELTAS per
    (user, micro-batch) in append mode; the downstream rollup
    ``groupBy(source_type).sum(...)`` equals the batch operator
    (equivalence-tested). 'purchase' is the conversion type; the
    stream twin hard-codes it to keep the state schema closed —
    parameterize at the call site by pre-mapping event types.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def walk(key, pdfs, state: GroupState):
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True).sort_values(
            ["t", "event_id"]
        )
        prev_ty = state.get[2] if state.exists else None
        agg: dict[str, list[int]] = {}
        for ty, v in zip(pdf["event_type"], pdf["value"]):
            if ty == "purchase":
                src = prev_ty if prev_ty is not None else "direct"
                cell = agg.setdefault(src, [0, 0])
                cell[0] += 1
                cell[1] += int(v // 1)  # floor(value)
            prev_ty = ty
        state.update(
            (
                int(pdf["t"].iloc[-1]),
                int(pdf["event_id"].iloc[-1]),
                str(pdf["event_type"].iloc[-1]),
            )
        )
        if agg:
            yield pd.DataFrame(
                {
                    "source_type": list(agg),
                    "n_conversions": [c[0] for c in agg.values()],
                    "sum_value_floor": [c[1] for c in agg.values()],
                }
            )

    return events.select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("t"),
        "event_id",
        "event_type",
        "value",
    ).groupBy("user_id").applyInPandasWithState(
        walk,
        outputStructType=(
            "source_type string, n_conversions bigint, sum_value_floor bigint"
        ),
        stateStructType="last_t bigint, last_eid bigint, last_ty string",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def lineitem_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the lineitem fixture — invoice lines
    landing continuously (the reference's cron loop shape,
    etl_cron.py:39-55, as a stream instead of a poll)."""
    static = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "lineitem.parquet")
        .parquet(sf_dir)
    )


def stream_tax_box(lines: DataFrame) -> DataFrame:
    """Streaming VAT box accumulator — the online form of q281's
    tax-box summary: per (returnflag, rate_pct), the running taxable
    base and tax cents.

    Per-line tax is computed MAP-SIDE (base·rate div 100 on each line,
    exactly as the batch query) and the running totals are one bounded
    update-mode groupBy — state is the (flag × rate) grid (≤ a few
    dozen rows at any stream length, no watermark needed; the same
    additive-state argument as the CMS/HLL twins). Each filing-period
    cutoff reads the live grid; batch==stream equivalence is pinned in
    tests.
    """
    l = lines.select(
        F.col("l_returnflag"),
        (F.col("l_tax").cast("decimal(4,2)") * 100)
        .cast("bigint")
        .alias("rate_pct"),
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("base_cents"),
    )
    return (
        l.withColumn("tax_cents", F.expr("base_cents * rate_pct div 100"))
        .groupBy("l_returnflag", "rate_pct")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum("base_cents").cast("bigint").alias("taxable_base_cents"),
            F.sum("tax_cents").cast("bigint").alias("tax_cents"),
        )
    )


def stream_price_waterfall(lines: DataFrame, part_static: DataFrame) -> DataFrame:
    """Streaming price waterfall — the online form of q243 (birth q298): invoice
    lines land continuously, each joins the STATIC part dimension
    (stream-static equi-join, broadcast-sized), the list/invoice/
    realized rungs are computed map-side on the exact e4 basis, and
    the running per-brand totals are one bounded update-mode groupBy
    — state is the brand grid (25 rows), no watermark needed (the
    additive-state argument of the tax-box/CMS twins). leakage_e6 is
    derived from the live totals with the same exact floor the batch
    query uses, so batch==stream is row-for-row once the stream
    drains (pinned in tests).
    """
    from cubicerp_client_etl_spark.functions import e6_floor_ratio

    part = part_static.select(
        F.col("p_partkey").alias("l_partkey"),
        "p_brand",
        (F.col("p_retailprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("retail_cents"),
    )
    rows = lines.select(
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
    ).join(part, "l_partkey")
    agg = rows.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum(F.col("qty") * F.col("retail_cents") * 100)
        .cast("bigint")
        .alias("list_e4"),
        F.sum(F.col("inv_cents") * 100).cast("bigint").alias("invoice_e4"),
        F.sum("realized_e4").cast("bigint").alias("realized_e4"),
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


def stream_video_metadata(docs: DataFrame) -> DataFrame:
    """Streaming twin of the q004 video chain: per-document REAL
    ISO-BMFF/MP4 containers are synthesized and then box-walk parsed
    back to exact-integer track metadata (duration_us, 16.16 pixel
    dims, n_frames, fps_e6, mdat bytes) — stateless Arrow-batched
    ``mapInPandas`` stages that attach to a stream unchanged, the same
    no-state/no-watermark/no-shuffle argument as ``stream_media_
    features``. Continuous video ingestion runs its metadata pre-flight
    exactly like the batch rebuild; equivalence pinned by
    tests/test_streaming.py."""
    import pandas as pd

    from cubicerp_client_etl_spark.operators.multimodal import (
        encode_mp4_meta,
        video_meta_features,
    )

    def gen(batches):
        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                d = int(did)
                payloads.append(
                    encode_mp4_meta(
                        timescale=600,
                        frame_delta=20 + d % 5,
                        n_frames=24 + d % 48,
                        width=320 + 16 * (d % 4),
                        height=240 + 16 * (d % 3),
                        mdat=b"\x00" * ((d % 7 + 1) * 100),
                    )
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    mp4 = docs.select("doc_id").mapInPandas(gen, "doc_id bigint, payload binary")
    return video_meta_features(mp4)


def stream_keyframe_plan(docs: DataFrame) -> DataFrame:
    """Streaming twin #22 — the q008 keyframe sampling plan attached
    to the live video-metadata stream: one planned frame row per
    500 ms of media time, computed purely from the container metadata
    the ``stream_video_metadata`` chain already parses. The plan stage
    is Column arithmetic + a bounded ``sequence`` explode — stateless,
    no watermark, no shuffle — so continuous ingestion plans its
    frame-decode work exactly like the batch rebuild (the decode tier
    itself stays a batch job over the planned offsets); equivalence
    pinned by tests/test_streaming.py."""
    from cubicerp_client_etl_spark.operators.multimodal import (
        keyframe_sample_plan,
    )

    return keyframe_sample_plan(stream_video_metadata(docs), every_us=500_000)


def orders_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the orders fixture — order documents
    landing continuously (the reference's cron loop shape,
    etl_cron.py:39-55, as a stream instead of a poll)."""
    static = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "orders.parquet")
        .parquet(sf_dir)
    )


def stream_progressive_brackets(orders: DataFrame) -> DataFrame:
    """Streaming twin #23 — q018's progressive marginal brackets on
    the live order stream: each landing document gets its exact
    bracket tax and effective rate computed MAP-SIDE (the operator is
    one DECIMAL(38,0) expression per row — no join, no state, no
    watermark, append mode), so a payroll/customs feed taxes documents
    the instant they land with bit-identical results to the batch
    query (pinned in tests/test_streaming.py). The purest stateless
    twin in the set: the batch==stream argument is trivial BECAUSE the
    r15 ADVICE fix made the arithmetic a pure per-row expression safe
    at any amount."""
    from cubicerp_client_etl_spark.operators.finance import (
        progressive_brackets,
    )

    o = orders.select(
        "o_orderkey",
        F.expr(
            "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
        ).alias("amount_cents"),
    )
    return progressive_brackets(
        o,
        "amount_cents",
        brackets=[
            (0, 0),
            (5_000_000, 100_000),
            (15_000_000, 250_000),
            (40_000_000, 400_000),
        ],
    ).select("o_orderkey", "amount_cents", "tax_cents", "effective_rate_e6")


def stream_revenue_recognition(orders: DataFrame) -> DataFrame:
    """Streaming twin #24 — q317's straight-line revenue recognition
    on the live order stream: each landing fulfilled order emits its
    ENTIRE deferred-revenue schedule map-side (a bounded ``sequence``
    explode plus exact integer arithmetic — no join, no state, no
    watermark, append mode), so the subledger postings exist the
    moment the contract books, bit-identical to the batch schedule
    (pinned in tests/test_streaming.py). Stateless for the same
    structural reason as twin #23: the operator is a pure per-row
    expression (fan-out ≤ the term), so batch==stream needs no
    state-store argument at all."""
    from cubicerp_client_etl_spark.operators.finance import (
        revenue_recognition_schedule,
    )

    contracts = orders.where(F.col("o_orderstatus") == "F").select(
        F.col("o_orderkey").alias("contract_id"),
        F.expr(
            "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
        ).alias("amount_cents"),
        F.to_date("o_orderdate").alias("start_month"),
        (F.col("o_orderkey") % 12 + 1).cast("bigint").alias("term_months"),
    )
    return revenue_recognition_schedule(contracts)


def stream_sequence_gaps(
    docs: DataFrame,
    series_col: str = "o_custkey",
    number_col: str = "o_orderkey",
) -> DataFrame:
    """Streaming twin #25 — the q324 sequence-gap audit as documents
    LAND: per numbered series, the detector keeps ONE bigint of state
    (the last number seen) and emits a per-batch delta row — docs
    seen, min/max number, gaps opened, missing numbers, largest run —
    whose rollup ``groupBy(series).agg(sum/min/max)`` equals the
    batch operator's six audit columns exactly (equivalence-tested).
    The FIRST number of a batch pairs against the state's last, so
    gaps never drop at micro-batch boundaries. Contract: per-series
    arrival ascends across micro-batches (document numbers issue in
    order — the standard ordered-ingest assumption all stateful
    sequence twins carry); within a batch the walk sorts, so
    intra-batch disorder is fine.

    State: one bigint per live series — bounded by series
    cardinality, independent of stream length.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def walk(key, pdfs, state: GroupState):
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True).sort_values("_n")
        nums = [int(x) for x in pdf["_n"]]
        seq = [state.get[0], *nums] if state.exists else nums
        gaps = [b - a - 1 for a, b in zip(seq, seq[1:]) if b - a > 1]
        state.update((nums[-1],))
        yield pd.DataFrame(
            {
                "series": [key[0]],
                "n_docs": [len(nums)],
                "min_number": [nums[0]],
                "max_number": [nums[-1]],
                "n_gaps": [len(gaps)],
                "missing": [sum(gaps)],
                "largest_gap": [max(gaps, default=0)],
            }
        )

    return docs.select(
        F.col(series_col).cast("bigint").alias("_s"),
        F.col(number_col).cast("bigint").alias("_n"),
    ).groupBy("_s").applyInPandasWithState(
        walk,
        outputStructType=(
            "series bigint, n_docs bigint, min_number bigint, "
            "max_number bigint, n_gaps bigint, missing bigint, "
            "largest_gap bigint"
        ),
        stateStructType="last_n bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
