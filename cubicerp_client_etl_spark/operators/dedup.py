"""Deduplication operators (SURVEY §2.L-dedup).

Exact dedup is a keyed window/aggregate; near-dup is the classic
shingle → MinHash → LSH-band → bucket-join pipeline, built entirely from
DataFrame ops (explode / md5 / groupBy / self-join on band key) so it
scales as shuffles on bounded-size keys instead of an O(n²) compare.
A 100 TB corpus never forms candidate pairs outside shared LSH buckets.

One hash family: every sketch here (MinHash, LSH band keys, SimHash)
is built from md5 hex digests, which the DuckDB oracle recomputes
bit-for-bit, so each fingerprint and candidate set is checkable
cross-engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from cubicerp_client_etl_spark.functions import (
    e6_floor_ratio,
    ngrams,
    space_tokens,
    word_tokens,
)
from cubicerp_client_etl_spark.checkpointing import pin


def exact_dedup(df: DataFrame, keys: list[str], order_by: list[Column]) -> DataFrame:
    """Keep exactly one row per key group — the first under ``order_by``
    (keep-latest = pass descending ts). Deterministic iff order_by is a
    total order within groups."""
    w = W.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def shingles(
    text_col: Column | str, n: int = 3, tokens: Column | None = None
) -> Column:
    """Word n-gram shingles as an array of strings (distinct not enforced
    here; MinHash is insensitive to duplicates after the explode-distinct):
    ``functions.ngrams`` over ``functions.word_tokens``, except that a
    document shorter than ``n`` tokens is ONE shingle, its whole
    normalized text, instead of none.

    ``tokens`` (opt-in): a pre-split ``array<string>`` column carrying
    exactly ``word_tokens(text)`` — lets a caller that derives several
    hash families from one corpus pass (the q040 datasheet) tokenize
    ONCE behind a shared exchange instead of once per family. Semantics
    are identical by contract; the caller owns keeping the token stream
    in sync with the text column.
    """
    toks = word_tokens(text_col) if tokens is None else tokens
    return F.when(F.size(toks) < n, F.array(F.concat_ws(" ", toks))).otherwise(
        ngrams(toks, n)
    )


def shingle_rows(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """DISTINCT (id, sh) shingle rows — the set-form of ``shingles``
    that the exact-Jaccard joins consume (same tokenization/fallback,
    so truth sets and MinHash signatures see identical shingles).

    Input widened first (``catalog.widen_scan``, no-op on wide scans):
    the tokenize + shingle explode is per-row CPU work that runs
    before any shuffle, so a narrow single-row-group scan would
    serialize it on one core."""
    from cubicerp_client_etl_spark.catalog import widen_scan

    return widen_scan(df).select(
        F.col(id_col), F.explode(shingles(text_col, n)).alias("sh")
    ).distinct()


def exact_jaccard_truth(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold_e6: int = 500000,
    df_cap: int | None = None,
) -> DataFrame:
    """Exact-Jaccard ground-truth pairs (id_a < id_b) at
    ``jaccard_e6 >= threshold_e6`` over the shingle universe — the
    expensive side of an LSH accuracy audit (any pair with J > 0 shares
    a shingle, so the shingle equi-join IS the exact candidate
    universe; no all-pairs).

    ``df_cap`` is the scale guard (the ``setsim_join`` ``hot_cap``
    pattern): a stopword-class shingle shared by n docs emits n²
    intersection rows before the threshold filter, so
    shingles with document frequency > ``df_cap`` are dropped from the
    universe ENTIRELY — from both set sizes and intersections, keeping
    Jaccard internally consistent over the capped universe. The trade
    is the same as stopword removal: pairs whose overlap lives only in
    ultra-common shingles are missed (recall loss on exactly the pairs
    LSH banding also tends to miss), and every surviving shingle
    contributes at most C(df_cap, 2) pair rows, making candidate mass
    linear in corpus size. ``None`` = uncapped exact truth — audit-only;
    run on a sample at production scale.
    """
    if df_cap is not None and df_cap < 1:
        raise ValueError(f"df_cap must be >= 1 or None, got {df_cap}")
    sh = shingle_rows(df, id_col, text_col, n=shingle_n)
    if df_cap is not None:
        freq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("_df"))
        sh = sh.join(freq.where(F.col("_df") <= df_cap).select("sh"), "sh")
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col(id_col).alias("id_a"), "sh")
    b = sh.select(F.col(id_col).alias("id_b"), "sh")
    inter = (
        a.join(b, "sh")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(
            sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a")),
            "id_a",
        )
        .join(
            sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b")),
            "id_b",
        )
        .withColumn(
            "jaccard_e6",
            e6_floor_ratio(
                F.col("n_inter") * 1,
                F.col("sz_a") + F.col("sz_b") - F.col("n_inter"),
            ),
        )
        .where(F.col("jaccard_e6") >= threshold_e6)
        .select("id_a", "id_b", "jaccard_e6")
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    shingle_n: int = 3,
    hashes_per_digest: int = 1,
    tokens_col: str | None = None,
) -> DataFrame:
    """Per-document MinHash signature: (id, h0..h{k-1}).

    ``tokens_col``: optional name of a pre-split ``array<string>``
    column on ``df`` holding ``functions.word_tokens(text_col)`` (the
    ``shingles(tokens=...)`` contract) so a multi-family caller
    tokenizes the corpus once.

    One explode + one groupBy with k min-aggregates — a single shuffle on
    the document id.

    Hash family: h_i is ``md5(shingle || '|' || i)`` compared AS A
    STRING: the min over a uniformly-distributed hex string is a valid
    MinHash (any total order over a uniform hash family works), and
    md5+string-min is bit-identically replayable in any engine (the
    DuckDB oracle replays it exactly).

    ``hashes_per_digest`` (r11): carve several hashes out of EACH md5
    digest instead of one md5 per hash — ``hashes_per_digest=4`` makes
    h_i the 8-hex-char substring
    ``substr(md5(shingle || '|' || i//4), 8*(i%4)+1, 8)``, cutting md5
    calls per shingle 4x (32 hashes from 8 digests). A 32-bit (8 hex)
    uniform hash is a valid minhash key at any realistic per-doc
    shingle count (collision at the min ~ n/2^32); the min over each
    substring family is exactly replayable in DuckDB. Must divide 32
    hex chars evenly (1, 2 or 4).

    The input is widened first (``catalog.widen_scan``): the
    shingle-explode + per-shingle hashing is the signature build's
    CPU wall and runs BEFORE the doc-keyed shuffle, so a narrow
    (single-row-group-file) scan would serialize it on one core;
    widening is a no-op on already-wide production scans.
    """
    from cubicerp_client_etl_spark.catalog import widen_scan

    sh = (
        widen_scan(df)
        .select(
            F.col(id_col),
            F.explode(
                shingles(
                    text_col,
                    shingle_n,
                    tokens=F.col(tokens_col) if tokens_col else None,
                )
            ).alias("__sh"),
        )
        .distinct()
    )
    if hashes_per_digest > 1:
        if hashes_per_digest not in (2, 4):
            raise ValueError("hashes_per_digest must be 1, 2 or 4")
        width = 32 // hashes_per_digest  # hex chars per carved hash
        n_digests = -(-num_hashes // hashes_per_digest)
        # digests materialize as REAL columns through the projection so
        # each md5 runs once per shingle row, not once per min-agg
        sh = sh.select(
            "*",
            *[
                F.md5(F.concat(F.col("__sh"), F.lit(f"|{g}"))).alias(f"__d{g}")
                for g in range(n_digests)
            ],
        )
        aggs = [
            F.min(
                F.substring(
                    F.col(f"__d{i // hashes_per_digest}"),
                    width * (i % hashes_per_digest) + 1,
                    width,
                )
            ).alias(f"h{i}")
            for i in range(num_hashes)
        ]
    else:
        aggs = [
            F.min(F.md5(F.concat(F.col("__sh"), F.lit(f"|{i}")))).alias(f"h{i}")
            for i in range(num_hashes)
        ]
    return sh.groupBy(id_col).agg(*aggs)


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str,
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """Band the signature and self-join on (band_id, band_hash): documents
    agreeing on any full band become a candidate pair. Returns distinct
    (id_a, id_b) with id_a < id_b.

    The self-join key is (band_id, band_hash) — high cardinality, so the
    shuffle is well-spread; hot buckets (boilerplate docs) are the one
    skew risk: AQE skew-join splitting spreads the work, but a bucket
    holding |occ| near-identical docs still EMITS |occ|² candidate
    pairs downstream regardless of how evenly it's split.

    The band key is ``md5(h_i || '|' || … )`` over the band's string
    minhashes — engine-replayable (two docs collide iff the band's
    minhash tuples are equal).
    """
    rows_per_band = num_hashes // bands
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(
            F.struct(
                F.lit(b).alias("band_id"),
                F.md5(F.concat_ws("|", *cols)).alias("band_hash"),
            )
        )
    # Both self-join sides read the banded frame; checkpoint so the
    # signature aggregate — the expensive upstream shuffle — runs once,
    # not per consumer.
    banded = signatures.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("band")
    ).select(id_col, "band.band_id", "band.band_hash").transform(pin)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
) -> DataFrame:
    """Exact shingle-set Jaccard for given candidate (id_a, id_b) pairs —
    the verify stage after LSH. Set sizes are precomputed per doc; the
    intersection is one join on shingle value restricted to candidates.
    """
    # Three consumers (sizes + both join sides) re-run the explode +
    # distinct without this checkpoint — the shingle build is the
    # dominant per-row CPU cost of the verify stage.
    sh = (
        df.select(F.col(id_col), F.explode(shingles(text_col, shingle_n)).alias("sh"))
        .distinct()
        .transform(pin)
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("set_size"))
    a = sh.withColumnRenamed(id_col, "id_a")
    b = sh.withColumnRenamed(id_col, "id_b")
    # merge-join hints: Catalyst size-estimates the post-explode shingle
    # tables from the (tiny) parquet scan and tries to BROADCAST them —
    # measured OOM at 10× docs (a multi-million-row build side). SMJ is
    # the safe shape at any corpus size; AQE still downgrades to a
    # broadcast when a side is genuinely small at runtime.
    inter = (
        pairs.join(a.hint("merge"), "id_a")
        .join(b.hint("merge"), ["id_b", "sh"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sz_a = sizes.select(F.col(id_col).alias("id_a"), F.col("set_size").alias("size_a"))
    sz_b = sizes.select(F.col(id_col).alias("id_b"), F.col("set_size").alias("size_b"))
    return (
        inter.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter").cast("double")
                / (F.col("size_a") + F.col("size_b") - F.col("n_inter")),
                6,
            ),
        )
        .select("id_a", "id_b", "jaccard")
    )


def _simhash_votes(toks: Column, n_bits: int) -> Column:
    """The single-digest SimHash fold: ``array<long>`` of ``n_bits``
    counters, counter i = how many tokens have hex digit i of
    ``md5(token)`` >= '8' (a uniform Bernoulli(½) vote). One ``md5``
    per token (``transform``), then one ``aggregate`` fold — the
    digests array is materialized as the fold's input, immune to
    CollapseProject re-duplication. Tokens vote with multiplicity.
    Requires ``n_bits <= 32`` (one digest has 32 hex digits)."""
    digs = F.transform(toks, lambda t: F.md5(t))
    zeros = F.array_repeat(F.lit(0).cast("long"), n_bits)
    pos = F.array(*[F.lit(i + 1) for i in range(n_bits)])
    return F.aggregate(
        digs,
        zeros,
        lambda acc, d: F.zip_with(
            acc,
            pos,
            lambda a, p: a
            + F.when(F.substring(d, p, F.lit(1)) >= "8", F.lit(1))
            .otherwise(F.lit(0))
            .cast("long"),
        ),
    )


def simhash_bits_portable(
    text_col: Column | str, n_bits: int = 16, single_digest: bool = False
) -> Column:
    """SimHash fingerprint as an ``n_bits``-char '0'/'1' string: per
    bit, sum ±1 over token votes and keep the sign (bit set iff
    2·ones > n_tokens), in two md5 vote families:

    - default (``single_digest=False``): bit i's vote is the top bit of
      the first hex digit of ``md5(token || '|' || i)`` (char >= '8' ⇔
      set — uniform Bernoulli(½)). ``n_bits`` md5 calls per token.
    - ``single_digest=True`` (the r11 fast family): ONE ``md5(token)``
      per token; bit i's vote is hex digit i of that digest (the
      ``_simhash_votes`` fold, shared with ``simhash_int_portable``).
      A 32-bit fingerprint costs 1/32 of the md5 work of the per-bit
      family — and the wider fingerprint lets chunk blocking use 8-bit
      chunks (256-way buckets) instead of 4-bit (16-way), collapsing
      candidate-pair density ~16x (q050's (birth q204) measured wall
      was the dense pair join, not the hashing). Requires
      ``n_bits <= 32``.

    Tokens vote with multiplicity (no distinct). Exact integer vote
    counting means any engine that computes the same md5 strings
    produces the identical fingerprint — the DuckDB oracle replays
    both families bit-for-bit. Map-only, whole-stage codegen; no
    shuffle, no Python.
    """
    toks = word_tokens(text_col)
    n_toks = F.size(toks).cast("long")

    if single_digest:
        if n_bits > 32:
            raise ValueError("single_digest simhash supports n_bits <= 32")
        bits_arr = F.transform(
            _simhash_votes(toks, n_bits),
            lambda o: F.when(o * 2 > n_toks, F.lit("1")).otherwise(F.lit("0")),
        )
        return F.array_join(bits_arr, "")

    def vote(i: int):
        # factory, not a default arg: PySpark derives HOF arity from the
        # Python signature INCLUDING defaults, so `lambda t, i=i` would
        # be called as (element, index) and shadow the seed
        return lambda t: (
            F.substring(F.md5(F.concat(t, F.lit(f"|{i}"))), 1, 1) >= F.lit("8")
        )

    bits = []
    for i in range(n_bits):
        ones = F.size(F.filter(toks, vote(i))).cast("long")
        bits.append(F.when(ones * 2 > n_toks, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def simhash_int_portable(
    text_col: Column | str, n_bits: int = 32, tokens: Column | None = None
) -> Column:
    """Single-digest SimHash packed into one BIGINT (bit i of the
    fingerprint is bit ``n_bits-1-i`` of the long, i.e. the bits
    string read as a base-2 number).

    Same vote fold as ``simhash_bits_portable(single_digest=True)``
    (``_simhash_votes``: vote i = hex digit i of ``md5(token)`` >= '8')
    — but the output is an integer, so chunk blocking becomes
    shift/mask arithmetic and Hamming distance one ``bit_count(a ^ b)``:
    at q050's (birth q204) measured density (millions of candidate
    pairs) the 32-char string zip_with per pair was the wall;
    xor+popcount is ~free and shuffles 8 bytes instead of 32+ per row.
    DuckDB replays it exactly:
    ``SUM(CASE WHEN 2*o > n THEN 1::BIGINT << (n_bits-1-i) END)`` and
    ``bit_count(xor(a, b))``. Requires ``n_bits <= 32``.

    ``tokens``: optional pre-split ``array<string>`` column holding
    ``functions.word_tokens(text_col)`` (the ``shingles(tokens=...)``
    contract) so multi-family callers tokenize once.
    """
    if n_bits > 32:
        raise ValueError("simhash_int_portable supports n_bits <= 32")
    toks = word_tokens(text_col) if tokens is None else tokens
    n_toks = F.size(toks).cast("long")
    weights = F.array(
        *[F.lit(1 << (n_bits - 1 - i)).cast("long") for i in range(n_bits)]
    )
    return F.aggregate(
        F.zip_with(
            _simhash_votes(toks, n_bits),
            weights,
            lambda o, w: F.when(o * 2 > n_toks, w).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def hamming_distance(bits_a: Column, bits_b: Column) -> Column:
    """Hamming distance between two equal-length '0'/'1' fingerprints."""
    return F.size(
        F.filter(
            F.zip_with(
                F.split(bits_a, ""), F.split(bits_b, ""), lambda x, y: x != y
            ),
            lambda d: d,
        )
    )


def remove_duplicate_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    width: int = 5,
) -> DataFrame:
    """C4-style exact duplicated-span removal (Raffel et al. 2020 §2.2
    removes any three-sentence span occurring more than once in the
    corpus; here the unit is a ``width``-token window): every
    occurrence of a globally-duplicated token ``width``-gram EXCEPT the
    first (smallest ``(doc_id, position)``) has its span's tokens
    deleted from the document.

    Output per input document: ``(id_col, n_tokens, n_removed,
    clean_md5)`` — the md5 of the cleaned re-joined text keeps the
    result value-checkable without shipping full texts.

    Deterministic: the keeper rule is a total order, so the result is
    partition-/retry-independent and engine-portable (oracle replays
    it exactly).

    Scale posture — SKEW-FREE BY CONSTRUCTION (closes the round-2
    documented watch item): the keeper decision needs only "is this
    occurrence the global first?" and "does the shingle repeat?", both
    of which are PARTIAL AGGREGATES — ``count(*)`` and
    ``min(struct(doc_id, pos))`` per shingle — so an ultra-hot
    boilerplate shingle ("all rights reserved …" × 10⁹) map-side
    combines down to one row per input partition instead of piling its
    whole occurrence list onto one window partition (the earlier
    ``row_number`` formulation's failure mode). The join back from
    occurrences to the duplicated-shingle table is keyed on the shingle
    — skewed keys there are split by AQE skew-join handling, which
    applies to joins but never to windows; the table is also
    pre-filtered to ``count > 1`` (duplicated shingles only), typically
    a small fraction of the vocabulary. Then one span-explode + per-doc
    distinct aggregate, one join back keyed on ``id_col``. Everything
    else is map-side Catalyst HOFs; no Python anywhere. Posture pinned
    (no Window over the shingle key) in tests/test_plan_posture.py.
    """
    if width < 1:
        raise ValueError("width must be >= 1")
    base = docs.select(F.col(id_col), space_tokens(text_col).alias("_t"))

    sh = base.select(
        id_col,
        F.posexplode(ngrams(F.col("_t"), width)).alias("_p0", "_v"),
    ).select(id_col, (F.col("_p0") + 1).alias("pos"), "_v")  # 1-based starts

    dup = (
        sh.groupBy("_v")
        .agg(
            F.count("*").alias("_c"),
            F.min(F.struct(F.col(id_col), F.col("pos"))).alias("_first"),
        )
        .filter(F.col("_c") > 1)
    )
    marked = sh.join(dup, "_v").filter(
        ~(
            (F.col(id_col) == F.col("_first")[id_col])
            & (F.col("pos") == F.col("_first")["pos"])
        )
    )

    removed = (
        marked.select(
            id_col,
            F.explode(F.sequence(F.col("pos"), F.col("pos") + (width - 1))).alias(
                "_idx"
            ),
        )
        .groupBy(id_col)
        .agg(F.collect_set("_idx").alias("_rm"))
    )

    joined = base.join(removed, id_col, "left")
    keep_idx = F.filter(
        F.sequence(F.lit(1), F.size("_t")),
        lambda i: ~F.array_contains(F.col("_rm"), i),
    )
    clean = F.when(
        F.col("_rm").isNull(), F.array_join(F.col("_t"), " ")
    ).otherwise(
        F.array_join(F.transform(keep_idx, lambda i: F.get("_t", i - 1)), " ")
    )
    return joined.select(
        id_col,
        F.size("_t").cast("bigint").alias("n_tokens"),
        F.coalesce(F.size("_rm"), F.lit(0)).cast("bigint").alias("n_removed"),
        F.md5(clean).alias("clean_md5"),
    )


def shingle_frequencies(
    docs: DataFrame,
    text_col: str = "text",
    shingle_n: int = 5,
) -> DataFrame:
    """Corpus-wide shingle frequency table ``(shingle, n_docs)`` —
    the observability companion to ``setsim_join``'s ``hot_cap``:
    inspect the tail (``.orderBy(F.desc("n_docs")).limit(50)``) to see
    which boilerplate n-grams dominate and pick a cap.

    One explode + one count aggregate with map-side combine — an
    ultra-hot shingle reduces to one row per input partition before
    the shuffle, so the aggregate itself is skew-immune.
    """
    sh = F.array_distinct(ngrams(space_tokens(text_col), shingle_n))
    return (
        docs.select(F.explode(sh).alias("shingle"))
        .groupBy("shingle")
        .agg(F.count("*").alias("n_docs"))
    )


def _setsim_prefix_tokens(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int,
    num: int,
    den: int,
    hot_cap: int | None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The AllPairs/PPJoin prefix build shared by ``setsim_join`` and
    the near-dup candidate datasheet (q040, birth q292): returns
    ``(base, pref, codes)`` where ``base = (_id, _set, _sz)`` holds
    each document's sorted shingle set over the (possibly hot-capped)
    universe, ``pref = (_id, _sz, _pos, _t, _code)`` is the exploded
    rarest-first prefix tokens (with 1-based rarest-first position and
    the token's integer code — the join key stream whose bucket
    occupancy decides the candidate volume), and ``codes = (_id, _sz,
    _codes)`` carries each doc's full set as an ``array<long>`` of
    codes for the verify intersection.

    Token codes (r16): ``freq`` assigns every distinct shingle an
    int64 via ``monotonically_increasing_id()``. Every ``_code``
    reader takes the codes through the ``ordered`` pin, which joins
    each token to its code once, so every consumer sees one
    consistent assignment (the freq pin alone does not freeze them;
    see the note at the ``freq`` build). The map is injective by
    construction (partition-id ⊕ per-partition counter), so
    ``|A ∩ B|`` over code arrays equals the intersection
    size over the shingle strings EXACTLY — the verify then hashes
    8-byte longs instead of ~20-char strings (measured the dominant
    setsim cost at sf1), and the candidate equi-join keys narrow the
    same way (guide §2.3)."""
    from cubicerp_client_etl_spark.catalog import widen_scan

    toks = space_tokens(text_col)
    # widen: the per-doc shingle build + sorted-set construction is
    # CPU-heavy map work before any shuffle (no-op on wide scans)
    # base feeds the frequency aggregate, the prefix build AND the
    # caller's verify joins (twice, as both pair sides) — checkpoint so
    # the shingle construction runs once, not once per consumer. Same
    # for the (vocab-bounded) frequency table and the rebuilt capped
    # set frame below.
    base = (
        widen_scan(docs).select(
            F.col(id_col).alias("_id"),
            F.array_sort(F.array_distinct(ngrams(toks, shingle_n))).alias("_set"),
        )
        .filter(F.size("_set") > 0)
        .withColumn("_sz", F.size("_set").cast("bigint"))
        .transform(pin)
    )

    # ``_code`` numbers the post-shuffle rows, so a recompute of freq
    # may number them differently. The freq pin does not rule that out:
    # a lazy reliable checkpoint computes freq once for the first job
    # that reads it and again to write the checkpoint files, and later
    # readers see the second numbering. The codes stay consistent only
    # because nothing reads ``_code`` from freq but the ``ordered``
    # aggregate below, which attaches each code to its token; ``pref``
    # and ``codes`` both take their codes through the ``ordered`` pin.
    # (A localCheckpoint keeps the first computation's blocks, so on
    # the local posture the freq pin would freeze the codes too.)
    freq = (
        base.select(F.explode("_set").alias("_t"))
        .groupBy("_t")
        .agg(F.count("*").alias("_f"))
        .withColumn("_code", F.monotonically_increasing_id())
        .transform(pin)
    )
    if hot_cap is not None:
        # rebuild every document's set over the capped universe: sizes,
        # prefixes, and the verify intersection must all agree on what
        # the universe is, or the prefix filter loses its losslessness
        # proof. One extra explode+agg, only on the opt-in path.
        freq = freq.filter(F.col("_f") <= hot_cap)
        base = (
            base.select("_id", F.explode("_set").alias("_t"))
            .join(freq.select("_t"), "_t")
            .groupBy("_id")
            .agg(F.array_sort(F.collect_set("_t")).alias("_set"))
            .withColumn("_sz", F.size("_set").cast("bigint"))
            .transform(pin)
        )
    # per-doc shingles ordered rarest-first; prefix length
    # p = sz - ceil(num*sz/den) + 1  (exact integer ceil-div).
    # ONE keyed aggregate yields both the prefix struct slice and the
    # full code array ((_f,_t) is unique per token, so the struct sort
    # never reaches the _code tiebreak — order identical to the
    # pre-code form); checkpointed because the prefix explode (twice,
    # as both candidate-join sides) and the two verify sides all
    # re-read it.
    ordered = (
        base.select("_id", "_sz", F.explode("_set").alias("_t"))
        .join(freq, "_t")
        .groupBy("_id", "_sz")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("_f", "_t", "_code"))
            ).alias("_os")
        )
        .withColumn(
            "_p",
            F.col("_sz")
            - F.expr(f"({num} * _sz + {den} - 1) div {den}")
            + F.lit(1),
        )
        .select(
            "_id",
            "_sz",
            F.slice("_os", 1, F.col("_p").cast("int")).alias("_prefs"),
            F.transform("_os", lambda s: s["_code"]).alias("_codes"),
        )
        .transform(pin)
    )
    # consumed as BOTH sides of the candidate self-join. ``_pos`` is
    # the token's 1-based position in the doc's rarest-first order
    # (prefix tokens are the first p of that order, so the prefix
    # index IS the set index) — setsim_join's positional filter
    # (PPJoin, Xiao et al. WWW'08) needs it; other consumers ignore it.
    pref = (
        ordered.select("_id", "_sz", F.posexplode("_prefs").alias("_i", "_s"))
        .select(
            "_id",
            "_sz",
            (F.col("_i") + 1).alias("_pos"),
            F.col("_s._t").alias("_t"),
            F.col("_s._code").alias("_code"),
        )
        .transform(pin)
    )
    codes = ordered.select("_id", "_sz", "_codes")
    return base, pref, codes


def setsim_join(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: tuple[int, int] = (1, 2),
    hot_cap: int | None = None,
) -> DataFrame:
    """EXACT Jaccard set-similarity self-join via prefix filtering
    (the PPJoin/AllPairs family, Xiao et al. WWW'08 / Bayardo et al.
    WWW'07) over ``shingle_n``-gram shingle sets — the lossless
    scalable alternative to MinHash: no hash-family false negatives,
    same equi-join shape.

    ``threshold`` is an integer fraction ``(num, den)`` (J >= num/den),
    so every decision is exact integer arithmetic: the verify test is
    ``(den+num)·|∩| >= num·(|a|+|b|)`` and the prefix length is
    ``|s| - ceil(num·|s|/den) + 1`` — bit-identical across engines.

    Prefix principle (lossless): order the shingle universe globally by
    (corpus frequency, shingle) — rarest first; a pair with J >= t must
    share at least one shingle within BOTH sets' prefixes, so the
    candidate join only explodes prefixes (rare shingles ⇒ few
    collisions) instead of whole sets, plus the length filter
    ``den·min >= num·max``. Verification is exact ``array_intersect``.

    Output: ``(id_a, id_b, inter, uni, jaccard_e6)``, id_a < id_b.

    ``hot_cap`` (opt-in, LOSSY): drop shingles appearing in more than
    ``hot_cap`` documents from the shingle universe before any join —
    the standard boilerplate mitigation ("all rights reserved …" in
    10⁹ docs contributes |occ|² candidate pairs through the prefix
    join while carrying ~zero similarity signal). Jaccard is then
    computed over the CAPPED universe — exact and engine-portable for
    that universe (the cap is an integer doc-frequency filter any
    engine replays), but values differ from the uncapped join by
    construction; leave ``hot_cap=None`` when exact full-universe
    Jaccard is required. Documents whose entire set is boilerplate
    drop out (same as empty docs).

    Scale: shingle-frequency aggregate (vocab-sized, map-side
    combine), per-doc sort by a broadcastable frequency table,
    prefix-keyed equi-join (the MinHash-LSH bucket shape — AQE handles
    hot shingles; with ``hot_cap`` the pathological keys never reach
    the join at all), verify joins keyed on doc id. No all-pairs stage
    anywhere.
    """
    num, den = threshold
    if not (0 < num <= den):
        raise ValueError("threshold must be a fraction in (0, 1]")
    if hot_cap is not None and hot_cap < 1:
        raise ValueError("hot_cap must be >= 1")
    base, pref, codes = _setsim_prefix_tokens(
        docs, text_col, id_col, shingle_n, num, den, hot_cap
    )
    a, b = pref.alias("a"), pref.alias("b")
    # POSITIONAL filter (r16 — PPJoin's second pruning rule, Xiao et
    # al. WWW'08): for a shared token at 1-based rarest-first
    # positions (ia, jb), common tokens strictly before it number
    # ≤ min(ia−1, jb−1) and from it onward ≤ 1 + min(|a|−ia, |b|−jb) —
    # both docs sort by the SAME global (freq, token) order, so the
    # index bounds hold exactly, and a true-positive pair satisfies
    # the bound at EVERY shared prefix token (per-occurrence pruning
    # loses nothing). The r15 form verified 31.2M candidate pairs at
    # sf1 to keep 250.6k; this bound prunes before the distinct.
    ia, jb = F.col("a._pos"), F.col("b._pos")
    ubound = (
        F.least(ia - F.lit(1), jb - F.lit(1))
        + F.lit(1)
        + F.least(F.col("a._sz") - ia, F.col("b._sz") - jb)
    )
    # candidate equi-join on the token's int64 CODE, not the shingle
    # string (guide §2.3 — narrower join keys, identical matches by
    # injectivity of the code map)
    cand = (
        a.join(
            b,
            (F.col("a._code") == F.col("b._code"))
            & (F.col("a._id") < F.col("b._id"))
            # length filter: den*min >= num*max
            & (den * F.least("a._sz", "b._sz") >= num * F.greatest("a._sz", "b._sz"))
            # positional filter: the overlap upper bound must clear
            # the verify threshold (same integer inequality form)
            & ((den + num) * ubound >= num * (F.col("a._sz") + F.col("b._sz"))),
        )
        .select(F.col("a._id").alias("_ida"), F.col("b._id").alias("_idb"))
        .distinct()
    )
    # verify over int64 code arrays — |∩| equals the string-set
    # intersection size exactly (injective map); hashing 8-byte longs
    # instead of shingle strings through array_intersect was the
    # dominant setsim cost at sf1. Join strategy stays AQE's choice
    # (a forced shuffle-hash was measured 5x WORSE at sf1: it replaced
    # the runtime broadcast of the doc-bounded set side with a full
    # shuffle of every candidate's attached set).
    sa = codes.select(F.col("_id").alias("_ida"), F.col("_codes").alias("_seta"),
                      F.col("_sz").alias("_sza"))
    sb = codes.select(F.col("_id").alias("_idb"), F.col("_codes").alias("_setb"),
                      F.col("_sz").alias("_szb"))
    verified = (
        cand.join(sa, "_ida")
        .join(sb, "_idb")
        .withColumn(
            "inter", F.size(F.array_intersect("_seta", "_setb")).cast("bigint")
        )
        .withColumn("uni", F.col("_sza") + F.col("_szb") - F.col("inter"))
        .filter((den + num) * F.col("inter") >= num * (F.col("_sza") + F.col("_szb")))
    )
    return verified.select(
        F.col("_ida").alias("id_a"),
        F.col("_idb").alias("id_b"),
        "inter",
        "uni",
        F.expr("1000000 * inter div uni").alias("jaccard_e6"),
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    key: Column,
    window: int = 3,
    prefix_len: int = 4,
    block_cap: int = 10_000,
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo 1995): sort the
    records by a discriminative key and emit each record paired with
    its ``window−1`` successors — the classic alternative to LSH/
    hash-blocking when near-duplicates share a key PREFIX (names,
    addresses, titles) rather than token sets.

    Distributed form: the sort order is sharded by the key's first
    ``prefix_len`` characters (prefix blocks are CONTIGUOUS runs of
    the global sort order, so no within-block pair is lost), the
    sliding window runs inside each block, and the pairs the shard
    boundaries would drop are recovered exactly by pairing each
    block's last ``window−1`` records with the lexicographically NEXT
    block's first ``window−1`` records. Returns ``(id_a, id_b, via)``
    with ``via ∈ {'window','boundary'}``, ``id_a < id_b`` per pair,
    deterministic and engine-portable.

    Scale posture: the within-block window partitions on the prefix
    block, and computing ``row_number`` funnels each block's FULL row
    set through one task BEFORE the cap filter — so ``prefix_len`` is
    the primary scale dial (longer prefix → exponentially more,
    smaller blocks; size it so blocks hold thousands of rows, not
    millions), while ``block_cap`` is the secondary dial that bounds
    CANDIDATE volume when a hot block slips through (the
    ``setsim_join.hot_cap`` recall/cost trade). A key
    whose distribution defeats any prefix length (all records
    identical) needs a different blocking family — that is a data
    property, not a knob.
    The next-block lookup runs on the distinct-block AGGREGATE
    (bounded by construction — prover-checkable), never on raw rows.
    Candidate volume is ≤ n·(window−1) + #blocks·(window−1)², linear
    in the corpus for fixed ``window``.

    Known recall edge (documented, test-pinned): boundary recovery
    pairs ADJACENT blocks only, so when a block holds fewer than
    ``window−1`` rows the global sliding window would also cross into
    the block after next (a block of exactly ``window−2`` rows still
    drops the distance-(window−1) cross-boundary pair) — those chain
    pairs are not emitted. Pick
    ``prefix_len`` so blocks hold ≥ ``window`` rows (coarser prefixes
    = bigger blocks) or run a second pass with a shorter prefix.
    """
    if window < 2:
        raise ValueError("window must be >= 2 (w-1 successors per row)")
    if prefix_len < 1 or block_cap < window:
        raise ValueError("prefix_len >= 1 and block_cap >= window required")
    base = df.select(
        F.col(id_col).alias("_id"),
        key.alias("_k"),
        F.substring(key, 1, prefix_len).alias("_blk"),
    )
    w_blk = W.partitionBy("_blk").orderBy("_k", "_id")
    # Four consumers (the window slide, the block-size aggregate, the
    # boundary tail and head row sets) all read the ranked frame;
    # checkpoint so the scan + block window run once, not per consumer.
    # The slide's lead() columns ride the SAME window pass as the
    # row_number (r16 — one Exchange+Sort of the block frame instead of
    # two): lead(d) over the UNCAPPED order targets the row with rank
    # _rn + d, so guarding the successor with ``_rn + d <= block_cap``
    # reproduces exactly the pairs the old post-filter lead() emitted
    # (capped-out rows never appear as either side).
    lead_cols = [
        F.when(
            F.col("_rn") + d <= block_cap, F.lead("_id", d).over(w_blk)
        ).alias(f"_l{d}")
        for d in range(1, window)
    ]
    rn = (
        base.withColumn("_rn", F.row_number().over(w_blk))
        .select("*", *lead_cols)
        .where(F.col("_rn") <= block_cap)
        .transform(pin)
    )
    # within-block slide — one window pass, LINEAR in block size (a
    # blocked self-join filtered on rn-distance generates O(block²)
    # rows before the filter; with boilerplate-duplicated corpora the
    # blocks grow and that form explodes — measured non-terminating at
    # 10× duplicated docs, caught in round 8)
    within = (
        rn.select(
            F.col("_id").alias("id_a"),
            F.explode(
                F.array(*[F.col(f"_l{d}") for d in range(1, window)])
            ).alias("id_b"),
        )
        .where(F.col("id_b").isNotNull())
        .select("id_a", "id_b", F.lit("window").alias("via"))
    )
    # ordinal of each DISTINCT block (bounded aggregate -> global
    # row_number is prover-bounded), then adjacent-block pairing
    blocks = rn.groupBy("_blk").agg(F.max("_rn").alias("_n"))
    w_ord = W.orderBy("_blk")
    ordd = blocks.withColumn("_ord", F.row_number().over(w_ord))
    nxt = ordd.select(
        (F.col("_ord") - 1).alias("_ord"), F.col("_blk").alias("_blk_next")
    )
    adj = ordd.join(nxt, "_ord").select("_blk", "_blk_next")
    tail_rows = (
        rn.join(adj, "_blk")
        .join(blocks, "_blk")
        .where(F.col("_rn") > F.col("_n") - (window - 1))
        .select(
            F.col("_blk_next").alias("_jblk"),
            F.col("_id").alias("id_a"),
            F.col("_rn").alias("_tail_rn"),
            F.col("_n").alias("_tail_n"),
        )
    )
    head_rows = rn.where(F.col("_rn") <= window - 1).select(
        F.col("_blk").alias("_jblk"),
        F.col("_id").alias("id_b"),
        F.col("_rn").alias("_head_rn"),
    )
    # global sliding window across the boundary: tail row at distance
    # d_a from the block end pairs with head rows within (window-1)-d_a
    boundary = (
        tail_rows.join(head_rows, "_jblk")
        .where(
            F.col("_head_rn")
            <= (window - 1) - (F.col("_tail_n") - F.col("_tail_rn"))
        )
        .select("id_a", "id_b", F.lit("boundary").alias("via"))
    )
    both = within.unionByName(boundary)
    return both.select(
        F.least("id_a", "id_b").alias("id_a"),
        F.greatest("id_a", "id_b").alias("id_b"),
        "via",
    ).distinct()


def hamming_candidates(
    df: DataFrame, id_col: str, band_cols: list[str]
) -> DataFrame:
    """Hamming candidate pairs over banded bit fingerprints
    (aHash/SimHash-style): records that share ANY (band index, band
    value) become a pair, and the pair's exact Hamming distance
    ``Σ bit_count(a_i xor b_i)`` over the bands is computed on
    candidates only.

    Returns ``(id_a, id_b, hamming)`` with ``id_a < id_b``, each pair
    EXACTLY ONCE and UNFILTERED by distance: callers apply their own
    radius, so the candidate count itself stays observable. A radius
    ``r < len(band_cols)`` is COMPLETE (pigeonhole: fewer flipped bits
    than bands leaves one band untouched); beyond that the band join
    is best-effort recall, and callers widen by re-banding rather than
    by all-pairs. A NULL band value joins nothing (and makes the pair's
    ``hamming`` NULL).

    Scale: an equi-join on (band index, value) — candidate volume is
    Σ_buckets |occ|², bounded by how often full bands collide, never
    all-pairs; the verify is integer xor/popcount on candidate rows.
    """
    return _hamming_band_join(df, id_col, band_cols, None)


def _hamming_band_join(
    df: DataFrame, id_col: str, band_cols: list[str], hot_cap: int | None
) -> DataFrame:
    """The one Hamming blocker behind ``hamming_candidates`` and
    ``simhash_chunk_candidates``: explode the bands, self-join on
    (band index, value), emit each pair once and verify it.

    Exactly once: a pair is emitted from the least band it joins on —
    every earlier band must not join it (``(a = b) IS NOT TRUE``, NULL
    counting as no join), a predicate on the carried band values, so
    uniqueness costs no DISTINCT shuffle.

    ``hot_cap`` (opt-in, LOSSY): band buckets whose occupancy exceeds
    the cap are dropped before the self-join, bounding any bucket's
    output at cap² pairs. A pair is kept iff it shares at least one
    NON-hot band, still exactly once: a hot earlier band counts as no
    join there (side a's hot flags decide — equal values share their
    bucket). The hot-bucket table is tiny by construction (≤ bands ·
    docs / cap rows) and broadcasts into a left-anti join plus a
    per-doc hot-flag annotation, so the band frame never shuffles for
    the cap.
    """
    if not band_cols:
        raise ValueError("band_cols must be non-empty")
    n = len(band_cols)
    vals = [f"_v{i}" for i in range(n)]
    bands = (
        df.select(
            F.col(id_col).alias("_id"),
            *[F.col(b).alias(v) for b, v in zip(band_cols, vals)],
        )
        .select("_id", *vals, F.posexplode(F.array(*vals)).alias("band_id", "band"))
        # consumed by both join sides (+ the hot census when capped);
        # upstream is the caller's fingerprint build — run it once
        .transform(pin)
    )

    def side(s: str) -> DataFrame:
        return bands.select(
            F.col("_id").alias(f"id_{s}"),
            *[F.col(v).alias(f"_{s}{i}") for i, v in enumerate(vals)],
            "band_id",
            "band",
        )

    if hot_cap is None:
        a = side("a")
    else:
        hot = (
            bands.groupBy("band_id", "band")
            .agg(F.count(F.lit(1)).alias("_occ"))
            .filter(F.col("_occ") > hot_cap)
            .drop("_occ")
        )
        hot_flags = (
            bands.join(F.broadcast(hot), ["band_id", "band"], "left_semi")
            .groupBy(F.col("_id").alias("id_a"))
            .agg(F.collect_set("band_id").alias("_hot"))
        )
        bands = bands.join(F.broadcast(hot), ["band_id", "band"], "left_anti")
        a = side("a").join(F.broadcast(hot_flags), "id_a", "left")
    # emitted at band c iff no earlier band joins the pair (a hot band
    # joins nothing)
    uniq = F.lit(True)
    for e in range(n - 1):
        no_join = ~F.coalesce(F.col(f"_a{e}") == F.col(f"_b{e}"), F.lit(False))
        if hot_cap is not None:
            no_join = no_join | F.coalesce(F.array_contains("_hot", e), F.lit(False))
        uniq = uniq & ((F.col("band_id") <= e) | no_join)
    hamming = sum(
        F.bit_count(F.col(f"_a{i}").bitwiseXOR(F.col(f"_b{i}"))).cast("bigint")
        for i in range(n)
    )
    return (
        a.join(side("b"), ["band_id", "band"])
        .where(F.col("id_a") < F.col("id_b"))
        .where(uniq)
        .select("id_a", "id_b", hamming.alias("hamming"))
    )


def simhash_chunk_candidates(
    fp: DataFrame,
    id_col: str = "doc_id",
    fp_col: str = "f",
    n_bits: int = 32,
    chunk_bits: int = 8,
    hot_chunk_cap: int | None = None,
) -> DataFrame:
    """Hamming candidate pairs over INTEGER SimHash fingerprints via
    chunk blocking (Manku-Jain-Sarma WWW'07): split the ``n_bits``
    fingerprint into ``n_bits // chunk_bits`` chunks by shift/mask —
    by pigeonhole, any pair within Hamming distance < n_chunks shares
    at least one chunk — and block on them with the one Hamming band
    join (``hamming_candidates``' contract: ``(id_a, id_b, hamming)``,
    ``id_a < id_b``, each pair exactly once, unfiltered by distance —
    the q050 blocking query and the q040 datasheet use it directly).

    ``hamming`` is the sum of the chunks' popcounts, which equals
    ``bit_count(a xor b)`` over the whole fingerprint only when
    ``0 <= f < 2^n_bits`` — what ``simhash_int_portable`` produces. A
    fingerprint outside that range fails the query (``raise_error``)
    rather than yield a silently wrong distance; at ``n_bits=64`` every
    BIGINT is in range.

    ``hot_chunk_cap`` (opt-in, LOSSY — the ``setsim_join.hot_cap``
    pattern): chunk buckets whose occupancy exceeds the cap are dropped
    before the self-join; a pair is kept iff it shares at least one
    NON-hot chunk, still exactly once, so boilerplate mega-clusters
    (every shared chunk hot) vanish instead of emitting |occ|² rows.

    Reference parity: the near-dup family the reference cannot express
    at all (cubicerpetl.py processes dict-rows one RPC at a time).
    """
    if n_bits > 64 or n_bits % chunk_bits != 0:
        raise ValueError("n_bits must be a multiple of chunk_bits, at most 64")
    n_chunks = n_bits // chunk_bits
    if n_chunks < 2:
        raise ValueError("need at least 2 chunks to block on")
    if hot_chunk_cap is not None and hot_chunk_cap < 1:
        raise ValueError("hot_chunk_cap must be >= 1")
    f = F.col(fp_col)
    if n_bits < 64:  # a BIGINT holds any 64-bit fingerprint
        f = F.when(
            F.shiftright(f, n_bits) != 0,
            F.raise_error(
                F.concat(
                    F.lit(f"simhash_chunk_candidates: {fp_col} outside [0, 2^{n_bits}): "),
                    f.cast("string"),
                )
            ),
        ).otherwise(f)
    chunks = fp.select(F.col(id_col), f.alias("_f")).select(
        id_col,
        *[
            F.shiftright("_f", chunk_bits * (n_chunks - 1 - c))
            .bitwiseAND(F.lit((1 << chunk_bits) - 1))
            .alias(f"_chunk{c}")
            for c in range(n_chunks)
        ],
    )
    return _hamming_band_join(
        chunks, id_col, [f"_chunk{c}" for c in range(n_chunks)], hot_chunk_cap
    )
