"""Portable sketches: count-min, linear counting, Bloom filter and
HyperLogLog, all over one deterministic md5 hash family.

The CMS answers "how often does token X appear?" over a corpus too
large to hold exact per-token counts: a depth×width counter grid where
each of ``depth`` hash rows increments one of ``width`` buckets per
occurrence; the estimate is the MIN over rows of the probed buckets —
always >= the true count, overshooting only on collisions
(Cormode & Muthukrishnan 2005).

Spark shape: the sketch IS a (row, bucket, count) DataFrame of at most
depth×width rows — built by one groupBy (map-side combinable partial
counts; the shuffle moves bounded partials, never tokens), probed by a
broadcast join. Counts are additive, so sketches of corpus shards (or
stream micro-batches) merge by a further groupBy-sum — the property
that makes CMS the standard streaming/heavy-hitter sketch.

Hash family: every sketch hashes with ``functions.md5_hash32`` (the
first 8 hex chars of an md5 digest as an integer) over the key and a
per-sketch salt — e.g. CMS bucket = md5_hash32(token|cms<seed>|<row>)
mod width — the repo's portable-hash technique (operators/sampling.py),
so DuckDB replays each sketch EXACTLY: unlike sketch libraries with
opaque native hashing, every bucket, register and estimate is
oracle-checkable cross-engine. The HLL bucket/rank projection lives in
one helper (``_hll_bucket_rho``) shared with the streaming registers.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def cms_bucket(token: Column, row: Column, width: int, seed: str) -> Column:
    """Deterministic bucket in [0, width) for a token under hash row
    ``row`` — md5-derived, identical in any engine that computes md5."""
    from cubicerp_client_etl_spark.functions import md5_hash32

    return (
        md5_hash32(F.concat(token, F.lit(f"|cms{seed}|"), row.cast("string")))
        % width
    )


def cms_build(
    tokens: DataFrame,
    token_col: str = "token",
    depth: int = 4,
    width: int = 1024,
    seed: str = "1",
) -> DataFrame:
    """Build the sketch over a token column (one input row = one
    occurrence). Returns ``(rw int, bucket bigint, c bigint)`` with at
    most depth×width rows. One bounded shuffle; no Python."""
    if depth < 1 or width < 1:
        raise ValueError("depth and width must be >= 1")
    expanded = tokens.withColumn(
        "rw", F.explode(F.array(*[F.lit(i) for i in range(depth)]))
    )
    return (
        expanded.select(
            "rw",
            cms_bucket(F.col(token_col), F.col("rw"), width, seed).alias("bucket"),
        )
        .groupBy("rw", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def cms_estimate(
    cms: DataFrame,
    probes: DataFrame,
    token_col: str = "token",
    depth: int = 4,
    width: int = 1024,
    seed: str = "1",
) -> DataFrame:
    """Point-frequency estimates for each probe token: the min over the
    ``depth`` hash rows of the probed bucket counts (0 when a bucket is
    empty — only possible for tokens the corpus never hashed there).
    Probes and the sketch are both bounded → broadcast joins only."""
    expanded = probes.withColumn(
        "rw", F.explode(F.array(*[F.lit(i) for i in range(depth)]))
    ).withColumn(
        "bucket", cms_bucket(F.col(token_col), F.col("rw"), width, seed)
    )
    joined = expanded.join(F.broadcast(cms), on=["rw", "bucket"], how="left")
    return joined.groupBy(token_col).agg(
        F.min(F.coalesce(F.col("c"), F.lit(0))).cast("bigint").alias("est_count")
    )


def occupancy_sketch(
    tokens: DataFrame,
    token_col: str = "token",
    m: int = 1024,
    seed: str = "1",
) -> DataFrame:
    """Linear-counting distinct sketch (Whang et al. 1990): hash every
    value into ``m`` buckets and count how many buckets are OCCUPIED —
    one bigint per corpus, mergeable by OR (union the occupied-bucket
    sets). The distinct estimate is ``-m·ln(1 - occupied/m)``; this
    operator returns the occupied count and leaves the (float) estimate
    to the caller, because the occupancy itself is an exact integer any
    engine reproduces — the oracle-checkable core, unlike opaque HLL
    registers (q077's sketch is rows-only for exactly that reason).

    Plan: map-side bucket projection → distinct over at most ``m``
    values → count. The distinct's shuffle carries at most ``m`` rows
    per partition after partial dedup — bounded state at any scale.
    """
    if m < 1:
        raise ValueError("m must be >= 1")
    from cubicerp_client_etl_spark.functions import md5_hash32

    bucket = (
        md5_hash32(F.concat(F.col(token_col), F.lit(f"|occ{seed}"))) % m
    ).alias("bucket")
    return tokens.select(bucket).distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("occupied")
    )


# ---- Bloom filter (portable hash family) ----------------------------------


def bloom_position(key: Column, row: int, m: int, seed: str = "") -> Column:
    """Deterministic cell in [0, m) for hash row ``row`` — md5-derived
    (functions.md5_hash32), identical in any engine that computes md5;
    the DuckDB oracle replays every position bit-for-bit."""
    from cubicerp_client_etl_spark.functions import md5_hash32

    return (
        md5_hash32(F.concat(key.cast("string"), F.lit(f"|bloom{seed}|{row}"))) % m
    )


def bloom_build(
    df: DataFrame, key_col: str, m: int, k: int, seed: str = ""
) -> DataFrame:
    """Build a Bloom filter over ``df[key_col]`` as a DataFrame of the
    DISTINCT occupied positions — one int column ``pos``, at most
    ``min(m, n·k)`` rows.

    The positions-table representation (rather than a packed bitset) is
    deliberate: it is mergeable by plain union+distinct, broadcastable
    (m is sized to the EVAL/reference set, not the corpus — 2^20 cells
    is 8 MB of ints), and exactly engine-portable, unlike opaque native
    bloom_filter_agg bytes. Pack it into a bitset at the edge if a
    byte-budget demands it; the semantics here are the checkable core.

    Standard sizing: FP rate ≈ (1 − e^(−k·n/m))^k; m ≈ 10·n cells with
    k = 3 gives ~1.7% — and Bloom errs only toward OVER-flagging, the
    safe direction for decontamination (no false negatives, ever).
    """
    if m < 1 or k < 1:
        raise ValueError("m and k must be >= 1")
    key = F.col(key_col)
    pos = F.array(*[bloom_position(key, i, m, seed) for i in range(k)])
    return df.select(F.explode(pos).alias("pos")).distinct()


def bloom_maybe_members(
    df: DataFrame,
    key_col: str,
    positions: DataFrame,
    m: int,
    k: int,
    seed: str = "",
) -> DataFrame:
    """DISTINCT keys of ``df`` whose ``k`` positions are ALL occupied in
    ``positions`` (the ``bloom_build`` output) — Bloom "maybe a member":
    every true member is returned (no false negatives); a non-member
    slips through with probability ≈ the filter's FP rate.

    Plan: dedup keys first (vocab-sized under Zipf, not corpus-sized),
    posexplode the k hash rows, ONE broadcast join against the bounded
    positions table, and a keyed count — the probed corpus never
    shuffles its raw rows. A key whose hash rows collide on one cell
    still needs only that cell occupied (count of DISTINCT matched hash
    rows == k).
    """
    if m < 1 or k < 1:
        raise ValueError("m and k must be >= 1")
    key = F.col(key_col)
    probe = df.select(key).distinct().select(
        key,
        F.posexplode(
            F.array(*[bloom_position(key, i, m, seed) for i in range(k)])
        ).alias("_i", "_pos"),
    )
    hits = (
        probe.join(
            F.broadcast(positions.withColumnRenamed("pos", "_bp")),
            F.col("_pos") == F.col("_bp"),
        )
        .groupBy(key_col)
        .agg(F.count_distinct("_i").alias("_nh"))
    )
    return hits.where(F.col("_nh") == F.lit(k)).select(key_col)


# Past this m, the array<boolean> literal stops being a "small
# constant in the plan" (tens of MB serialized per task binary, and
# Catalyst re-serializes it into every stage that references it):
# plan-size blowup, not memory exhaustion, is the failure mode.
BLOOM_BITSET_MAX_M = 1 << 23  # 8M bits ≈ 1 MB of payload


def bloom_bitset(positions: DataFrame, m: int) -> list[bool]:
    """Materialize a ``bloom_build`` positions table as an m-element
    boolean bitset on the driver — bounded O(m) regardless of corpus
    size (the centroids-as-literals pattern, q013). Embedded as ONE
    ``array<boolean>`` literal, a probe is an O(1) ``element_at`` —
    the stateless map-side form a streaming gate needs (no join, no
    state store), under the SAME portable md5 family as the batch
    filter, so stream and batch flag identical keys.

    Guarded at ``BLOOM_BITSET_MAX_M`` (8M bits): a plan literal is the
    right vehicle for a filter-sized bitset, not a corpus-sized one.
    For bigger filters use ``bloom_maybe_members`` — the broadcast
    positions-table join — which carries the same no-false-negative
    contract without embedding the filter in the query plan."""
    if m < 1:
        raise ValueError("m must be >= 1")
    if m > BLOOM_BITSET_MAX_M:
        raise ValueError(
            f"bloom_bitset m={m} exceeds BLOOM_BITSET_MAX_M="
            f"{BLOOM_BITSET_MAX_M}: an array literal this large bloats "
            "every plan that references it; use the broadcast "
            "positions-table join (bloom_maybe_members) instead"
        )
    bits = [False] * m
    for r in positions.collect():
        bits[int(r.pos)] = True
    return bits


def bloom_bitset_maybe_member(
    key: Column, bits: list[bool], k: int, seed: str = ""
) -> Column:
    """Map-side Bloom probe of one key against a ``bloom_bitset``
    literal: true iff all ``k`` md5 positions are occupied. Pure
    Catalyst (k O(1) array probes per key), usable inside HOF lambdas
    over shingle arrays and on streams."""
    if k < 1:
        raise ValueError("k must be >= 1")
    m = len(bits)
    lit = F.lit(bits)
    probe = None
    for i in range(k):
        hit = F.element_at(lit, (bloom_position(key, i, m, seed) + 1).cast("int"))
        probe = hit if probe is None else probe & hit
    return probe


# ---- HyperLogLog (portable, exact-integer estimate) -----------------------

HLL_P = 6  # 2^6 = 64 registers
HLL_M = 1 << HLL_P
_HLL_RBITS = 32 - HLL_P  # low bits feeding the rank (rho)
_HLL_RMAX = _HLL_RBITS + 1  # rho when the low bits are all zero
# Flajolet et al. 2007 bias constant for m = 64 (alpha_64 = 0.709
# exactly, by the paper's table), scaled e6 so the estimate is integer
HLL_ALPHA_E6 = 709_000


def _hll_bucket_rho(
    df: DataFrame, key_col: str, seed: str, keep: tuple[str, ...] = ()
) -> DataFrame:
    """Project each row of ``df`` onto its HLL register update
    ``(*keep, bucket int, _rho int)``: with ``h = md5_hash32(key ||
    '|hll<seed>')``, bucket = the top ``HLL_P`` bits of h and rho = the
    leading-zero rank of the remaining ``_HLL_RBITS`` bits (``_HLL_RMAX``
    when they are all zero). The one projection behind the batch,
    keyed and streaming register builds."""
    from cubicerp_client_etl_spark.functions import md5_hash32

    h = md5_hash32(
        F.concat(F.col(key_col).cast("string"), F.lit(f"|hll{seed}"))
    )
    b = df.select(*keep, h.alias("_h")).select(
        *keep,
        F.expr(f"_h div {1 << _HLL_RBITS}").cast("int").alias("bucket"),
        F.expr(f"_h % {1 << _HLL_RBITS}").alias("_r"),
    )
    return b.select(
        *keep,
        "bucket",
        F.when(F.col("_r") == 0, F.lit(_HLL_RMAX))
        .otherwise(
            F.lit(_HLL_RMAX)
            - F.length(F.conv(F.col("_r").cast("string"), 10, 2))
        )
        .cast("int")
        .alias("_rho"),
    )


def hll_registers(df: DataFrame, key_col: str, seed: str = "1") -> DataFrame:
    """HyperLogLog register table over ``df[key_col]`` — ALL ``HLL_M``
    rows ``(bucket int, m_rho int)``, absent buckets as 0 (Flajolet,
    Fusy, Gandouet, Meunier 2007).

    Unlike opaque native HLL bytes (q077's approx_count_distinct is
    rows-only for that reason), this register table is the repo's
    portable-hash form: bucket = top ``HLL_P`` bits of md5_hash32,
    rho = leading-zero rank of the remaining bits — every register is
    an exact integer DuckDB recomputes bit-for-bit, and registers
    merge across shards/streams by a further max (the HLL merge law).

    Plan: one map-side projection + a 64-group max (map-side partial) —
    the shuffle carries at most m rows per partition at any scale.
    """
    rho = _hll_bucket_rho(df, key_col, seed)
    maxed = rho.groupBy("bucket").agg(F.max("_rho").alias("_mr"))
    allb = df.sparkSession.range(HLL_M).select(F.col("id").cast("int").alias("bucket"))
    return (
        allb.join(F.broadcast(maxed), "bucket", "left")
        .select("bucket", F.coalesce(F.col("_mr"), F.lit(0)).cast("int").alias("m_rho"))
    )


def hll_estimate(registers: DataFrame) -> DataFrame:
    """Collapse an ``hll_registers`` table to one row
    ``(m, v_zero, denom, hll_est)`` — the raw HLL estimate in EXACT
    integer arithmetic: the harmonic-mean denominator Σ 2^(-M[j]) is
    kept as the integer Σ 2^(RMAX - M[j]) (common denominator 2^RMAX),
    so ``hll_est = (alpha_e6 · m² · 2^RMAX) // (denom · 10^6)`` is one
    exact integer division — no floats anywhere, bit-replayable in any
    engine. ``v_zero`` (empty registers) is reported so callers can
    apply the small-range linear-counting correction (the float-free
    occupancy form lives in ``occupancy_sketch``).
    """
    return _hll_estimate(registers)


def hll_registers_by(
    df: DataFrame, group_col: str, key_col: str, seed: str = "1"
) -> DataFrame:
    """Per-group HyperLogLog register tables — ``hll_registers`` keyed
    by ``group_col``: ALL ``HLL_M`` rows per group ``(group, bucket,
    m_rho)``, absent buckets as 0. The distinct-per-domain production
    shape (uniques per source/day/experiment) at fixed memory per
    group — m register rows regardless of the group's cardinality —
    with the same portable md5 family as the global form, so registers
    still merge across shards/streams by max and every value
    oracle-replays. The register spine is (distinct groups × HLL_M),
    built by a cross join against the 64-row bucket range — bounded by
    group count, never by data."""
    rho = _hll_bucket_rho(df, key_col, seed, keep=(group_col,))
    maxed = rho.groupBy(group_col, "bucket").agg(F.max("_rho").alias("_mr"))
    groups = df.select(group_col).distinct()
    spine = groups.crossJoin(
        F.broadcast(
            df.sparkSession.range(HLL_M).select(
                F.col("id").cast("int").alias("bucket")
            )
        )
    )
    joined = spine.join(
        maxed.withColumnRenamed(group_col, "_g"),
        (F.col(group_col).eqNullSafe(F.col("_g")))
        & (spine["bucket"] == maxed["bucket"]),
        "left",
    )
    return joined.select(
        spine[group_col],
        spine["bucket"],
        F.coalesce(F.col("_mr"), F.lit(0)).cast("int").alias("m_rho"),
    )


def hll_estimate_by(registers: DataFrame, group_col: str) -> DataFrame:
    """Collapse ``hll_registers_by`` tables to one row per group
    ``(group, m, v_zero, denom, hll_est)`` — the same exact-integer
    harmonic-mean estimate as the global ``hll_estimate``, keyed."""
    return _hll_estimate(registers, group_col)


def _hll_estimate(registers: DataFrame, *keys: str) -> DataFrame:
    """The one HLL estimate aggregate, grouped by ``keys`` (none = one
    global row): ``hll_estimate`` and ``hll_estimate_by`` share it."""
    num = HLL_ALPHA_E6 * HLL_M * HLL_M * (1 << _HLL_RMAX)
    return (
        registers.groupBy(*keys)
        .agg(
            F.lit(HLL_M).cast("bigint").alias("m"),
            F.sum(F.when(F.col("m_rho") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("v_zero"),
            F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {_HLL_RMAX} - m_rho)"))
            .cast("bigint")
            .alias("denom"),
        )
        .select(
            *keys,
            "m",
            "v_zero",
            "denom",
            F.expr(f"CAST({num} AS BIGINT) div (denom * 1000000)")
            .cast("bigint")
            .alias("hll_est"),
        )
    )


def hll_set_algebra(
    df_a: DataFrame,
    key_a: str,
    df_b: DataFrame,
    key_b: str,
    seed: str = "1",
) -> DataFrame:
    """HLL set algebra over two key columns: estimate |A|, |B|,
    |A∪B| (register max-merge — the HLL merge law) and |A∩B| by
    inclusion–exclusion — the join-cardinality / key-overlap probe a
    planner or data-quality audit runs BEFORE paying for the join
    (does this fact's FK actually hit that dimension? how many new
    users does tomorrow's shard add?).

    Returns one row ``(m, est_a, est_b, est_union, est_inter_raw,
    est_inter)`` — ``est_inter_raw`` keeps the raw inclusion–exclusion
    value (negative when sketch error exceeds the true overlap, the
    known HLL-intersection caveat); ``est_inter`` clamps at 0. Exact
    integer arithmetic end-to-end (same register/estimate form as
    ``hll_registers``/``hll_estimate``), so every value replays in a
    DuckDB oracle.

    Scale: each side is one map projection + m-group max (map-side
    partial); everything after runs on m-row register tables —
    constant memory however large the inputs.
    """
    ra = hll_registers(df_a, key_a, seed=seed)
    rb = hll_registers(df_b, key_b, seed=seed)
    merged = (
        ra.select("bucket", F.col("m_rho").alias("_ra"))
        .join(rb.select("bucket", F.col("m_rho").alias("_rb")), "bucket")
        .select("bucket", F.greatest("_ra", "_rb").alias("m_rho"))
    )
    ea = hll_estimate(ra).select(
        F.col("m"), F.col("hll_est").alias("est_a")
    )
    eb = hll_estimate(rb).select(F.col("hll_est").alias("est_b"))
    eu = hll_estimate(merged).select(F.col("hll_est").alias("est_union"))
    out = ea.join(F.broadcast(eb)).join(F.broadcast(eu))
    raw = F.col("est_a") + F.col("est_b") - F.col("est_union")
    return out.select(
        "m",
        "est_a",
        "est_b",
        "est_union",
        raw.cast("bigint").alias("est_inter_raw"),
        F.greatest(raw, F.lit(0)).cast("bigint").alias("est_inter"),
    )
