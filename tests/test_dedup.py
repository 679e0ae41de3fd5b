"""L-dedup unit tests: pinned SimHash fingerprints (hash-family
stability), Hamming-distance properties, and MinHash-LSH recall against
exact n-gram Jaccard — the oracle-less operators' promised unit-level
evidence (their registry entries are rows-only by design). Every sketch
runs the one md5 hash family the DuckDB oracle replays; the tests pin
that family and check its two SimHash packings and its two MinHash
digest carvings against each other."""

from __future__ import annotations

import re

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from cubicerp_client_etl_spark.catalog import load
from cubicerp_client_etl_spark.functions import ngrams, space_tokens
from cubicerp_client_etl_spark.operators.dedup import (
    hamming_distance,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    shingles,
    simhash_int_portable,
)
from tests.conftest import SF_SMOKE

# Pinned against the single-digest md5 SimHash (vote i = hex digit i
# of md5(token) >= '8', 32 bits, sign of 2*ones-n, packed big-endian
# into a BIGINT). Any change to the fold (bit order, digest, tie rule)
# must show up here, loudly.
PINNED = {
    "the quick brown fox": 0x61724228,
    "pack my box with five dozen liquor jugs": 0x0B82AC95,
}


def test_simhash_pinned_fingerprints(spark):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(PINNED)], "id long, text string"
    )
    got = {
        r.text: r.s
        for r in df.select(
            "text", simhash_int_portable("text", 32).alias("s")
        ).collect()
    }
    assert got == PINNED


def test_hamming_distance_metric_properties(spark):
    df = spark.createDataFrame(
        [("0011", "0011", 0), ("0011", "1100", 4), ("0011", "0111", 1)],
        "a string, b string, want int",
    )
    rows = df.select(
        hamming_distance(F.col("a"), F.col("b")).alias("ab"),
        hamming_distance(F.col("b"), F.col("a")).alias("ba"),
        "want",
    ).collect()
    for r in rows:
        assert r.ab == r.want and r.ba == r.want  # value + symmetry


def test_minhash_lsh_recall_vs_exact_jaccard(spark):
    """Candidate generation must recover (almost) every truly-similar
    pair: corpus = fixture docs + verbatim copies under shifted ids, so
    exact Jaccard-1.0 pairs are known. 32 hashes / 8 bands ⇒ a J=1.0
    pair agrees on every band; recall on the copies must be 100%."""
    docs = (
        load(spark, SF_SMOKE, "documents").select("doc_id", "text").limit(60)
    )
    dupped = docs.unionByName(
        docs.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    )
    sigs = minhash_signatures(dupped, "doc_id", "text", num_hashes=32)
    cands = lsh_candidate_pairs(sigs, "doc_id", num_hashes=32, bands=8)
    verified = jaccard_pairs(dupped, cands, "doc_id", "text")

    # every original↔copy pair must be a candidate AND verify at J=1.0
    found = {
        (r.id_a, r.id_b)
        for r in verified.filter(F.col("jaccard") >= 0.999).collect()
    }
    expected = {
        (r.doc_id, r.doc_id + 1_000_000) for r in docs.select("doc_id").collect()
    }
    missing = expected - found
    assert not missing, f"LSH missed exact-duplicate pairs: {sorted(missing)[:5]}"


def test_lsh_hot_band_cap_bounds_boilerplate_blowup(spark):
    """VERDICT r5 #4 adversarial fixture: 10⁴ byte-identical documents
    put 10⁴ ids in every band bucket — uncapped LSH emits ~5·10⁷
    candidate pairs (|occ|²/2, the scale-killer AQE splitting cannot
    shrink). With hot_band_cap every boilerplate bucket is dropped
    before the self-join: candidates from the mega-cluster are ZERO
    (sub-linear, not just sub-quadratic) while a normal duplicate pair
    that shares no hot bucket is still found."""
    boiler = spark.range(10_000).select(
        F.col("id").alias("doc_id"),
        F.lit("all rights reserved do not redistribute this file").alias("text"),
    )
    # one ordinary near-dup pair with distinct shingles
    pair = spark.createDataFrame(
        [
            (20_001, "the quick brown fox jumps over the lazy dog tonight"),
            (20_002, "the quick brown fox jumps over the lazy dog tonight"),
        ],
        "doc_id long, text string",
    )
    docs = boiler.unionByName(pair)
    sigs = minhash_signatures(docs, "doc_id", "text", num_hashes=32)
    cands = lsh_candidate_pairs(
        sigs, "doc_id", num_hashes=32, bands=8, hot_band_cap=50
    )
    got = cands.collect()
    # the 10⁴-doc cluster contributes nothing; the ordinary pair survives
    assert (20_001, 20_002) in {(r.id_a, r.id_b) for r in got}
    assert len(got) == 1, f"expected only the ordinary pair, got {len(got)}"
    import pytest

    with pytest.raises(ValueError):
        lsh_candidate_pairs(sigs, "doc_id", hot_band_cap=0)


# ---- duplicated-span removal (C4-style, q132) -----------------------------


def test_span_dedup_removes_later_occurrence_only(spark):
    from cubicerp_client_etl_spark.operators.dedup import remove_duplicate_spans

    # doc 2 repeats doc 1's 5-token opening; doc 1 (first occurrence) is
    # untouched, doc 2 loses exactly those 5 tokens
    df = spark.createDataFrame(
        [
            (1, "a b c d e x y"),
            (2, "a b c d e p q"),
            (3, "totally unrelated words live here now ok"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r.asDict() for r in remove_duplicate_spans(df, width=5).collect()}
    assert out[1]["n_removed"] == 0
    assert out[2]["n_removed"] == 5
    assert out[3]["n_removed"] == 0
    import hashlib

    assert out[2]["clean_md5"] == hashlib.md5(b"p q").hexdigest()
    assert out[1]["clean_md5"] == hashlib.md5(b"a b c d e x y").hexdigest()


def test_span_dedup_within_doc_repeat(spark):
    from cubicerp_client_etl_spark.operators.dedup import remove_duplicate_spans

    # the same 5-gram twice INSIDE one doc: second span removed
    txt = "a b c d e z a b c d e"
    df = spark.createDataFrame([(1, txt)], "doc_id long, text string")
    r = remove_duplicate_spans(df, width=5).collect()[0]
    assert r["n_tokens"] == 11 and r["n_removed"] == 5
    import hashlib

    assert r["clean_md5"] == hashlib.md5(b"a b c d e z").hexdigest()


def test_span_dedup_full_removal_yields_empty_md5(spark):
    from cubicerp_client_etl_spark.operators.dedup import remove_duplicate_spans

    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r.asDict() for r in remove_duplicate_spans(df, width=5).collect()}
    import hashlib

    assert out[2]["n_removed"] == 5
    assert out[2]["clean_md5"] == hashlib.md5(b"").hexdigest()


def test_span_dedup_partition_independent(spark):
    from cubicerp_client_etl_spark.operators.dedup import remove_duplicate_spans

    rows = [(i, " ".join(f"w{(i * j) % 9}" for j in range(12))) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted(map(tuple, remove_duplicate_spans(df).collect()))
    b = sorted(map(tuple, remove_duplicate_spans(df.repartition(7)).collect()))
    assert a == b


# ---- prefix-filtered set-similarity join (q134) ---------------------------


def test_setsim_join_matches_bruteforce(spark):
    """Losslessness of the prefix filter: the operator's result must
    equal brute-force exact Jaccard over all pairs on randomized-ish
    docs (deterministic seed pattern)."""
    from cubicerp_client_etl_spark.operators.dedup import setsim_join

    rows = []
    for i in range(60):
        base = [f"w{(i * 7 + j * (1 + i % 5)) % 37}" for j in range(15)]
        rows.append((i, " ".join(base)))
        if i % 10 == 0:  # planted near-dup: one token changed
            rows.append((1000 + i, " ".join(base[:-1] + ["zz"])))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): (r["inter"], r["uni"])
        for r in setsim_join(df, shingle_n=3, threshold=(1, 2)).collect()
    }

    # brute force in python
    def sh(t):
        tk = t.split(" ")
        return {" ".join(tk[i : i + 3]) for i in range(len(tk) - 2)}

    sets = {i: sh(t) for i, t in rows if len(t.split(" ")) >= 3}
    want = {}
    ids = sorted(sets)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            c = len(sets[a] & sets[b])
            u = len(sets[a] | sets[b])
            if 2 * c >= u:
                want[(a, b)] = (c, u)
    assert got == want and len(want) >= 6  # the planted near-dups found


def test_setsim_join_threshold_validation(spark):
    from cubicerp_client_etl_spark.operators.dedup import setsim_join

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        setsim_join(df, threshold=(3, 2))


def test_span_dedup_hot_shingle_exact(spark):
    """Skew posture (VERDICT r2 #5): an ULTRA-HOT shingle — the same
    5-gram in every document — must still dedup exactly: only the
    global-first occurrence survives. The aggregate formulation
    (count + min(struct)) handles this without a single-partition
    occurrence list; semantics are pinned here, the plan shape in
    test_plan_posture.py."""
    import hashlib

    from cubicerp_client_etl_spark.operators.dedup import remove_duplicate_spans

    hot = "all rights reserved copyright notice"
    rows = [(i, f"{hot} unique{i} tail{i}") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r.asDict() for r in remove_duplicate_spans(df, width=5).collect()}
    assert out[0]["n_removed"] == 0  # global first keeps the span
    assert out[0]["clean_md5"] == hashlib.md5(
        f"{hot} unique0 tail0".encode()
    ).hexdigest()
    for i in range(1, 200):
        assert out[i]["n_removed"] == 5
        assert out[i]["clean_md5"] == hashlib.md5(
            f"unique{i} tail{i}".encode()
        ).hexdigest()


def test_setsim_hot_cap_drops_boilerplate(spark):
    """hot_cap semantics: two docs similar ONLY through a boilerplate
    shingle shared corpus-wide stop pairing once the cap removes it;
    genuinely similar docs still pair, with Jaccard over the capped
    universe."""
    from cubicerp_client_etl_spark.operators.dedup import setsim_join

    boiler = "x y z"  # 3-token => one 3-gram shingle, in EVERY doc
    rows = [(i, f"{boiler} u{i} v{i} w{i}") for i in range(30)]
    # 100 & 101: real near-dups beyond the boilerplate
    rows += [(100, f"{boiler} p q r s"), (101, f"{boiler} p q r t")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    capped = setsim_join(df, shingle_n=3, threshold=(1, 3), hot_cap=5).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in capped}
    # the boilerplate shingle (in all 32 docs > cap) pairs nothing on
    # its own; only the genuine near-dup survives
    assert pairs == {(100, 101)}

    # Jaccard is over the capped universe: 100/101 share 4 of 6 shingles
    # uncapped (incl. boilerplate) but 3 of 5 capped
    uncapped = {
        (r["id_a"], r["id_b"]): r["jaccard_e6"]
        for r in setsim_join(df, shingle_n=3, threshold=(1, 3)).collect()
    }
    cappedj = {(r["id_a"], r["id_b"]): r["jaccard_e6"] for r in capped}
    assert uncapped[(100, 101)] == 666666 and cappedj[(100, 101)] == 600000


def test_shingle_frequencies_counts_docs(spark):
    from cubicerp_client_etl_spark.operators.dedup import shingle_frequencies

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "a b d")], "doc_id long, text string"
    )
    got = {r["shingle"]: r["n_docs"] for r in shingle_frequencies(df, shingle_n=3).collect()}
    assert got["a b c"] == 2 and got["a b d"] == 1


# ---- exact-Jaccard ground truth with the df_cap hot-shingle guard ---------


_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")  # Java's \s, as Spark's split sees it


def _py_shingles(
    text: str | None,
    n: int = 3,
    *,
    tokens: list[str | None] | None = None,
    whole_short: bool = True,
) -> list[str]:
    """Pure-Python shingler, in document order. Tokens are ``tokens`` or
    the ``functions.word_tokens`` law (Spark ``trim`` strips spaces
    only). A document shorter than ``n`` is one shingle, its non-NULL
    tokens space-joined, under ``whole_short`` (``dedup.shingles``), and
    no shingle otherwise (``functions.ngrams``).

    An n-gram is a left fold of ``concat_ws(" ", acc, token)``, as the
    ``zip_with`` chain builds it: a NULL token is skipped, but once the
    first pair has rendered (as "" if both were NULL) the accumulator is
    a string, so ``[NULL, NULL, "c"]`` gives " c"."""
    toks = _JAVA_WS.split(text.strip(" ").lower()) if tokens is None else tokens

    def concat_ws(*parts):
        return " ".join(p for p in parts if p is not None)

    def fold(ts):
        acc = ts[0]
        for t in ts[1:]:
            acc = concat_ws(acc, t)
        return concat_ws(acc)  # n = 1: the lone token renders too

    if len(toks) < n:
        return [concat_ws(*toks)] if whole_short else []
    return [fold(toks[i : i + n]) for i in range(len(toks) - n + 1)]


def test_exact_jaccard_truth_df_cap_bounds_hot_shingle(spark):
    """VERDICT r6 "what's wrong" #1 adversarial fixture: 300 docs all
    opening with the same boilerplate 3-gram put 300 ids behind one
    shingle — the uncapped exact-truth join emits C(300,2)=44850 pair
    rows from that shingle alone before any threshold can prune them.
    With df_cap the hot shingle is dropped from the universe (sizes AND
    intersections), so the otherwise-distinct boilerplate docs share
    nothing: at threshold_e6=1 ("any overlap") the capped truth is
    exactly the planted pair, while the uncapped truth is the quadratic
    mass."""
    from cubicerp_client_etl_spark.operators.dedup import exact_jaccard_truth

    boiler = [
        (i, f"all rights reserved u{i}a u{i}b u{i}c u{i}d") for i in range(300)
    ]
    planted = [
        (1001, "zeta eta theta iota kappa lambda"),
        (1002, "zeta eta theta iota kappa lambda"),
    ]
    docs = spark.createDataFrame(boiler + planted, "doc_id long, text string")

    capped = exact_jaccard_truth(
        docs, "doc_id", "text", threshold_e6=1, df_cap=50
    ).collect()
    assert {(r.id_a, r.id_b) for r in capped} == {(1001, 1002)}
    assert capped[0].jaccard_e6 == 1_000_000

    uncapped_n = exact_jaccard_truth(
        docs, "doc_id", "text", threshold_e6=1, df_cap=None
    ).count()
    assert uncapped_n >= 300 * 299 // 2  # the quadratic mass is real


def test_exact_jaccard_truth_capped_universe_consistency(spark):
    """Jaccard after the cap is computed over the CAPPED universe on
    both sides of the ratio — checked cell-exact against a pure-Python
    reference that removes hot shingles from sizes and intersections."""
    from cubicerp_client_etl_spark.operators.dedup import exact_jaccard_truth

    texts = {
        100: "all rights reserved alpha beta gamma delta",
        101: "all rights reserved alpha beta gamma epsilon",
        102: "totally unrelated content lives right here now",
    }
    # make "all rights reserved" hot: df = 3 + 2 > cap of 4
    texts.update({200 + i: f"all rights reserved x{i}y x{i}z" for i in range(3)})
    docs = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    cap = 4
    freq: dict[str, int] = {}
    for t in texts.values():
        for s in _py_shingles(t):
            freq[s] = freq.get(s, 0) + 1
    sets = {
        i: {s for s in _py_shingles(t) if freq[s] <= cap}
        for i, t in texts.items()
    }
    want = {}
    ids = sorted(sets)
    for ai, a in enumerate(ids):
        for b in ids[ai + 1 :]:
            inter = len(sets[a] & sets[b])
            if inter:
                want[(a, b)] = inter * 10**6 // len(sets[a] | sets[b])
    got = {
        (r.id_a, r.id_b): r.jaccard_e6
        for r in exact_jaccard_truth(
            docs, "doc_id", "text", threshold_e6=1, df_cap=cap
        ).collect()
    }
    assert got == want and (100, 101) in got

    import pytest

    with pytest.raises(ValueError):
        exact_jaccard_truth(docs, "doc_id", "text", df_cap=0)


# ---------------------------------------------------------------------------
# The md5 families' alternative forms, checked against each other: the
# SimHash fold's string and integer packings, and MinHash with one digest
# per hash vs four hashes carved per digest — on CANDIDATE SETS where
# the hash values legitimately differ.
# ---------------------------------------------------------------------------

SF_001 = "/root/testdata/sf0.01"


def _planted_docs(spark):
    docs = load(spark, SF_001, "documents").select("doc_id", "text")
    dupped = docs.unionByName(
        docs.filter(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    )
    plants = docs.filter(F.col("doc_id") % 7 == 0).select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + 1000000).alias("id_b"),
    )
    return dupped, plants


def _chunk_candidates(fp):
    """4x8-bit chunk blocking over an integer fingerprint column f."""
    chunks = fp.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("cid"),
                        F.shiftright(F.col("f"), 8 * (3 - c))
                        .bitwiseAND(F.lit(255))
                        .alias("chunk"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("_c"),
    ).select("doc_id", "_c.cid", "_c.chunk")
    a = chunks.select(F.col("doc_id").alias("id_a"), "cid", "chunk")
    b = chunks.select(F.col("doc_id").alias("id_b"), "cid", "chunk")
    return (
        a.join(b, ["cid", "chunk"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def test_simhash_string_and_int_forms_agree_bit_for_bit(spark):
    """The two packings of the single-digest SimHash fold — the 32-char
    '0'/'1' string (``simhash_bits_portable(single_digest=True)``) and
    the BIGINT (``simhash_int_portable``) — agree bit for bit on every
    document. Over the integer form, 4x8 chunk blocking is
    pigeonhole-COMPLETE: every planted pair within Hamming<=3 is a
    candidate, and identical-text plants have Hamming 0."""
    from cubicerp_client_etl_spark.operators.dedup import simhash_bits_portable

    dupped, plants = _planted_docs(spark)
    planted_ids = set(
        r.id_a for r in plants.collect()
    )

    bits = simhash_bits_portable("text", n_bits=32, single_digest=True)
    forms = dupped.select(
        "doc_id",
        simhash_int_portable("text", n_bits=32).alias("f"),
        bits.alias("bits"),
    )
    mismatched = forms.where(
        (F.length("bits") != 32)
        | ~F.conv(F.col("bits"), 2, 10).cast("long").eqNullSafe(F.col("f"))
    )
    assert mismatched.count() == 0
    assert forms.count() == dupped.count()

    fp = forms.select("doc_id", "f")
    cand = _chunk_candidates(fp)
    # direct Hamming over ALL planted pairs (ground truth)
    fa = fp.select(F.col("doc_id").alias("id_a"), F.col("f").alias("_fa"))
    fb = fp.select(F.col("doc_id").alias("id_b"), F.col("f").alias("_fb"))
    ham = (
        plants.join(fa, "id_a")
        .join(fb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("_fa").bitwiseXOR(F.col("_fb"))).alias("h"),
        )
    )
    near = {(r.id_a, r.id_b) for r in ham.where(F.col("h") <= 3).collect()}
    zero = {(r.id_a, r.id_b) for r in ham.where(F.col("h") == 0).collect()}
    cand_planted = {
        (r.id_a, r.id_b)
        for r in cand.where(F.col("id_b") == F.col("id_a") + 1000000)
        .collect()
        if r.id_a in planted_ids
    }
    # pigeonhole completeness wrt the fingerprints
    assert near <= cand_planted
    # identical text => identical fingerprint
    assert zero == {(i, i + 1000000) for i in planted_ids}


def test_minhash_digest_carving_candidate_sets(spark):
    """MinHash with one md5 per hash (``hashes_per_digest=1``) vs four
    8-hex hashes carved from each digest (``hashes_per_digest=4``):
    identical-text plants have Jaccard 1, so EVERY band matches under
    both carvings — the planted candidate sets must be equal (and
    complete)."""
    dupped, plants = _planted_docs(spark)
    expected = {
        (r.id_a, r.id_b) for r in plants.collect()
    }
    got = {}
    for per_digest in (1, 4):
        sigs = minhash_signatures(
            dupped, "doc_id", "text", num_hashes=32,
            hashes_per_digest=per_digest,
        )
        cand = lsh_candidate_pairs(sigs, "doc_id", num_hashes=32, bands=8)
        got[per_digest] = {
            (r.id_a, r.id_b)
            for r in cand.where(
                F.col("id_b") == F.col("id_a") + 1000000
            ).collect()
        } & expected
        assert got[per_digest] == expected, per_digest
    assert got[1] == got[4]


# ---- SimHash chunk blocking (shared operator behind q204) -----------------


def test_simhash_chunk_candidates_matches_brute_force(spark):
    """Uncapped operator == brute force over 'pairs sharing >= 1 chunk',
    with exact Hamming values and each pair emitted EXACTLY once (the
    least-matching-chunk predicate replaces a DISTINCT shuffle)."""
    import random

    from cubicerp_client_etl_spark.operators.dedup import simhash_chunk_candidates

    rng = random.Random(42)
    fps = [(i, rng.getrandbits(32)) for i in range(40)]
    # force some chunk collisions so the candidate set is non-trivial
    fps += [(100, fps[0][1] ^ 0x1), (101, fps[0][1] ^ 0x80000000)]
    df = spark.createDataFrame(fps, "doc_id long, f long")

    def chunks(f):
        return [(c, (f >> (8 * (3 - c))) & 255) for c in range(4)]

    expected = {}
    for i, (ida, fa) in enumerate(fps):
        for idb, fb in fps[i + 1 :]:
            lo, hi = min(ida, idb), max(ida, idb)
            flo = fa if ida == lo else fb
            fhi = fb if ida == lo else fa
            if set(chunks(flo)) & set(chunks(fhi)):
                expected[(lo, hi)] = bin(flo ^ fhi).count("1")
    rows = simhash_chunk_candidates(df, "doc_id", "f").collect()
    got = {(r.id_a, r.id_b): r.hamming for r in rows}
    assert len(rows) == len(got), "a pair was emitted more than once"
    assert got == expected


def test_simhash_hot_chunk_cap_equivalence_and_boilerplate_drop(spark):
    """Cap semantics (the lsh hot_band_cap contract, chunk flavour): a
    pair survives iff it shares at least one NON-hot chunk — still
    exactly once. The 200-doc identical-fingerprint cluster (every
    bucket hot) contributes ZERO pairs; a pair sharing a hot chunk AND
    a quiet chunk still surfaces; a pair sharing ONLY hot chunks is
    dropped. With a huge cap the capped plan equals the uncapped one
    bit-for-bit."""
    import pytest

    from cubicerp_client_etl_spark.operators.dedup import simhash_chunk_candidates

    boiler = spark.range(200).select(
        (F.col("id") + 1).alias("doc_id"), F.lit(0x11111111).alias("f")
    )
    extra = spark.createDataFrame(
        [
            (2001, 0x11AA5501),  # shares hot chunk0 + quiet chunk2 with 2002
            (2002, 0x11BB5502),
            (3001, 0x11C1D1E1),  # shares ONLY hot chunk0 with 3002
            (3002, 0x11C2D2E2),
        ],
        "doc_id long, f long",
    )
    df = boiler.unionByName(extra)
    capped = simhash_chunk_candidates(df, "doc_id", "f", hot_chunk_cap=50).collect()
    assert {(r.id_a, r.id_b) for r in capped} == {(2001, 2002)}
    assert len(capped) == 1  # exactly once, via the quiet chunk
    assert capped[0].hamming == bin(0x11AA5501 ^ 0x11BB5502).count("1")

    # cap larger than any occupancy -> identical to uncapped (on a small
    # frame where uncapped is feasible)
    small = extra
    unc = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_chunk_candidates(small, "doc_id", "f").collect()
    }
    cap = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_chunk_candidates(
            small, "doc_id", "f", hot_chunk_cap=10_000
        ).collect()
    }
    assert unc == cap

    with pytest.raises(ValueError):
        simhash_chunk_candidates(df, "doc_id", "f", hot_chunk_cap=0)
    with pytest.raises(ValueError):
        simhash_chunk_candidates(df, "doc_id", "f", n_bits=33)
    with pytest.raises(ValueError):
        simhash_chunk_candidates(df, "doc_id", "f", n_bits=8, chunk_bits=8)


# ---- the shingle family vs the pure-Python shingler ----------------------

_SIZES = range(1, 6)
_SHINGLE_SETTINGS = settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@_SHINGLE_SETTINGS
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "", None]), max_size=7),
        min_size=1,
        max_size=6,
    )
)
@example(docs=[[], [""], ["a", "a", "a", "a"], ["a", "b"], ["a", "b", "c"]])
@example(docs=[[None], ["a", None, "b"], [None, None, "c", "d", "e", "f"]])
def test_ngrams_and_shingles_match_python_on_token_arrays(spark, docs):
    """``ngrams`` (short → empty) and ``dedup.shingles(tokens=...)``
    (short → one whole-document shingle) against the Python model,
    content AND order, for n = 1..5 — including NULL tokens, which
    ``concat_ws`` skips at every n (so a lone NULL renders as "")."""
    df = spark.createDataFrame(list(enumerate(docs)), "i int, t array<string>")
    got = df.select(
        "i",
        *[ngrams(F.col("t"), n).alias(f"g{n}") for n in _SIZES],
        *[shingles(None, n, tokens=F.col("t")).alias(f"s{n}") for n in _SIZES],
    ).collect()
    for r in got:
        toks = docs[r.i]
        for n in _SIZES:
            assert r[f"g{n}"] == _py_shingles(None, n, tokens=toks, whole_short=False)
            assert r[f"s{n}"] == _py_shingles(None, n, tokens=toks)


@_SHINGLE_SETTINGS
@given(
    texts=st.lists(
        st.text(alphabet="abAB \t", max_size=12), min_size=1, max_size=6
    )
)
@example(texts=["", " ", "a", "a a a a a", "a b c", "A b", " a\tb  c d e f "])
def test_shingles_and_space_ngrams_match_python_on_text(spark, texts):
    """The two tokenizers: ``dedup.shingles`` over ``word_tokens``
    (lower, trim spaces, split on whitespace runs) and
    ``ngrams(space_tokens)`` (verbatim single-space split), n = 1..5."""
    df = spark.createDataFrame(list(enumerate(texts)), "i int, text string")
    got = df.select(
        "i",
        *[shingles("text", n).alias(f"s{n}") for n in _SIZES],
        *[ngrams(space_tokens("text"), n).alias(f"g{n}") for n in _SIZES],
    ).collect()
    for r in got:
        text = texts[r.i]
        for n in _SIZES:
            assert r[f"s{n}"] == _py_shingles(text, n)
            assert r[f"g{n}"] == _py_shingles(
                None, n, tokens=text.split(" "), whole_short=False
            )


def test_ngrams_rejects_size_below_one(spark):
    with pytest.raises(ValueError):
        ngrams(F.col("t"), 0)
