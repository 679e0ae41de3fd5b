"""Unit tests for operators/sketches.py — count-min sketch vs an exact
reference CMS computed driver-side with the same md5 hash family."""

from __future__ import annotations

import hashlib
import random
from collections import Counter

from cubicerp_client_etl_spark.operators.sketches import cms_build, cms_estimate

DEPTH, WIDTH, SEED = 3, 32, "t"


def _bucket(tok: str, rw: int) -> int:
    h = hashlib.md5(f"{tok}|cms{SEED}|{rw}".encode()).hexdigest()[:8]
    return int(h, 16) % WIDTH


def test_sketch_matches_reference_and_never_undercounts(spark):
    rng = random.Random(9)
    toks = [f"w{rng.randint(0, 40)}" for _ in range(3000)]
    df = spark.createDataFrame([(t,) for t in toks], "token string")
    cms = cms_build(df, depth=DEPTH, width=WIDTH, seed=SEED)
    # reference grid
    grid = Counter()
    for t in toks:
        for rw in range(DEPTH):
            grid[(rw, _bucket(t, rw))] += 1
    got = {(r.rw, r.bucket): r.c for r in cms.collect()}
    assert got == dict(grid)

    truth = Counter(toks)
    probe_toks = ["w0", "w17", "w40", "absent"]
    probes = spark.createDataFrame([(t,) for t in probe_toks], "token string")
    est = {
        r.token: r.est_count
        for r in cms_estimate(
            cms, probes, depth=DEPTH, width=WIDTH, seed=SEED
        ).collect()
    }
    for t in probe_toks:
        want = min(grid[(rw, _bucket(t, rw))] for rw in range(DEPTH))
        assert est[t] == want
        assert est[t] >= truth.get(t, 0)  # CMS never undercounts


def test_sketches_merge_by_sum(spark):
    a = spark.createDataFrame([("x",), ("y",), ("x",)], "token string")
    b = spark.createDataFrame([("x",), ("z",)], "token string")
    merged = (
        cms_build(a, depth=DEPTH, width=WIDTH, seed=SEED)
        .unionAll(cms_build(b, depth=DEPTH, width=WIDTH, seed=SEED))
        .groupBy("rw", "bucket")
        .sum("c")
        .withColumnRenamed("sum(c)", "c")
    )
    whole = cms_build(a.unionAll(b), depth=DEPTH, width=WIDTH, seed=SEED)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, whole.collect())
    )


def test_ivf_multiprobe_recall_not_below_single_probe(spark):
    """nprobe=2 must recover at least the nprobe=1 recall against the
    exact brute-force top-k (on the embeddings fixture)."""
    from pyspark.sql import functions as F

    from cubicerp_client_etl_spark.operators import similarity as sim

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", sim.as_double("embedding").alias("v"))
    )
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    probe_ids = [10, 20, 30]
    probes = emb.filter(F.col("vec_id").isin(probe_ids)).select(
        F.col("vec_id").alias("probe_id"), F.col("v").alias("pv")
    )
    exact = sim.brute_force_topk(
        emb.withColumnRenamed("v", "embedding"),
        probes.select("probe_id", F.col("pv").alias("embedding")),
        k=5,
        id_col="vec_id",
    )
    truth = {
        (r.probe_id, r.vec_id)
        for r in exact.collect()
        if r.probe_id != r.vec_id
    }

    def recall(nprobe: int) -> float:
        got = {
            (r.probe_id, r.vec_id)
            for r in sim.ivf_topk(emb, cents, probes, k=5, nprobe=nprobe).collect()
        }
        return len(got & truth) / len(truth)

    r1, r2 = recall(1), recall(2)
    assert r2 >= r1
    assert recall(8) >= r2  # probing every cluster == the exact scan


def test_pq_encode_and_adc_match_reference(spark):
    """PQ encode + ADC vs a driver-side numpy reference on the fixture
    embeddings: codes are the argmin codeword per subspace, estimates
    are the exact integer-scaled LUT sums."""
    import numpy as np
    from pyspark.sql import functions as F

    from cubicerp_client_etl_spark.operators import similarity as sim

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", sim.as_double("embedding").alias("v"))
    )
    rows = {r.vec_id: np.array(r.v) for r in emb.collect()}
    m_sub, sub_dim, n_codes = 8, 8, 8

    def sub(v, s):
        return v[s * sub_dim : (s + 1) * sub_dim]

    def d6(a, b):
        return round(float(a @ a - 2 * (a @ b) + b @ b), 6)

    cb = sim.pq_codebook(emb, n_codes=n_codes, m_sub=m_sub, sub_dim=sub_dim)
    codes = {
        (r.vec_id, r.sub_idx): r.code
        for r in sim.pq_encode(emb, cb, m_sub=m_sub, sub_dim=sub_dim).collect()
    }
    for vid, v in list(rows.items())[:20]:
        for s in range(m_sub):
            dists = [(d6(sub(v, s), sub(rows[c], s)), c) for c in range(n_codes)]
            want = min(dists)[1]
            assert codes[(vid, s)] == want, (vid, s)

    probes = emb.filter(F.col("vec_id") == 10).select(
        F.col("vec_id").alias("probe_id"), F.col("v").alias("pv")
    )
    got = sim.pq_adc_topk(
        codes=sim.pq_encode(emb, cb, m_sub=m_sub, sub_dim=sub_dim),
        codebook=cb,
        probes=probes,
        k=3,
        m_sub=m_sub,
        sub_dim=sub_dim,
    ).collect()
    pv = rows[10]
    est = {}
    for vid in rows:
        if vid == 10:
            continue
        tot = 0
        for s in range(m_sub):
            c = codes[(vid, s)]
            tot += int(
                round(
                    (
                        pv[s * sub_dim : (s + 1) * sub_dim] @ pv[s * sub_dim : (s + 1) * sub_dim]
                        - 2 * (pv[s * sub_dim : (s + 1) * sub_dim] @ sub(rows[c], s))
                        + sub(rows[c], s) @ sub(rows[c], s)
                    )
                    * 1_000_000
                )
            )
        est[vid] = tot
    want_top = sorted(est.items(), key=lambda kv: (kv[1], kv[0]))[:3]
    assert [(r.vec_id, r.est_dist_e6) for r in got] == want_top


def test_occupancy_sketch_estimate_tracks_exact_distinct(spark):
    """Linear-counting: occupancy equals the driver-side reference, and
    the derived estimate lands within 15% of the true distinct count at
    m >> n/2."""
    import hashlib
    import math
    import random

    from cubicerp_client_etl_spark.operators.sketches import occupancy_sketch

    rng = random.Random(5)
    toks = [f"t{rng.randint(0, 499)}" for _ in range(8000)]
    df = spark.createDataFrame([(t,) for t in toks], "token string")
    m = 4096
    occ = occupancy_sketch(df, m=m, seed="x").collect()[0].occupied
    want = len(
        {
            int(hashlib.md5(f"{t}|occx".encode()).hexdigest()[:8], 16) % m
            for t in set(toks)
        }
    )
    assert occ == want
    est = -m * math.log(1 - occ / m)
    exact = len(set(toks))
    assert abs(est - exact) / exact < 0.15


def test_bloom_no_false_negatives_and_bounded_fp(spark):
    """Every inserted key MUST be a maybe-member (Bloom's contract);
    non-members slip through only at the FP rate — with m=4096, k=3,
    n=200 the expected rate is ~0.03%, so over 500 probes we allow a
    small handful."""
    import pytest
    from pyspark.sql import functions as F

    from cubicerp_client_etl_spark.operators.sketches import (
        bloom_build,
        bloom_maybe_members,
    )

    members = spark.createDataFrame(
        [(f"key_{i}",) for i in range(200)], "k string"
    )
    outsiders = spark.createDataFrame(
        [(f"other_{i}",) for i in range(500)], "k string"
    )
    bloom = bloom_build(members, "k", m=4096, k=3, seed="t")
    # no false negatives: every member comes back
    got = {r.k for r in bloom_maybe_members(members, "k", bloom, 4096, 3, "t").collect()}
    assert got == {f"key_{i}" for i in range(200)}
    # false positives bounded (deterministic given the md5 family)
    fp = bloom_maybe_members(outsiders, "k", bloom, 4096, 3, "t").count()
    assert fp <= 5, fp
    with pytest.raises(ValueError):
        bloom_build(members, "k", m=0, k=3)
    with pytest.raises(ValueError):
        bloom_maybe_members(members, "k", bloom, m=4096, k=0)


def test_bloom_decontamination_is_superset_of_exact(spark):
    """The Bloom pass must flag EVERY document the exact q158 pass
    flags (no false negatives propagate through shingle composition)."""
    from pyspark.sql import functions as F

    from cubicerp_client_etl_spark.catalog import load
    from cubicerp_client_etl_spark.functions import ngrams, space_tokens
    from cubicerp_client_etl_spark.operators.curation import decontaminate
    from cubicerp_client_etl_spark.operators.sketches import (
        bloom_build,
        bloom_maybe_members,
    )
    from tests.conftest import SF_SMOKE

    docs = load(spark, SF_SMOKE, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    exact = {r.doc_id for r in decontaminate(corpus, bench, n=5).collect()}

    bench_sh = bench.select(F.explode(ngrams(space_tokens("text"), 5)).alias("sh"))
    corp_sh = corpus.select(
        "doc_id", F.explode(ngrams(space_tokens("text"), 5)).alias("sh")
    )
    bloom = bloom_build(bench_sh, "sh", m=65536, k=3, seed="d1")
    flagged = bloom_maybe_members(corp_sh, "sh", bloom, 65536, 3, "d1")
    bloomed = {
        r.doc_id
        for r in corp_sh.join(F.broadcast(flagged), "sh")
        .select("doc_id").distinct().collect()
    }
    assert exact <= bloomed, sorted(exact - bloomed)[:5]


def test_bloom_bitset_guards_plan_literal_size(spark):
    """The bitset literal is for filter-sized m only: past
    BLOOM_BITSET_MAX_M the guard must point at the broadcast
    positions-table join instead of silently bloating every plan the
    literal lands in; below it the round-trip still works."""
    import pytest

    from cubicerp_client_etl_spark.operators.sketches import (
        BLOOM_BITSET_MAX_M,
        bloom_bitset,
        bloom_build,
    )

    keys = spark.createDataFrame([("k1",), ("k2",)], "key string")
    pos = bloom_build(keys, "key", m=64, k=3)
    bits = bloom_bitset(pos, 64)
    assert len(bits) == 64 and sum(bits) >= 1

    with pytest.raises(ValueError, match="bloom_maybe_members"):
        bloom_bitset(pos, BLOOM_BITSET_MAX_M + 1)


def test_keyed_hll_equals_global_per_filtered_group(spark):
    """hll_registers_by must give EXACTLY the registers (and hence the
    estimate) that the global sketch gives when run on each group's
    rows alone — the keyed form is a layout, not a new sketch."""
    from pyspark.sql import functions as F

    from cubicerp_client_etl_spark.catalog import load
    from cubicerp_client_etl_spark.operators.sketches import (
        hll_estimate,
        hll_estimate_by,
        hll_registers,
        hll_registers_by,
    )

    ev = load(spark, "/root/testdata/sf0.001", "events").select(
        "event_type", "user_id"
    )
    keyed = {
        r.event_type: r.hll_est
        for r in hll_estimate_by(
            hll_registers_by(ev, "event_type", "user_id", seed="1"),
            "event_type",
        ).collect()
    }
    assert len(keyed) >= 2
    for et, est in keyed.items():
        solo = hll_estimate(
            hll_registers(
                ev.where(F.col("event_type") == et), "user_id", seed="1"
            )
        ).collect()[0]
        assert solo.hll_est == est, (et, solo.hll_est, est)
