"""Property tests for the round-9 allocation / ledger / maintenance
operators against pure-Python references over generated inputs (one
Spark job per property run — inputs batched into a single DataFrame,
the repo's property-test discipline)."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

_SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


# ---------------------------------------------------------- proration ----


@_SETTINGS
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10**6),  # amount per key
            st.lists(st.integers(min_value=0, max_value=10**4),
                     min_size=1, max_size=6),            # weights
        ),
        min_size=1,
        max_size=6,
    )
)
def test_prorate_exact_invariant_property(spark, docs):
    """For EVERY key: Σ alloc == amount exactly, every alloc ≥ 0, and
    proportionality within one unit of the exact rational share
    (largest-remainder's defining bounds)."""
    from cubicerp_client_etl_spark.operators.budget import prorate_exact

    rows = []
    for k, (amount, weights) in enumerate(docs):
        for ln, w in enumerate(weights):
            rows.append((k, amount, w, ln))
    df = spark.createDataFrame(rows, "k long, amt long, w long, ln long")
    out = prorate_exact(df, "k", "amt", "w", "ln").collect()
    by_key: dict[int, list] = {}
    for r in out:
        by_key.setdefault(r.k, []).append(r)
    for k, (amount, weights) in enumerate(docs):
        lines = by_key[k]
        assert sum(r.alloc for r in lines) == amount, (k, amount)
        assert all(r.alloc >= 0 for r in lines), k
        total_w = sum(weights)
        if total_w > 0:
            for r in lines:
                exact = amount * r.w / total_w
                assert exact - 1 < r.alloc < exact + 1 + 1e-9, (k, r)


# ------------------------------------------------------------- FIFO ----


@_SETTINGS
@given(
    st.lists(st.integers(min_value=1, max_value=50), min_size=1, max_size=8),
    st.lists(st.integers(min_value=1, max_value=50), min_size=1, max_size=8),
)
def test_fifo_matching_conservation_property(spark, lots, demands):
    """Σ matched == min(supply, demand); per lot Σ matched ≤ lot qty;
    per demand Σ matched ≤ demand qty; and the match equals a
    sequential oldest-first walk's per-(lot, demand) quantities."""
    from cubicerp_client_etl_spark.operators.history import fifo_lot_matching

    inb = spark.createDataFrame(
        [(1, i, q) for i, q in enumerate(lots)], "pk long, seq long, qty long"
    )
    outb = spark.createDataFrame(
        [(1, i, q) for i, q in enumerate(demands)],
        "pk long, seq long, oqty long",
    )
    m = fifo_lot_matching(
        inb, outb, "pk",
        in_order=[F.col("seq")], out_order=[F.col("seq")],
        in_qty="qty", out_qty="oqty",
    ).collect()
    total = sum(r.matched_qty for r in m)
    assert total == min(sum(lots), sum(demands))
    # sequential reference walk
    want: dict[tuple, int] = {}
    li, rem_lot = 0, lots[0]
    for di, d in enumerate(demands):
        need = d
        while need > 0 and li < len(lots):
            take = min(need, rem_lot)
            if take > 0:
                want[(li, di)] = want.get((li, di), 0) + take
            need -= take
            rem_lot -= take
            if rem_lot == 0:
                li += 1
                rem_lot = lots[li] if li < len(lots) else 0
    # map matches back to (lot index, demand index) via range starts
    lot_lo = {sum(lots[:i]): i for i in range(len(lots))}
    dem_lo = {sum(demands[:i]): i for i in range(len(demands))}
    got = {
        (lot_lo[r.in_lo], dem_lo[r.out_lo]): r.matched_qty for r in m
    }
    assert got == want


# ------------------------------------------------- aggregate maintenance ----


@_SETTINGS
@given(
    st.lists(
        st.tuples(st.sampled_from(["a", "b", "c"]),
                  st.integers(min_value=-100, max_value=100)),
        min_size=0,
        max_size=20,
    ),
    st.lists(
        st.tuples(st.sampled_from(["a", "b", "c", "d"]),
                  st.integers(min_value=-100, max_value=100),
                  st.booleans()),
        min_size=0,
        max_size=20,
    ),
)
def test_maintain_aggregate_equals_recompute_property(spark, base, changelog):
    """maintain(summary(base), changelog) == summary(base ± changelog)
    whenever the changelog only deletes rows that exist (we generate
    deletes FROM the maintained multiset so counts never go negative)."""
    from cubicerp_client_etl_spark.operators.history import maintain_aggregate

    # build a consistent changelog: inserts as-is; a delete targets a
    # (key, value) currently present, else it becomes an insert
    from collections import Counter

    multiset = Counter(base)
    changes = []
    for k, v, is_delete in changelog:
        if is_delete and multiset:
            victim = next(iter(multiset))
            changes.append((victim[0], victim[1], "D"))
            multiset[victim] -= 1
            if multiset[victim] == 0:
                del multiset[victim]
        else:
            changes.append((k, v, "I"))
            multiset[(k, v)] += 1

    if base:
        base_df = spark.createDataFrame(base, "k string, v long")
    else:
        base_df = spark.createDataFrame([], "k string, v long")
    summary = base_df.groupBy("k").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("v").cast("bigint").alias("sum_v"),
    )
    if changes:
        chg_df = spark.createDataFrame(changes, "k string, sum_v long, op string")
        maintained = maintain_aggregate(
            summary, chg_df, ["k"], "n_rows", ["sum_v"]
        )
    else:
        maintained = summary.where(F.col("n_rows") != 0)
    got = {r.k: (r.n_rows, r.sum_v) for r in maintained.collect()}
    want: dict[str, list] = {}
    for (k, v), c in multiset.items():
        e = want.setdefault(k, [0, 0])
        e[0] += c
        e[1] += v * c
    want = {k: (n, s) for k, (n, s) in want.items() if n != 0}
    # sum_v of an all-deleted-then-gone group is irrelevant; compare
    # only surviving groups
    assert got == want


# ------------------------------------------------------------- funnel ----


@_SETTINGS
@given(
    st.lists(
        st.tuples(st.integers(min_value=1, max_value=3),   # user
                  st.integers(min_value=0, max_value=40),  # ts
                  st.sampled_from(["a", "b", "c", "x"])),  # type
        min_size=0,
        max_size=25,
    )
)
def test_funnel_steps_matches_bruteforce_property(spark, events):
    """Greedy earliest-completion equals the brute-force minimum over
    all valid step assignments (greedy is optimal for unbounded
    windows) — checked per user on random event soups with ties.
    Ties between steps at the same ts: strict > ordering, so a step-2
    event at exactly t1 never counts (both sides enforce it)."""
    from cubicerp_client_etl_spark.operators.behavior import funnel_steps

    # de-dup (u, t) collisions to keep the reference simple: keep the
    # first type seen per (u, t)
    seen = {}
    for u, t, ty in events:
        seen.setdefault((u, t), ty)
    rows = [(u, t, ty) for (u, t), ty in seen.items()]
    if not rows:
        return
    df = spark.createDataFrame(rows, "u long, t long, ty string")
    got = {
        r.u: (r.t1_us, r.t2_us, r.t3_us)
        for r in funnel_steps(df, "u", "t", "ty", ["a", "b", "c"]).collect()
    }
    # brute force: earliest a; earliest b > t1; earliest c > t2
    by_user: dict[int, list] = {}
    for u, t, ty in rows:
        by_user.setdefault(u, []).append((t, ty))
    for u, evs in by_user.items():
        evs.sort()
        t1 = min((t for t, ty in evs if ty == "a"), default=None)
        if t1 is None:
            assert u not in got
            continue
        t2 = min((t for t, ty in evs if ty == "b" and t > t1), default=None)
        t3 = (
            min((t for t, ty in evs if ty == "c" and t > t2), default=None)
            if t2 is not None
            else None
        )
        assert got[u] == (t1, t2, t3), (u, got[u], (t1, t2, t3))


# -------------------------------------------------------------- CUSUM ----


@_SETTINGS
@given(
    st.lists(st.integers(min_value=0, max_value=30), min_size=1, max_size=20),
    st.integers(min_value=0, max_value=20),
)
def test_cusum_property_vs_recurrence(spark, xs, target):
    from cubicerp_client_etl_spark.operators.quality import cusum_alarm

    df = spark.createDataFrame(
        [(i, x) for i, x in enumerate(xs)], "t long, n long"
    )
    got = {r.t: r.cusum for r in cusum_alarm(df, "t", "n", target, 10).collect()}
    s = 0
    for i, x in enumerate(xs):
        s = max(0, s + x - target)
        assert got[i] == s, (i, got[i], s)


# --------------------------------------------------------------- Gini ----


@_SETTINGS
@given(
    st.lists(st.integers(min_value=0, max_value=1000), min_size=1, max_size=30)
)
def test_gini_property_vs_python(spark, vals):
    from cubicerp_client_etl_spark.operators.quantiles import gini_concentration

    if sum(vals) == 0:
        return  # T=0: division undefined — the operator's domain excludes it
    df = spark.createDataFrame([(v,) for v in vals], "x long")
    got = gini_concentration(df, "x").collect()[0]
    s = sorted(vals)
    n, t = len(s), sum(s)
    s_rank = sum((i + 1) * x for i, x in enumerate(s))
    want = (2 * s_rank - (n + 1) * t) * 1_000_000 // (n * t)
    assert got.gini_e6 == want
    assert got.n_rows == n and got.n_distinct == len(set(vals))


# ------------------------------------------------------------ Hamming ----


@_SETTINGS
@given(
    st.lists(
        st.tuples(*[st.integers(min_value=0, max_value=0xFFFF)] * 4),
        min_size=2,
        max_size=12,
        unique=True,
    )
)
def test_hamming_candidates_complete_property(spark, fps):
    """The blocker emits exactly the pairs sharing a band, each once
    with its exact Hamming distance; so with 4 bands a radius of 3 is
    complete (pigeonhole): EVERY pair within distance 3 is found."""
    from cubicerp_client_etl_spark.operators.dedup import hamming_candidates

    rows = [(i, *bands) for i, bands in enumerate(fps)]
    df = spark.createDataFrame(rows, "id long, b0 long, b1 long, b2 long, b3 long")
    out = hamming_candidates(df, "id", ["b0", "b1", "b2", "b3"]).collect()
    got = {(r.id_a, r.id_b): r.hamming for r in out}
    assert len(got) == len(out), "a pair was emitted more than once"
    want = {
        (i, j): sum(bin(a ^ b).count("1") for a, b in zip(fps[i], fps[j]))
        for i in range(len(fps))
        for j in range(i + 1, len(fps))
        if any(a == b for a, b in zip(fps[i], fps[j]))
    }
    assert got == want
    for i in range(len(fps)):
        for j in range(i + 1, len(fps)):
            h = sum(bin(a ^ b).count("1") for a, b in zip(fps[i], fps[j]))
            if h <= 3:
                assert got.get((i, j)) == h, (i, j, h, got.get((i, j)))
