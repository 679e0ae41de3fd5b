"""Unit semantics for the round-9 behavioral / audit / survivorship
operators: funnel, cohort retention, Markov transitions, skew audit,
Gini concentration, golden record, χ² contingency."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

# ------------------------------------------------------------- funnel ----


def _ev(spark, rows):
    return spark.createDataFrame(rows, "u long, t long, ty string")


def test_funnel_steps_earliest_completion(spark):
    from cubicerp_client_etl_spark.operators.behavior import funnel_steps

    rows = [
        # user 1 completes: view@10, click@20, purchase@30 (decoys around)
        (1, 5, "click"),       # click BEFORE first view must not count
        (1, 10, "view"),
        (1, 20, "click"),
        (1, 30, "purchase"),
        # user 2 stalls after click
        (2, 10, "view"),
        (2, 15, "click"),
        # user 3 never views (purchase alone) → not in output
        (3, 10, "purchase"),
    ]
    out = {
        r.u: r
        for r in funnel_steps(
            _ev(spark, rows), "u", "t", "ty", ["view", "click", "purchase"]
        ).collect()
    }
    assert set(out) == {1, 2}
    assert (out[1].t1_us, out[1].t2_us, out[1].t3_us) == (10, 20, 30)
    assert (out[2].t1_us, out[2].t2_us, out[2].t3_us) == (10, 15, None)


def test_funnel_steps_greedy_earliest_is_order_correct(spark):
    from cubicerp_client_etl_spark.operators.behavior import funnel_steps

    # two views: taking the EARLIEST view (t=10) still allows the
    # click at t=15; an implementation anchoring on the later view
    # (t=20) would miss it
    rows = [(1, 10, "view"), (1, 20, "view"), (1, 15, "click")]
    out = funnel_steps(_ev(spark, rows), "u", "t", "ty", ["view", "click"]).collect()
    assert (out[0].t1_us, out[0].t2_us) == (10, 15)


def test_funnel_report_conversions_exact(spark):
    from cubicerp_client_etl_spark.operators.behavior import funnel_report

    rows = []
    for u in range(4):  # 4 users view
        rows.append((u, 10, "view"))
    for u in range(3):  # 3 click
        rows.append((u, 20, "click"))
    rows.append((0, 30, "purchase"))  # 1 purchases
    rep = {
        r.step: r
        for r in funnel_report(
            _ev(spark, rows), "u", "t", "ty", ["view", "click", "purchase"]
        ).collect()
    }
    assert rep[1].n_users == 4 and rep[1].conv_from_first_e6 == 1_000_000
    assert rep[2].n_users == 3
    assert rep[2].conv_from_first_e6 == 750_000
    assert rep[2].conv_from_prev_e6 == 750_000
    assert rep[3].n_users == 1
    assert rep[3].conv_from_first_e6 == 250_000
    assert rep[3].conv_from_prev_e6 == 333_333  # floor(1e6/3)
    assert rep[2].sum_elapsed_us == 30  # 3 users x 10us
    assert rep[3].sum_elapsed_us == 20  # 1 user x 20us


def test_funnel_report_step_names_with_sql_metachars(spark):
    """ADVICE r10: step names reach a stack() SQL literal — backslashes
    (Spark SQL escape char) and quotes must round-trip verbatim."""
    from cubicerp_client_etl_spark.operators.behavior import funnel_report

    tricky = ["pg\\view", "ad'click \\n"]
    rows = [(0, 10, tricky[0]), (0, 20, tricky[1]), (1, 10, tricky[0])]
    rep = {
        r.step: r
        for r in funnel_report(
            _ev(spark, rows), "u", "t", "ty", tricky
        ).collect()
    }
    assert rep[1].step_type == tricky[0]
    assert rep[2].step_type == tricky[1]
    assert rep[1].n_users == 2 and rep[2].n_users == 1


def test_funnel_rejects_bad_steps(spark):
    from cubicerp_client_etl_spark.operators.behavior import funnel_steps

    df = _ev(spark, [(1, 1, "a")])
    with pytest.raises(ValueError):
        funnel_steps(df, "u", "t", "ty", ["a"])
    with pytest.raises(ValueError):
        funnel_steps(df, "u", "t", "ty", ["a", "a"])


# ----------------------------------------------------- cohort retention ----


def test_cohort_retention_matrix_exact(spark):
    from cubicerp_client_etl_spark.operators.behavior import cohort_retention

    day = 86_400_000_000
    rows = [
        # cohort week 0: users 1,2; user 1 returns week 1; none week 2
        (1, 0 * day), (2, 3 * day), (1, 8 * day),
        # cohort week 1: user 3 only
        (3, 7 * day),
    ]
    df = spark.createDataFrame(rows, "u long, t long")
    out = {
        (r.cohort, r.period_offset): r
        for r in cohort_retention(df, "u", "t", period_days=7).collect()
    }
    assert out[(0, 0)].cohort_size == 2 and out[(0, 0)].n_active == 2
    assert out[(0, 0)].retention_e6 == 1_000_000
    assert out[(0, 1)].n_active == 1 and out[(0, 1)].retention_e6 == 500_000
    assert out[(1, 0)].cohort_size == 1
    assert (0, 2) not in out  # empty cells are absent, not zero rows


def test_cohort_retention_rejects_bad_period(spark):
    from cubicerp_client_etl_spark.operators.behavior import cohort_retention

    df = spark.createDataFrame([(1, 1)], "u long, t long")
    with pytest.raises(ValueError):
        cohort_retention(df, "u", "t", period_days=0)


# --------------------------------------------------- markov transitions ----


def test_transition_matrix_counts_and_probs(spark):
    from cubicerp_client_etl_spark.operators.behavior import transition_matrix

    rows = [
        (1, 1, "a"), (1, 2, "b"), (1, 3, "a"),   # a→b, b→a
        (2, 1, "a"), (2, 2, "b"),                 # a→b
        (3, 1, "a"), (3, 2, "c"),                 # a→c
    ]
    df = spark.createDataFrame(rows, "u long, t long, ty string")
    out = {
        (r.from_type, r.to_type): r
        for r in transition_matrix(df, "u", "t", "ty").collect()
    }
    assert out[("a", "b")].n == 2 and out[("a", "c")].n == 1
    assert out[("a", "b")].p_e6 == 666_666  # floor(2e6/3)
    assert out[("a", "c")].p_e6 == 333_333
    assert out[("b", "a")].n == 1 and out[("b", "a")].p_e6 == 1_000_000
    # last event per user contributes no row
    assert ("c", None) not in out and ("a", None) not in out


def test_transition_matrix_tie_break_by_order_col(spark):
    from cubicerp_client_etl_spark.operators.behavior import transition_matrix

    # same timestamp: order_col (event id) breaks the tie
    rows = [(1, 10, 1, "x"), (1, 10, 2, "y")]
    df = spark.createDataFrame(rows, "u long, t long, eid long, ty string")
    out = transition_matrix(df, "u", "t", "ty", order_col="eid").collect()
    assert [(r.from_type, r.to_type) for r in out] == [("x", "y")]


# ----------------------------------------------------------- skew audit ----


def test_key_skew_audit_stats_exact(spark):
    from cubicerp_client_etl_spark.operators.quality import key_skew_audit

    # key 'hot' 6 rows, 'a' 2, 'b' 1, 'c' 1 → 10 rows, 4 keys, max 6
    rows = [("hot",)] * 6 + [("a",)] * 2 + [("b",)] * 1 + [("c",)] * 1
    df = spark.createDataFrame(rows, "k string")
    out = key_skew_audit(df, "k", top_k=2).collect()
    assert [r.rank for r in out] == [1, 2]
    assert out[0].key == "hot" and out[0].key_rows == 6
    assert out[0].share_e6 == 600_000
    assert out[0].n_keys == 4 and out[0].n_rows == 10
    # skew = max*keys*1e6 div rows = 6*4*1e6/10 = 2.4e6 (2.4x mean)
    assert out[0].skew_ratio_e6 == 2_400_000
    assert out[1].key == "a"  # ties under top-k broken by key asc


def test_key_skew_audit_rejects_bad_k(spark):
    from cubicerp_client_etl_spark.operators.quality import key_skew_audit

    df = spark.createDataFrame([("x",)], "k string")
    with pytest.raises(ValueError):
        key_skew_audit(df, "k", top_k=0)


# --------------------------------------------------------------- gini ----


def test_gini_known_values(spark):
    from cubicerp_client_etl_spark.operators.quantiles import gini_concentration

    eq = spark.createDataFrame([(5,)] * 8, "x long")
    assert gini_concentration(eq, "x").collect()[0].gini_e6 == 0
    one = spark.createDataFrame([(0,), (0,), (0,), (100,)], "x long")
    assert gini_concentration(one, "x").collect()[0].gini_e6 == 750_000
    ramp = spark.createDataFrame([(v,) for v in range(1, 11)], "x long")
    r = gini_concentration(ramp, "x").collect()[0]
    assert (r.n_rows, r.n_distinct, r.gini_e6) == (10, 10, 300_000)


def test_gini_ties_match_untied_rank_sum(spark):
    from cubicerp_client_etl_spark.operators.quantiles import gini_concentration

    # with ties, any rank assignment among equal values gives the same
    # sum — pin the closed form against a brute-force python replay
    vals = [3, 1, 3, 2, 3, 1, 10]
    df = spark.createDataFrame([(v,) for v in vals], "x long")
    got = gini_concentration(df, "x").collect()[0]
    s = sorted(vals)
    n, t = len(s), sum(s)
    s_rank = sum((i + 1) * x for i, x in enumerate(s))
    want = (2 * s_rank - (n + 1) * t) * 1_000_000 // (n * t)
    assert got.gini_e6 == want


# ------------------------------------------------------- golden record ----


def test_golden_record_per_field_independent_and_null_safe(spark):
    from cubicerp_client_etl_spark.operators.merge import golden_record

    rows = [
        # entity 1: freshest phone from key 30 (null segment there);
        # freshest segment from key 20
        (1, 10, "p-old", "s-old"),
        (1, 20, None, "s-new"),
        (1, 30, "p-new", None),
        # entity 2: all phones null → NULL phone, NULL src key
        (2, 10, None, "s-x"),
    ]
    df = spark.createDataFrame(rows, "e long, ok long, phone string, seg string")
    out = {
        r.e: r
        for r in golden_record(df, "e", "ok", ["phone", "seg"]).collect()
    }
    assert out[1].phone == "p-new" and out[1].phone_src_key == 30
    assert out[1].seg == "s-new" and out[1].seg_src_key == 20
    assert out[1].n_records == 3
    assert out[2].phone is None and out[2].phone_src_key is None
    assert out[2].seg == "s-x"


def test_golden_record_rejects_empty_fields(spark):
    from cubicerp_client_etl_spark.operators.merge import golden_record

    df = spark.createDataFrame([(1, 1)], "e long, ok long")
    with pytest.raises(ValueError):
        golden_record(df, "e", "ok", [])


# ------------------------------------------------------------- chi2 ----


def test_chi2_zero_under_exact_independence(spark):
    from cubicerp_client_etl_spark.operators.drift import chi2_contingency_audit

    # perfectly independent 2x2 (each cell = row*col/T exactly)
    rows = (
        [("r1", "c1")] * 4 + [("r1", "c2")] * 4
        + [("r2", "c1")] * 2 + [("r2", "c2")] * 2
    )
    df = spark.createDataFrame(rows, "r string, c string")
    out = chi2_contingency_audit(df, "r", "c").collect()
    assert len(out) == 4
    assert all(r.cell_chi2_e6 == 0 for r in out)
    assert {r.expected_e0 for r in out} == {4, 2}


def test_chi2_flags_dependence_and_includes_absent_cells(spark):
    from cubicerp_client_etl_spark.operators.drift import chi2_contingency_audit

    # r1 only ever c1, r2 only ever c2 → maximal dependence
    rows = [("r1", "c1")] * 5 + [("r2", "c2")] * 5
    df = spark.createDataFrame(rows, "r string, c string")
    out = {
        (r.row_val, r.col_val): r
        for r in chi2_contingency_audit(df, "r", "c").collect()
    }
    assert len(out) == 4  # grid includes the two absent cells
    assert out[("r1", "c2")].n == 0 and out[("r1", "c2")].cell_chi2_e6 > 0
    # for this table chi2 = T: each cell contributes T/4 = 2.5
    total = sum(r.cell_chi2_e6 for r in out.values())
    assert abs(total - 10_000_000) <= 4  # e6 quantization, ≤1 ulp/cell


def test_chi2_below_quantization_floor_reports_null_not_abort(spark):
    from cubicerp_client_etl_spark.operators.drift import chi2_contingency_audit

    # a 1-row level in a >1e6-row table quantizes its marginal share to
    # b = 0 (1·1e6 div 1000001 = 0): the cell χ² divisor would be zero.
    # Guarded → NULL (below e6 resolution), never a div-by-zero abort,
    # and the common rows still carry real values.
    df = spark.range(1_000_001).select(
        F.when(F.col("id") == 0, "rare").otherwise("common").alias("r"),
        F.when(F.col("id") % 2 == 0, "c1").otherwise("c2").alias("c"),
    )
    out = {
        (x.row_val, x.col_val): x
        for x in chi2_contingency_audit(df, "r", "c").collect()
    }
    assert len(out) == 4
    assert out[("rare", "c1")].cell_chi2_e6 is None
    assert out[("rare", "c2")].cell_chi2_e6 is None
    assert out[("common", "c1")].cell_chi2_e6 is not None
    assert out[("common", "c2")].cell_chi2_e6 is not None


# ------------------------------------------------- image phash neardup ----


def test_image_ahash_bands_known_pattern(spark):
    from cubicerp_client_etl_spark.operators.multimodal import (
        encode_bmp_gray,
        image_ahash_bands,
    )

    # 16x16: left half dark (0), right half bright (200) → bits set on
    # cells with cx >= 4 in every row: each 16-bit band covers two rows
    # of 8 cells → per row pattern 0b1111000011110000... cells cx>=4 →
    # bits 4..7 and 12..15 of each band
    px = bytes((200 if x >= 8 else 0) for _ in range(16) for x in range(16))
    payload = encode_bmp_gray(16, 16, px)
    df = spark.createDataFrame([(1, bytearray(payload))], "doc_id long, payload binary")
    out = image_ahash_bands(df, "payload").collect()[0]
    assert (out.width, out.height) == (16, 16)
    want = sum(1 << b for b in [4, 5, 6, 7, 12, 13, 14, 15])
    assert (out.band0, out.band1, out.band2, out.band3) == (want,) * 4


def test_hamming_candidates_complete_within_pigeonhole(spark):
    from cubicerp_client_etl_spark.operators.dedup import hamming_candidates

    rows = [
        (1, 0b1010, 0b1100, 0b0001, 0b0000),
        (2, 0b1010, 0b1100, 0b0011, 0b0000),  # hamming 1 vs id 1
        (3, 0b0101, 0b0011, 0b1110, 0b1111),  # far from both
    ]
    df = spark.createDataFrame(rows, "id long, b0 long, b1 long, b2 long, b3 long")
    out = hamming_candidates(df, "id", ["b0", "b1", "b2", "b3"]).collect()
    # 1 and 2 share three bands but are emitted once, from band 0
    assert [(r.id_a, r.id_b, r.hamming) for r in out] == [(1, 2, 1)]


def test_hamming_candidates_null_band_joins_nothing(spark):
    """A NULL band value joins no pair, so it also does not stop the
    pair's emission from a later shared band: exactly once, with a NULL
    distance (one NULL band hides the Hamming value)."""
    from cubicerp_client_etl_spark.operators.dedup import hamming_candidates

    rows = [(1, None, 5, 7), (2, None, 5, 7), (3, 4, 6, 7)]
    df = spark.createDataFrame(rows, "id long, b0 long, b1 long, b2 long")
    out = hamming_candidates(df, "id", ["b0", "b1", "b2"]).collect()
    assert sorted(tuple(r) for r in out) == [(1, 2, None), (1, 3, None), (2, 3, None)]


def test_hamming_candidates_rejects_bad_args(spark):
    import pytest as _pytest

    from cubicerp_client_etl_spark.operators.dedup import hamming_candidates

    df = spark.createDataFrame([(1, 0)], "id long, b0 long")
    with _pytest.raises(ValueError):
        hamming_candidates(df, "id", [])


# ------------------------------------------------- stock ledger balance ----


def test_running_balance_audit_exact(spark):
    from cubicerp_client_etl_spark.operators.history import (
        running_balance_audit,
    )

    rows = [
        # part 1: +10, -4, -8 (breach at -2), +5 → final 3, min -2
        (1, 1, 10), (1, 2, -4), (1, 3, -8), (1, 4, 5),
        # part 2: never negative
        (2, 1, 5), (2, 2, -3),
    ]
    df = spark.createDataFrame(rows, "pk long, seq long, d long")
    out = {
        r.pk: r
        for r in running_balance_audit(
            df, "pk", [F.col("seq")], "d"
        ).collect()
    }
    assert (out[1].n_moves, out[1].total_in, out[1].total_out) == (4, 15, 12)
    assert (out[1].final_balance, out[1].min_balance) == (3, -2)
    assert out[1].n_breach_moves == 1
    assert out[2].n_breach_moves == 0 and out[2].min_balance == 2


# ------------------------------------------------------- bitemporal ----


def test_as_known_at_picks_latest_ingested_version(spark):
    from cubicerp_client_etl_spark.operators.history import as_known_at

    rows = [
        (1, 10, "v1"), (1, 20, "v2"), (1, 30, "v3"),
        (2, 25, "only"),       # ingested after as_of → key unknown
    ]
    df = spark.createDataFrame(rows, "k long, ing long, val string")
    out = {
        r.k: r
        for r in as_known_at(df, "k", "ing", F.lit(20), ["val"]).collect()
    }
    assert set(out) == {1}
    assert out[1].known_ingest == 20 and out[1].val == "v2"
    # as_of beyond everything = final state
    fin = {r.k: r for r in as_known_at(df, "k", "ing", F.lit(10**9), ["val"]).collect()}
    assert fin[1].val == "v3" and fin[2].val == "only"


# -------------------------------------------------- effective sample size ----


def test_effective_sample_size_known_values(spark):
    from cubicerp_client_etl_spark.operators.sampling import (
        effective_sample_size,
    )

    # equal weights → ESS = n, share 1e6
    eq = spark.createDataFrame([(7,)] * 5, "w long")
    r = effective_sample_size(eq, "w").collect()[0]
    assert (r.n_rows, r.ess, r.ess_share_e6) == (5, 5, 1_000_000)
    # one dominant weight → ESS collapses toward 1
    dom = spark.createDataFrame([(1,), (1,), (1,), (997,)], "w long")
    r = effective_sample_size(dom, "w").collect()[0]
    # (1000)^2 // (3 + 994009) = 1000000 // 994012 = 1
    assert r.ess == 1 and r.max_w == 997
    assert r.top_w_share_e6 == 997_000
    # all-zero weights: report 0, never ANSI-abort
    z = spark.createDataFrame([(0,), (0,)], "w long")
    r = effective_sample_size(z, "w").collect()[0]
    assert (r.ess, r.ess_share_e6, r.top_w_share_e6) == (0, 0, 0)


# ---------------------------------------------- longest prefix match ----


def test_longest_prefix_match_picks_deepest_rule(spark):
    from cubicerp_client_etl_spark.operators.lookups import (
        longest_prefix_match,
    )

    rules = spark.createDataFrame(
        [("1-", 10), ("1-B-", 20), ("2-", 30)], "pfx string, rate long"
    )
    recs = spark.createDataFrame(
        [("1-B-77",), ("1-X-5",), ("2-Q",), ("9-Z",)], "code string"
    )
    out = {
        r.code: r
        for r in longest_prefix_match(recs, "code", rules, "pfx", ["rate"])
        .collect()
    }
    assert out["1-B-77"].rate == 20 and out["1-B-77"].match_len == 4
    assert out["1-X-5"].rate == 10 and out["1-X-5"].match_len == 2
    assert out["2-Q"].rate == 30
    assert "9-Z" not in out  # no matching rule → no row


def test_longest_prefix_match_rejects_ambiguous_rules(spark):
    from cubicerp_client_etl_spark.operators.lookups import (
        longest_prefix_match,
    )

    dup = spark.createDataFrame([("a-", 1), ("a-", 2)], "pfx string, rate long")
    recs = spark.createDataFrame([("a-1",)], "code string")
    with pytest.raises(ValueError):
        longest_prefix_match(recs, "code", dup, "pfx", ["rate"])
    with pytest.raises(ValueError):
        longest_prefix_match(recs, "code", dup, "pfx", [])


# ----------------------------------------------------- exact proration ----


def test_prorate_exact_sums_to_amount_with_largest_remainder(spark):
    from cubicerp_client_etl_spark.operators.budget import prorate_exact

    # amount 100 over weights 1,1,1 → base 33 each, r=1 goes to the
    # largest remainder (all tie at 1) → first line by order
    rows = [(1, 100, 1, 1), (1, 100, 1, 2), (1, 100, 1, 3)]
    df = spark.createDataFrame(rows, "k long, amt long, w long, ln long")
    out = {r.ln: r.alloc for r in
           prorate_exact(df, "k", "amt", "w", "ln").collect()}
    assert out == {1: 34, 2: 33, 3: 33}

    # proportional: amount 10 over weights 7,2,1 → exact 7,2,1
    rows = [(1, 10, 7, 1), (1, 10, 2, 2), (1, 10, 1, 3)]
    df = spark.createDataFrame(rows, "k long, amt long, w long, ln long")
    out = {r.ln: r.alloc for r in
           prorate_exact(df, "k", "amt", "w", "ln").collect()}
    assert out == {1: 7, 2: 2, 3: 1}


def test_prorate_exact_remainder_goes_to_largest_fraction(spark):
    from cubicerp_client_etl_spark.operators.budget import prorate_exact

    # amount 10, weights 5,4 → exact 50/9=5.55, 40/9=4.44 → base 5,4
    # frac 5, 4... wait W=9: base=floor(50/9)=5 frac=5; floor(40/9)=4
    # frac=4; r = 10-9 = 1 → +1 to line with frac 5 (line 1) → 6,4
    rows = [(1, 10, 5, 1), (1, 10, 4, 2)]
    df = spark.createDataFrame(rows, "k long, amt long, w long, ln long")
    out = {r.ln: r.alloc for r in
           prorate_exact(df, "k", "amt", "w", "ln").collect()}
    assert out == {1: 6, 2: 4}
    assert sum(out.values()) == 10


def test_prorate_exact_zero_weights_books_first_line(spark):
    from cubicerp_client_etl_spark.operators.budget import prorate_exact

    rows = [(1, 55, 0, 2), (1, 55, 0, 1)]
    df = spark.createDataFrame(rows, "k long, amt long, w long, ln long")
    out = {r.ln: r.alloc for r in
           prorate_exact(df, "k", "amt", "w", "ln").collect()}
    assert out == {1: 55, 2: 0}


# ------------------------------------------------------------ MAD ----


def test_mad_outlier_screen_known_values(spark):
    from cubicerp_client_etl_spark.operators.quantiles import (
        mad_outlier_screen,
    )

    # values 1..9 plus wild 1000: median (disc, of 10) = 5,
    # deviations |v-5| = 4,3,2,1,0,1,2,3,4,995 → sorted
    # 0,1,1,2,2,3,3,4,4,995 → p50 disc = 2 (rank 5) → MAD 2
    # fences 5 ± 6 → [-1, 11]: only 1000 is out (high)
    vals = list(range(1, 10)) + [1000]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    r = mad_outlier_screen(df, "v", k=3).collect()[0]
    assert (r.n, r.median, r.mad) == (10, 5, 2)
    assert (r.lo_fence, r.hi_fence) == (-1, 11)
    assert (r.n_low, r.n_high) == (0, 1)


def test_mad_outlier_screen_rejects_bad_k(spark):
    from cubicerp_client_etl_spark.operators.quantiles import (
        mad_outlier_screen,
    )

    df = spark.createDataFrame([(1,)], "v long")
    with pytest.raises(ValueError):
        mad_outlier_screen(df, "v", k=0)


# ------------------------------------------------------------ CUSUM ----


def test_cusum_closed_form_matches_recurrence(spark):
    from cubicerp_client_etl_spark.operators.quality import cusum_alarm

    xs = [5, 5, 9, 12, 11, 4, 3, 15, 15, 15]
    target, h = 7, 10
    df = spark.createDataFrame(
        [(i, x) for i, x in enumerate(xs)], "t long, n long"
    )
    got = {
        r.t: (r.cusum, r.alarm)
        for r in cusum_alarm(df, "t", "n", target, h).collect()
    }
    # brute-force recurrence S_t = max(0, S_{t-1} + x - k)
    s = 0
    for i, x in enumerate(xs):
        s = max(0, s + x - target)
        assert got[i] == (s, s > h), (i, got[i], s)


def test_cusum_resets_after_quiet_period(spark):
    from cubicerp_client_etl_spark.operators.quality import cusum_alarm

    # a burst, then deep quiet: the max(0, ...) clamp must reset the
    # statistic so a later small bump doesn't alarm
    xs = [20, 20, 0, 0, 0, 0, 9]
    df = spark.createDataFrame(
        [(i, x) for i, x in enumerate(xs)], "t long, n long"
    )
    out = {r.t: r for r in cusum_alarm(df, "t", "n", 8, 15).collect()}
    assert out[1].alarm  # 12 + 12 = 24 > 15
    assert out[6].cusum == 1 and not out[6].alarm  # reset, then 9-8


# --------------------------------------------------- weighted median ----


def test_weighted_median_known_values(spark):
    from cubicerp_client_etl_spark.operators.quantiles import weighted_median

    # values 1..4 with weights 1,1,1,7: half the weight (5 of 10) is
    # reached only at value 4
    rows = [(1, 1), (2, 1), (3, 1), (4, 7)]
    df = spark.createDataFrame(rows, "v long, w long")
    r = weighted_median(df, "v", "w").collect()[0]
    assert (r.n_rows, r.total_weight, r.weighted_median) == (4, 10, 4)
    # equal weights degenerate to the plain discrete median
    eq = spark.createDataFrame([(v, 1) for v in [1, 2, 3, 4, 5]], "v long, w long")
    assert weighted_median(eq, "v", "w").collect()[0].weighted_median == 3
    # zero/negative weights are excluded
    z = spark.createDataFrame([(1, 0), (2, 5), (9, -3)], "v long, w long")
    r = weighted_median(z, "v", "w").collect()[0]
    assert (r.n_rows, r.weighted_median) == (1, 2)


# --------------------------------------------------------- FIFO lots ----


def test_fifo_lot_matching_consumes_oldest_first(spark):
    from cubicerp_client_etl_spark.operators.history import fifo_lot_matching

    # part 1: lots (seq1: 10 units @5c), (seq2: 5 @7c);
    # demands (seq1: 8), (seq2: 4) → d1 takes 8 of lot1;
    # d2 takes 2 of lot1 + 2 of lot2; 3 units of lot2 remain
    inb = spark.createDataFrame(
        [(1, 1, 10, 5), (1, 2, 5, 7)], "pk long, seq long, qty long, cost long"
    )
    outb = spark.createDataFrame(
        [(1, 1, 8), (1, 2, 4)], "pk long, seq long, oqty long"
    )
    m = fifo_lot_matching(
        inb, outb, "pk",
        in_order=[F.col("seq")], out_order=[F.col("seq")],
        in_qty="qty", out_qty="oqty",
        in_carry=["cost"], out_carry=[],
    ).collect()
    got = sorted((r.in_lo, r.out_lo, r.matched_qty, r.cost) for r in m)
    assert got == [(0, 0, 8, 5), (0, 8, 2, 5), (10, 8, 2, 7)]
    # total matched = min(supply, demand) = 12
    assert sum(r.matched_qty for r in m) == 12


def test_fifo_lot_matching_unfilled_demand_has_no_supply_overlap(spark):
    from cubicerp_client_etl_spark.operators.history import fifo_lot_matching

    inb = spark.createDataFrame([(1, 1, 3, 10)], "pk long, seq long, qty long, cost long")
    outb = spark.createDataFrame([(1, 1, 9)], "pk long, seq long, oqty long")
    m = fifo_lot_matching(
        inb, outb, "pk",
        in_order=[F.col("seq")], out_order=[F.col("seq")],
        in_qty="qty", out_qty="oqty", in_carry=["cost"],
    ).collect()
    assert len(m) == 1 and m[0].matched_qty == 3  # 6 units unfilled


# ---------------------------------------------------------- ABC class ----


def test_abc_classification_thresholds(spark):
    from cubicerp_client_etl_spark.operators.quality import abc_classification

    # values 80, 12, 5, 2, 1 → cum shares .80, .92, .97, .99, 1.0
    rows = [("a", 80), ("b", 12), ("c", 5), ("d", 2), ("e", 1)]
    df = spark.createDataFrame(rows, "k string, v long")
    out = {r.k: r for r in abc_classification(df, "k", "v").collect()}
    assert out["a"].abc_class == "A" and out["a"].cum_share_e6 == 800_000
    assert out["b"].abc_class == "B"  # 92% crosses 80, within 95
    assert out["c"].abc_class == "C" and out["d"].abc_class == "C"
    assert [out[k].rank for k in "abcde"] == [1, 2, 3, 4, 5]
    import pytest as _pytest
    with _pytest.raises(ValueError):
        abc_classification(df, "k", "v", a_cut_e6=900_000, b_cut_e6=800_000)


# -------------------------------------------------------- session paths ----


def test_session_paths_gap_split_and_step_cap(spark):
    from cubicerp_client_etl_spark.operators.behavior import session_paths

    rows = [
        # user 1: session 1 = a,b,c,d,e,f (6 events, path caps at 5);
        # then a 100us idle gap → session 2 = b,a
        (1, 10, 1, "a"), (1, 11, 2, "b"), (1, 12, 3, "c"),
        (1, 13, 4, "d"), (1, 14, 5, "e"), (1, 15, 6, "f"),
        (1, 200, 7, "b"), (1, 201, 8, "a"),
        (2, 10, 9, "x"),
    ]
    df = spark.createDataFrame(rows, "u long, t long, eid long, ty string")
    out = {
        (r.u, r.session_seq): r
        for r in session_paths(
            df, "u", "t", "ty", "eid", gap=100, max_steps=5
        ).collect()
    }
    assert out[(1, 1)].path == "a>b>c>d>e" and out[(1, 1)].n_events == 6
    assert out[(1, 2)].path == "b>a" and out[(1, 2)].n_events == 2
    assert out[(2, 1)].path == "x"
    with pytest.raises(ValueError):
        session_paths(df, "u", "t", "ty", "eid", gap=0)


# ------------------------------------------------- price-volume bridge ----


def test_price_volume_bridge_decomposition_exact(spark):
    from cubicerp_client_etl_spark.operators.finance import (
        price_volume_bridge,
    )

    prev = spark.createDataFrame(
        [("p1", 10, 1000), ("p2", 4, 400), ("gone", 1, 50)],
        "k string, q long, r long",
    )
    cur = spark.createDataFrame(
        [("p1", 15, 1800), ("p2", 2, 260), ("fresh", 3, 90)],
        "k string, q long, r long",
    )
    out = {r.k: r for r in
           price_volume_bridge(prev, cur, "k", "q", "r").collect()}
    # p1: vol = 1000*5//10 = 500, price = 800-500 = 300; sums exactly
    assert (out["p1"].volume_eff, out["p1"].price_eff) == (500, 300)
    assert out["p1"].delta_rev == 800
    # p2: dq = -2 → vol = -(400*2//4) = -200; price = -140+200 = 60
    assert (out["p2"].volume_eff, out["p2"].price_eff) == (-200, 60)
    assert out["p2"].delta_rev == -140
    # decomposition identity holds for every 'both' key
    for r in out.values():
        if r.status == "both":
            assert r.volume_eff + r.price_eff == r.delta_rev, r
    assert out["fresh"].status == "new" and out["fresh"].delta_rev == 90
    assert out["gone"].status == "lost" and out["gone"].delta_rev == -50
    assert out["gone"].volume_eff == 0 and out["gone"].price_eff == 0


# ----------------------------------------------------- peak concurrency ----


def test_peak_concurrency_boundary_walk(spark):
    from cubicerp_client_etl_spark.operators.behavior import peak_concurrency

    # intervals (all in bucket 0): [0,10) [5,15) [5,8) → peak 3 at t=5;
    # [20,25) alone after → stays within same bucket, peak still 3;
    # half-open: [10,12) starting exactly when [0,10) ends must not
    # overlap it
    rows = [(0, 10), (5, 15), (5, 8), (10, 12), (20, 25)]
    df = spark.createDataFrame(rows, "s long, e long")
    out = peak_concurrency(
        df, "s", "e", F.expr("t div 100"), bucket_name="b"
    ).collect()
    assert len(out) == 1
    assert out[0].peak_concurrency == 3
    assert out[0].n_boundaries == 10


def test_peak_concurrency_half_open_no_phantom_overlap(spark):
    from cubicerp_client_etl_spark.operators.behavior import peak_concurrency

    # back-to-back [0,5) [5,10): never 2 concurrent
    df = spark.createDataFrame([(0, 5), (5, 10)], "s long, e long")
    out = peak_concurrency(df, "s", "e", F.lit(0), bucket_name="b").collect()
    assert out[0].peak_concurrency == 1


def test_peak_concurrency_carry_in_when_bucket_opens_with_an_end(spark):
    from cubicerp_client_etl_spark.operators.behavior import peak_concurrency

    # [0,150) spans buckets 0 and 1 (bucket = t div 100); bucket 1's
    # ONLY boundary is the end at t=150 (level drops 1→0 there), but
    # the interval was open the whole time — its peak is the CARRIED-IN
    # level 1, not the post-boundary 0
    df = spark.createDataFrame([(0, 150)], "s long, e long")
    out = {
        r.b: r
        for r in peak_concurrency(
            df, "s", "e", F.expr("t div 100"), bucket_name="b"
        ).collect()
    }
    assert out[0].peak_concurrency == 1
    assert out[1].peak_concurrency == 1 and out[1].n_boundaries == 1


def test_peak_concurrency_empty_covered_bucket_is_emitted(spark):
    from cubicerp_client_etl_spark.operators.behavior import peak_concurrency

    # [0,250) covers bucket 1 entirely with NO boundary inside it —
    # the bucket must still appear, reporting the carried-in level
    df = spark.createDataFrame([(0, 250)], "s long, e long")
    out = {
        r.b: r
        for r in peak_concurrency(
            df, "s", "e", F.expr("t div 100"), bucket_name="b"
        ).collect()
    }
    assert set(out) == {0, 1, 2}
    assert out[1].n_boundaries == 0 and out[1].peak_concurrency == 1
    assert out[2].peak_concurrency == 1  # end-only bucket, carry-in 1


def test_peak_concurrency_carry_in_plus_new_start_stacks(spark):
    from cubicerp_client_etl_spark.operators.behavior import peak_concurrency

    # [0,150) carried into bucket 1 where [110,120) opens → peak 2
    df = spark.createDataFrame([(0, 150), (110, 120)], "s long, e long")
    out = {
        r.b: r
        for r in peak_concurrency(
            df, "s", "e", F.expr("t div 100"), bucket_name="b"
        ).collect()
    }
    assert out[0].peak_concurrency == 1
    assert out[1].peak_concurrency == 2


# ------------------------------------------------------------ OLS trend ----


def test_grouped_ols_trend_exact_line(spark):
    from cubicerp_client_etl_spark.operators.quality import grouped_ols_trend

    # perfect line y = 3x + 7 → slope 3e6, intercept 7e6
    rows = [("g", x, 3 * x + 7) for x in range(10)]
    # falling line y = -2x + 100 → negative slope (tests div vs floor)
    rows += [("f", x, -2 * x + 100) for x in range(10)]
    # degenerate: single point
    rows += [("one", 5, 42)]
    df = spark.createDataFrame(rows, "g string, x long, y long")
    out = {r.g: r for r in grouped_ols_trend(df, ["g"], "x", "y").collect()}
    assert (out["g"].slope_e6, out["g"].intercept_e6) == (3_000_000, 7_000_000)
    assert (out["f"].slope_e6, out["f"].intercept_e6) == (-2_000_000, 100_000_000)
    assert out["one"].slope_e6 is None and out["one"].intercept_e6 is None
    assert out["one"].n == 1 and out["one"].sum_y == 42


def test_grouped_ols_trend_truncation_matches_python(spark):
    from cubicerp_client_etl_spark.operators.quality import grouped_ols_trend

    # noisy integer points: pin against the closed form with Python
    # int() truncation-toward-zero on the signed quotient
    pts = [(0, 13), (1, 9), (2, 17), (3, 4), (4, 21)]
    df = spark.createDataFrame([("g", x, y) for x, y in pts], "g string, x long, y long")
    r = grouped_ols_trend(df, ["g"], "x", "y").collect()[0]
    n = len(pts)
    sx = sum(x for x, _ in pts); sy = sum(y for _, y in pts)
    sxx = sum(x * x for x, _ in pts); sxy = sum(x * y for x, y in pts)
    det = n * sxx - sx * sx
    want_slope = int((n * sxy - sx * sy) * 1_000_000 / det) if det else None
    # int() truncates toward zero like Spark div
    assert r.slope_e6 == want_slope


# ------------------------------------------------ incremental aggregate ----


def test_maintain_aggregate_matches_recompute_and_drops_empty_groups(spark):
    from cubicerp_client_etl_spark.operators.history import maintain_aggregate

    summary = spark.createDataFrame(
        [("a", 2, 10), ("b", 1, 5), ("c", 3, 30)],
        "k string, n_rows long, sum_v long",
    )
    # a: +1 row (v=7); b: delete its only row → group disappears;
    # d: brand-new group; c untouched
    changes = spark.createDataFrame(
        [("a", 7, "I"), ("b", 5, "D"), ("d", 9, "I")],
        "k string, sum_v long, op string",
    )
    out = {
        r.k: r
        for r in maintain_aggregate(
            summary, changes, ["k"], "n_rows", ["sum_v"]
        ).collect()
    }
    assert (out["a"].n_rows, out["a"].sum_v) == (3, 17)
    assert "b" not in out  # count hit 0 → group disappears
    assert (out["c"].n_rows, out["c"].sum_v) == (3, 30)  # untouched survives
    assert (out["d"].n_rows, out["d"].sum_v) == (1, 9)   # new group appears


def test_maintain_aggregate_overdelete_surfaces_negative_count(spark):
    from cubicerp_client_etl_spark.operators.history import maintain_aggregate

    summary = spark.createDataFrame([("a", 1, 5)], "k string, n_rows long, sum_v long")
    changes = spark.createDataFrame(
        [("a", 5, "D"), ("a", 5, "D")], "k string, sum_v long, op string"
    )
    out = maintain_aggregate(summary, changes, ["k"], "n_rows", ["sum_v"]).collect()
    assert len(out) == 1 and out[0].n_rows == -1  # auditable, not clamped


# ----------------------------------------------------------- salted join ----


def test_salted_join_equivalent_to_plain_join(spark):
    from cubicerp_client_etl_spark.operators.lookups import salted_join

    # hot key: 'h' holds 500 of 520 rows; dim has 3 keys, one unmatched
    rows = [("h", i) for i in range(500)] + [("a", i) for i in range(10)] \
         + [("x", i) for i in range(10)]
    skewed = spark.createDataFrame(rows, "k string, v long")
    dim = spark.createDataFrame(
        [("h", 1), ("a", 2), ("z", 3)], "k string, r long"
    )
    for how in ("inner", "left"):
        got = sorted(
            (r.k, r.v, r.r)
            for r in salted_join(skewed, dim, "k", n_salts=8, how=how)
            .select("k", "v", "r").collect()
        )
        want = sorted(
            (r.k, r.v, r.r)
            for r in skewed.join(dim, "k", how).select("k", "v", "r").collect()
        )
        assert got == want, how


def test_salted_join_rejects_bad_args(spark):
    from cubicerp_client_etl_spark.operators.lookups import salted_join

    df = spark.createDataFrame([("a", 1)], "k string, v long")
    with pytest.raises(ValueError):
        salted_join(df, df, "k", 0)
    with pytest.raises(ValueError):
        salted_join(df, df, "k", 4, how="full")


# ----------------------------------------------------------- hi/lo split ----


def test_hi_lo_bigint_roundtrips_wide_decimals(spark):
    """The round-9 digest-carrier fix: a non-negative DECIMAL(38,0)
    splits into two BIGINT lanes that reconstruct it exactly, and the
    split matches DuckDB's HUGEINT // and % (the oracle-side form —
    DuckDB's // on DECIMAL rounds HALF_UP before flooring and must
    NOT be used)."""
    import duckdb

    from cubicerp_client_etl_spark.functions import hi_lo_bigint

    cases = [0, 1, 10**18 - 1, 10**18, 10**18 + 1,
             1234567890123456789012345, 10**36 + 7]
    df = spark.createDataFrame(
        [(str(c),) for c in cases], "s string"
    ).select(F.col("s").cast("decimal(38,0)").alias("_d"))
    got = {
        int(r.v_hi) * 10**18 + int(r.v_lo): (r.v_hi, r.v_lo)
        for r in df.select(*hi_lo_bigint("_d", "v"), F.col("_d")).collect()
    }
    assert set(got) == set(cases)
    con = duckdb.connect()
    for c in cases:
        hi, lo = con.execute(
            f"SELECT CAST(CAST('{c}' AS HUGEINT) // 1000000000000000000 AS BIGINT),"
            f" CAST(CAST('{c}' AS HUGEINT) % 1000000000000000000 AS BIGINT)"
        ).fetchone()
        assert got[c] == (hi, lo), c


# --------------------------------------------------------- boilerplate ----


def test_boilerplate_shingle_report_marks_shared_template(spark):
    from cubicerp_client_etl_spark.operators.curation import (
        boilerplate_shingle_report,
    )

    # 4 docs in one source; "copy right footer" appears in 3 of 4
    # (75% >= 50% → boilerplate); each doc also has unique content
    rows = [
        (1, "alpha beta gamma copy right footer", "s"),
        (2, "delta epsilon zeta copy right footer", "s"),
        (3, "eta theta iota copy right footer", "s"),
        (4, "kappa lambda mu nu xi", "s"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {
        r.doc_id: r
        for r in boilerplate_shingle_report(
            df, "doc_id", "text", "source", shingle_n=3
        ).collect()
    }
    # doc 1: 4 shingles ("alpha beta gamma" .. "copy right footer");
    # only "copy right footer" is shared by >= 2 docs... by 3 of 4
    assert out[1].n_shingles == 4 and out[1].n_boiler == 1
    assert out[1].boiler_ratio_e6 == 250_000
    assert out[4].n_boiler == 0 and out[4].boiler_ratio_e6 == 0
    with pytest.raises(ValueError):
        boilerplate_shingle_report(df, "doc_id", "text", "source",
                                   df_ratio_e6=0)


# ------------------------------------------------- association strength ----


def test_association_strength_extremes(spark):
    from cubicerp_client_etl_spark.operators.drift import association_strength

    # perfect determination: row decides col → V = 1e6 (χ² = n·k)
    det = [("r1", "c1")] * 5 + [("r2", "c2")] * 5
    r = association_strength(
        spark.createDataFrame(det, "r string, c string"), "r", "c"
    ).collect()[0]
    # e6 quantization: V within one ulp of 1e6
    assert r.cramers_v_e6 >= 999_999, r
    # exact independence → V = 0
    ind = (
        [("r1", "c1")] * 4 + [("r1", "c2")] * 4
        + [("r2", "c1")] * 2 + [("r2", "c2")] * 2
    )
    r = association_strength(
        spark.createDataFrame(ind, "r string, c string"), "r", "c"
    ).collect()[0]
    assert r.cramers_v_e6 == 0 and r.chi2_e6 == 0
    # degenerate: constant column → k = 0 → V defined as 0
    const = [("r1", "c1")] * 3 + [("r2", "c1")] * 3
    r = association_strength(
        spark.createDataFrame(const, "r string, c string"), "r", "c"
    ).collect()[0]
    assert r.cramers_v_e6 == 0 and r.c_levels == 1
