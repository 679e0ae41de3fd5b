"""Scale-posture plan checks (SURVEY §5.2.8, L-scale): the physical
plans must keep the properties that make the queries viable at 100 TB —
pushdown, pruning, partial aggregation, broadcast dims, top-k without a
global sort — asserted on the executed-plan string so regressions are
loud."""

from __future__ import annotations

import pytest

from cubicerp_client_etl_spark.queries import REGISTRY
from tests.conftest import SF_ORACLE


def plan_of(spark, name: str) -> str:
    df = REGISTRY[name].fn(spark, SF_ORACLE)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q01_pushdown_prune_partial_agg(spark):
    plan = plan_of(spark, "q001_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: the 11-column table is scanned at 7 columns
    assert "l_orderkey" not in plan.split("FileScan")[1].split("ReadSchema")[0]
    assert "partial_sum" in plan  # map-side combine before the exchange
    assert plan.count("Exchange hashpartitioning") == 1  # exactly one shuffle


def test_q02_no_shuffle_full_pushdown(spark):
    plan = plan_of(spark, "q278_filter_project")
    assert "Exchange" not in plan  # pure scan+project, stays map-only
    assert "PushedFilters" in plan and "GreaterThanOrEqual(l_shipdate" in plan
    assert "*(1)" in plan  # whole-stage codegen span (rendered as *(n))


def test_q07_broadcasts_dims(spark):
    plan = plan_of(spark, "q006_star_join_revenue")
    # nation/region must never shuffle the fact side
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan
    # fact scan reads only the join key + measures
    fact_scan = [s for s in plan.split("FileScan") if "l_extendedprice" in s][0]
    assert "l_shipdate" not in fact_scan.split("ReadSchema")[0]


def test_q04_topk_avoids_global_sort(spark):
    plan = plan_of(spark, "q280_top_k")
    assert "TakeOrderedAndProject" in plan  # per-partition heaps
    assert "Exchange rangepartitioning" not in plan  # no full sort


def test_q12_range_join_is_broadcast_not_cartesian(spark):
    plan = plan_of(spark, "q122_range_band_join")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_q258_semi_join_stays_semi(spark):
    plan = plan_of(spark, "q258_semi_join")
    assert "LeftSemi" in plan


def test_q55_probes_broadcast(spark):
    plan = plan_of(spark, "q034_cosine_topk")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_session_defaults_scale_flags(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled") == "true"
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"


@pytest.mark.parametrize(
    "name",
    [
        "q001_pricing_summary",
        "q153_distinct",
        "q006_star_join_revenue",
        "q030_dedup_keep_latest",
        "q037_text_analysis",
    ],
)
def test_fixture_queries_never_materialize_driver_side(spark, name):
    """No Scan ExistingRDD / LocalTableScan on fixture-backed paths —
    data must flow from the parquet scan, not via driver collect()."""
    plan = plan_of(spark, name)
    assert "Scan ExistingRDD" not in plan


def test_bucketed_join_needs_no_exchange(spark, tmp_path):
    """Co-located join via bucketing (L-scale): two tables bucketed and
    sorted on the join key join with ZERO Exchange operators — the
    pattern that removes the dominant shuffle from repeated big-table
    joins at 100 TB (bucket layout is computed once at write time and
    reused by every subsequent join on that key)."""
    import uuid

    from cubicerp_client_etl_spark.catalog import load

    db = f"bkt_{uuid.uuid4().hex[:8]}"
    spark.sql(f"CREATE DATABASE {db} LOCATION '{tmp_path}/wh'")
    try:
        li = load(spark, SF_ORACLE, "lineitem").select(
            "l_orderkey", "l_extendedprice"
        )
        o = load(spark, SF_ORACLE, "orders").select("o_orderkey", "o_orderpriority")
        (li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
         .saveAsTable(f"{db}.li_b"))
        (o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
         .saveAsTable(f"{db}.o_b"))
        j = spark.table(f"{db}.li_b").join(
            spark.table(f"{db}.o_b"),
            spark.table(f"{db}.li_b").l_orderkey
            == spark.table(f"{db}.o_b").o_orderkey,
        )
        # disable broadcast so the test proves bucketing (not size) kills
        # the shuffle; AQE off so the final plan is deterministic here
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            n = j.count()
            plan = j._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
            spark.conf.set("spark.sql.adaptive.enabled", "true")
        assert n == li.count()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
    finally:
        spark.sql(f"DROP DATABASE {db} CASCADE")


def test_partitioned_layout_prunes_partitions(spark, tmp_path):
    """Partition-pruning posture (L-scale): a date-partitioned layout
    must turn a date predicate into PartitionFilters with only the
    matching directories scanned — the mechanism that keeps a 100 TB
    time-series table queryable (scan cost ∝ days touched, not total)."""
    from pyspark.sql import functions as F

    from cubicerp_client_etl_spark.catalog import load

    events = load(spark, SF_ORACLE, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    path = str(tmp_path / "events_by_day")
    events.write.partitionBy("day").parquet(path)
    days = sorted(r["day"] for r in events.select("day").distinct().collect())
    assert len(days) >= 2, "fixture spans one day; pick a finer grain"
    one = days[0]

    q = spark.read.parquet(path).filter(F.col("day") == one)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "day" in plan.split("PartitionFilters")[1][:80]
    got = q.count()
    want = events.filter(F.col("day") == one).count()
    assert got == want and got > 0


def test_dynamic_partition_pruning_fires_on_dim_filtered_join(spark, tmp_path):
    """Dynamic partition pruning posture (L-scale): when a partitioned
    FACT joins a filtered DIM on the partition key, Catalyst must
    inject a dynamicpruning subquery into the fact scan's
    PartitionFilters — at 100 TB this is what keeps 'join sales to the
    last-week calendar dim' from scanning every day directory even
    though no literal date predicate touches the fact side."""
    from pyspark.sql import functions as F

    from cubicerp_client_etl_spark.catalog import load

    events = load(spark, SF_ORACLE, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    path = str(tmp_path / "events_by_day_dpp")
    events.write.partitionBy("day").parquet(path)
    days = sorted(r["day"] for r in events.select("day").distinct().collect())
    assert len(days) >= 3
    # calendar dim: (day, tag); the filter lives on the DIM only
    dim = spark.createDataFrame(
        [(d, "keep" if d in days[:2] else "drop") for d in days],
        "day string, tag string",
    )
    fact = spark.read.parquet(path)
    q = fact.join(dim.filter(F.col("tag") == "keep"), "day").groupBy(
        "day"
    ).count()
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan, plan
    # partition values read back type-inferred (DATE here) — compare
    # on the string rendering
    got = {str(r["day"]): r["count"] for r in q.collect()}
    want = {
        r["day"]: r["count"]
        for r in events.filter(F.col("day").isin(days[:2]))
        .groupBy("day")
        .count()
        .collect()
    }
    assert got == want and len(got) == 2


def test_q95_tpch_q6_pushdown_single_stage(spark):
    """Q6 must be the minimal shape: all three predicates pushed into
    the scan, one partial+final agg, no shuffle beyond the 1-row final."""
    plan = plan_of(spark, "q307_tpch_q6_forecast_revenue")
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters: [")[1].split("]")[0]
    assert "l_shipdate" in pushed and "l_discount" in pushed and "l_quantity" in pushed
    assert "partial_sum" in plan
    assert "Exchange hashpartitioning" not in plan  # single-row final agg


def test_q94_tpch_q5_broadcasts_all_dims(spark):
    plan = plan_of(spark, "q085_tpch_q5_local_supplier_volume")
    assert plan.count("BroadcastHashJoin") >= 3  # supplier/nation/region
    assert "CartesianProduct" not in plan


def test_q108_split_is_map_side_projection(spark):
    """The md5 split assignment must not shuffle rows before the count
    aggregation — it's a per-row projection (pushed-down at 100 TB)."""
    plan = plan_of(spark, "q108_hash_split_stratified")
    assert plan.count("Exchange hashpartitioning") == 1  # only the groupBy
    assert "partial_count" in plan or "partial_sum" in plan


def test_q111_heavy_hitters_aggregates_before_rank(spark):
    """Rank runs on the reduced key-frequency frame, never on raw rows:
    exactly one raw-data shuffle (the groupBy), then a single-partition
    window over ~#distinct-keys rows."""
    plan = plan_of(spark, "q111_heavy_hitters")
    assert "partial_count" in plan  # map-side combine of the frequency agg
    assert "CartesianProduct" not in plan  # share-of-total is broadcast


def test_q110_incremental_merge_reaggregates_partials(spark):
    plan = plan_of(spark, "q110_incremental_rollup")
    # both slices partial-aggregate before the union-merge
    assert plan.count("partial_sum") >= 2
    assert "CartesianProduct" not in plan


def test_cluster_conf_sizing_math(spark):
    """The 100 TB sizing formula: sane split counts, shuffle partitions
    scale with data but never drop below 2× cores, shuffle partition
    target fits per-core memory with headroom."""
    from cubicerp_client_etl_spark.session import cluster_conf

    conf = cluster_conf(input_bytes=100 * (1 << 40))  # 100 TiB
    assert int(conf["x.derived.inputSplitTasks"]) == 819200  # 100TiB/128MiB
    shuffle_parts = int(conf["spark.sql.shuffle.partitions"])
    assert shuffle_parts >= 2 * int(conf["x.derived.totalCores"])
    # 30 TiB shuffled at ~200MB per partition ≈ 157k partitions
    assert 140_000 <= shuffle_parts <= 170_000
    # small job floors at 2× cores instead of thousands of tiny partitions
    small = cluster_conf(input_bytes=1 << 30, executors=10)
    assert int(small["spark.sql.shuffle.partitions"]) == 2 * 10 * 4


def test_all_pairs_cosine_size_guard_flips_plan(spark):
    """VERDICT r1 #6 (updated for the numpy exact path): below
    max_exact_rows the operator runs the broadcast-corpus
    MapInPandas scan (no join operator at all — and certainly no
    nested-loop/cartesian); above it, the LSH bucket equi-join."""
    from cubicerp_client_etl_spark.operators import similarity as sim

    rows = [
        (i, [float((i * 7 + j * 3) % 5 - 2) for j in range(4)])
        for i in range(12)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def plan(d):
        return d._jdf.queryExecution().executedPlan().toString()

    exact = plan(sim.all_pairs_cosine(df, max_exact_rows=100, dim=4))
    assert "MapInPandas" in exact
    assert "NestedLoop" not in exact and "CartesianProduct" not in exact

    guarded = plan(sim.all_pairs_cosine(df, max_exact_rows=5, dim=4))
    assert "NestedLoop" not in guarded and "CartesianProduct" not in guarded
    assert "Join" in guarded  # bucket equi-join survives


def test_exact_cosine_pairs_bit_identical_to_hof_fold(spark):
    """The numpy left-fold accumulation must reproduce the Catalyst HOF
    theta join BIT-FOR-BIT (same IEEE additions in the same order) —
    values compared unrounded as raw doubles."""
    from pyspark.sql import functions as F

    from cubicerp_client_etl_spark.operators import similarity as sim

    rows = [
        (i, [((i * 13 + j * 7) % 17 - 8) / 3.0 for j in range(8)])
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r.id_a, r.id_b): r.cos
        for r in sim.exact_cosine_pairs(df, "vec_id", "embedding", -1.1).collect()
    }
    a = df.select(F.col("vec_id").alias("id_a"), sim.as_double("embedding").alias("va"))
    b = df.select(F.col("vec_id").alias("id_b"), sim.as_double("embedding").alias("vb"))
    cos = sim.cosine(F.col("va"), F.col("vb"))
    want = {
        (r.id_a, r.id_b): r.c
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cos.alias("c"))
        .collect()
    }
    assert set(got) == set(want) and len(got) == 40 * 39 // 2
    for k in want:
        assert got[k] == want[k], (k, got[k].hex(), want[k].hex())


def test_exact_cosine_pairs_guard_raises_above_bound(spark):
    """The max_exact_rows guard lives INSIDE exact_cosine_pairs (r10
    verdict item 2): an over-bound frame must raise BEFORE the driver
    collect — declared-exact callers fail loudly at scale instead of
    OOMing — and the check must short-circuit (limit(n+1).count()),
    never a full count."""
    import pytest

    from cubicerp_client_etl_spark.operators import similarity as sim

    rows = [(i, [float(i + j) for j in range(4)]) for i in range(12)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="max_exact_rows"):
        sim.exact_cosine_pairs(df, "vec_id", "embedding", 0.5, max_exact_rows=11)
    # at the bound exactly: no raise, normal results
    got = sim.exact_cosine_pairs(
        df, "vec_id", "embedding", -1.1, max_exact_rows=12
    ).collect()
    assert len(got) == 12 * 11 // 2
    # all_pairs_cosine threads its bound through to the inner guard:
    # n <= max_exact_rows stays on the exact path and must not raise
    exact = sim.all_pairs_cosine(
        df, threshold=-1.1, max_exact_rows=12, dim=4
    ).collect()
    assert len(exact) == 12 * 11 // 2


def test_q184_ivf_centroids_broadcast_no_cartesian(spark):
    """IVF ANN (q184): centroid assignment must broadcast the (tiny)
    centroid table, never cartesian the corpus."""
    plan = plan_of(spark, "q184_ivf_topk")
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_q082_minhash_lsh_no_cartesian(spark):
    """MinHash-LSH candidates (q082): band join must be an equi-join on
    (band, signature) — an all-pairs cartesian would defeat the point."""
    plan = plan_of(spark, "q082_minhash_lsh_candidates")
    assert "CartesianProduct" not in plan


def test_q140_sessionize_single_window_exchange(spark):
    """Lag+cumsum sessionization (q140): both window passes and the
    final session aggregate share the user_id partitioning — exactly one
    Exchange over the events table (AQE may add nothing else)."""
    plan = plan_of(spark, "q140_sessionize_lag_cumsum")
    ex = plan.count("Exchange hashpartitioning")
    assert ex <= 2, f"expected <=2 hash exchanges, saw {ex}\n{plan}"
    assert "CartesianProduct" not in plan


def test_q272_quality_report_single_pass_row_rules(spark):
    """Quality report (q272): the four row rules must evaluate in ONE
    conditional-aggregate pass over lineitem (no per-rule scan fanout:
    scans of lineitem stay bounded by the three report families)."""
    plan = plan_of(spark, "q272_quality_report")
    # row-rule pass + uniqueness + FK anti-join = at most 3 lineitem scans
    assert plan.count("lineitem.parquet") <= 3, plan.count("lineitem.parquet")


def test_q118_mixture_is_map_only(spark):
    """Weighted mixture (q118): a pure filter — zero Exchange operators,
    pushable into the scan stage."""
    plan = plan_of(spark, "q118_weighted_mixture")
    assert "Exchange" not in plan, plan


def test_q281_packing_single_bucket_shuffle(spark):
    """Sequence packing (q281): exactly one hash Exchange (the bucket
    shuffle feeding applyInPandas); everything else stays map-side."""
    plan = plan_of(spark, "q281_sequence_packing")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "FlatMapGroupsInPandas" in plan or "ArrowEvalPython" in plan


def test_q120_quantize_is_map_only(spark):
    plan = plan_of(spark, "q120_embedding_quantize")
    assert "Exchange" not in plan, plan


def test_q177_repetition_is_map_only(spark):
    """Repetition stats (q177): pure Catalyst HOF projection — zero
    Exchange, zero Python; scans documents at (doc_id, text) only."""
    plan = plan_of(spark, "q177_repetition_filter")
    assert "Exchange" not in plan, plan
    assert "Python" not in plan  # no UDF fallback
    scan = plan.split("FileScan")[1].split("ReadSchema")[1].split("\n")[0]
    assert "lang" not in scan and "source" not in scan  # column pruning


def test_q158_decontaminate_broadcasts_benchmark(spark):
    """Decontamination (q158): benchmark shingles broadcast — the
    corpus side must never shuffle before the join; the only hash
    exchanges are the benchmark-side distinct and the final per-doc
    aggregate."""
    plan = plan_of(spark, "q158_decontaminate")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan


def test_q124_chunking_is_map_only(spark):
    """Chunking (q124): explode of a computed range — no shuffle."""
    plan = plan_of(spark, "q124_chunking")
    assert "Exchange" not in plan, plan
    assert "Generate explode" in plan


def test_q125_unigram_partial_aggs(spark):
    """Corpus-frequency scoring (q125): both aggregations must show
    map-side partial aggregation, and the vocab join must not be a
    cartesian product."""
    plan = plan_of(spark, "q125_unigram_freq_score")
    assert "partial_count" in plan or "partial_sum" in plan, plan
    assert "CartesianProduct" not in plan


def test_q165_kmeans_assignment_is_join_free(spark):
    """k-means (q165): centroids enter the final assignment as
    LITERALS — the plan over embeddings must contain no join at all
    and no driver-side RDD scan (centroid collection is bounded
    O(k·dim) and feeds literals, not an ExistingRDD)."""
    plan = plan_of(spark, "q165_kmeans_int")
    assert "Join" not in plan, plan
    assert "Scan ExistingRDD" not in plan
    assert "Exchange" not in plan  # final assignment pass is map-only


def test_q127_changelog_compacts_before_join(spark):
    """Changelog apply (q023): the raw log must never reach the join —
    the window compaction (rn=1 filter) sits below it; join is on the
    shared key so the shuffles line up."""
    plan = plan_of(spark, "q023_apply_changelog")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # full-outer join present, fed by the windowed (compacted) side
    assert "FullOuter" in plan
    assert "RunningWindowFunction" in plan or "Window" in plan


def test_q129_rate_cap_is_broadcast_map_filter(spark):
    """Rate cap (q129): corpus side must NOT shuffle — group counts
    broadcast into a map-side filter; the only exchange feeds the tiny
    counts aggregate."""
    plan = plan_of(spark, "q129_rate_cap_per_group")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan


def test_q224_pipeline_gate_fuses_with_scan(spark):
    """Curation pipeline (q224): the quality gate is a map-only
    projection fused with the scan (no stats-join shuffle); the
    decontamination side broadcasts; nothing degenerates to a
    cartesian product."""
    plan = plan_of(spark, "q224_curation_pipeline")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # decontamination benchmark side
    # shuffles: dedup window + decon aggregate + cap window + anti-join
    # sides — the gate itself must not add one (bounded small count)
    assert plan.count("Exchange hashpartitioning") <= 6, plan.count(
        "Exchange hashpartitioning"
    )


def test_q111_heavy_hitters_uses_takeordered(spark):
    """Heavy hitters (q111): top-k must come from per-partition heaps
    (TakeOrderedAndProject), never a single-partition row_number over
    every distinct key."""
    plan = plan_of(spark, "q111_heavy_hitters")
    assert "TakeOrderedAndProject" in plan, plan


def test_q132_span_dedup_no_python_no_cartesian(spark):
    """Span dedup (q132): all-Catalyst (HOFs + aggregates + joins) —
    zero Python stages, no cartesian blowup, and NO WINDOW anywhere:
    the first-occurrence rule is the count+min(struct) partial
    aggregate, so an ultra-hot boilerplate shingle map-side combines
    instead of piling its occurrence list onto one window partition
    (VERDICT r2 #5 — the skew point is gone, not just capped)."""
    plan = plan_of(spark, "q132_span_dedup")
    assert "Python" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "partial_min" in plan or "partial_count" in plan or "HashAggregate" in plan


def test_q133_gap_fill_no_calendar_cross_join(spark):
    """Gap fill (q133): the day spine comes from per-key sequence()
    (map-side flatMap off the min/max aggregate) — no cross join with a
    calendar table, no cartesian, and every shuffle keys on user_id."""
    plan = plan_of(spark, "q133_gap_fill")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Generate explode" in plan


def test_q212_setsim_no_allpairs(spark):
    """Set-similarity join (q212): candidates come from the prefix
    equi-join — no cartesian/nested-loop anywhere in the plan."""
    plan = plan_of(spark, "q212_setsim_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q031_funnel_all_shuffles_on_user(spark):
    """Funnel (q031): staged conditional mins — no window over
    unbounded event arrays, no cartesian; aggregates show map-side
    partial min."""
    plan = plan_of(spark, "q031_funnel")
    assert "CartesianProduct" not in plan
    assert "partial_min" in plan
    assert "CollectList" not in plan and "collect_list" not in plan


def test_q170_scan_avoids_global_single_partition_window(spark):
    """Pareto scan (q170): the data-sized cumsum must run keyed on the
    range-partition id — the only unpartitioned windows in the plan are
    over the bounded partition-totals table. Assert the data window is
    partitioned (a windowspecdefinition with _pid) and the plan has no
    cartesian."""
    plan = plan_of(spark, "q170_pareto_scan")
    assert "_pid" in plan  # per-slice running sum keyed on partition id
    assert "CartesianProduct" not in plan


def _raw_row_windows_keyed_only_on(plan: str, key: str) -> list[str]:
    """windowspecdefinition(...) specs that partition on ``key`` WITHOUT
    the two-phase scan's _pid — the low-cardinality-key raw-row window
    shape that serializes each key group through one task (VERDICT r5
    #1/#2). The scan's own windows always carry _pid either in the
    partition spec (local sums) or the order spec (offset table).
    Only PARTITION-position references count (an ORDER BY over the key,
    e.g. the bounded domain dim's row_number, is fine): in the spec
    string order columns carry a direction (``key#N ASC/DESC``),
    partition columns don't."""
    import re

    flagged = []
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        if "_pid" in spec:
            continue
        part_refs = [
            m
            for m in re.finditer(rf"{re.escape(key)}#\d+L?", spec)
            if not re.match(r"\s+(ASC|DESC)", spec[m.end():])
        ]
        if part_refs:
            flagged.append(spec)
    return flagged


def test_q017_budget_no_raw_row_domain_window(spark):
    """Token-budget mixture (q017): runs on the KEYED two-phase scan —
    every window in the plan carries _pid (per-(source,pid) local sums
    or the bounded offset table); no window partitioned only on the
    O(10)-cardinality source over raw rows. Input is materialized once
    (checkpoint scan, no second FileScan); budget comparison is a plain
    filter; no Python, no cartesian."""
    plan = plan_of(spark, "q017_token_budget_mixture")
    assert _raw_row_windows_keyed_only_on(plan, "source") == [], plan
    assert "_pid" in plan, plan
    assert "Scan ExistingRDD" in plan, plan  # checkpoint reuse
    assert "FileScan" not in plan, plan  # input read exactly once
    assert "CartesianProduct" not in plan
    assert "Python" not in plan


def test_q142_interleave_no_raw_row_domain_window(spark):
    """Curriculum interleave (q142): the per-domain rank is a prefix
    count of ones on the keyed scan — no raw-row window partitioned
    only on source; the domain dimension (bounded, one row per domain)
    joins broadcast off the scan's checkpoint (input read once)."""
    plan = plan_of(spark, "q142_interleave_round_robin")
    assert _raw_row_windows_keyed_only_on(plan, "source") == [], plan
    assert "_pid" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "Scan ExistingRDD" in plan, plan
    assert "FileScan" not in plan, plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_q230_quantiles_no_data_sized_single_partition_stage(spark):
    """Exact quantiles (q230): the value-count reduction runs once,
    inside prefix_sum's checkpointed subplan — the final plan must
    consume the CHECKPOINT (Scan ExistingRDD), not re-aggregate the
    input, and its only windows run keyed on the two-phase scan's
    partition id (_pid present)."""
    plan = plan_of(spark, "q230_exact_quantiles")
    assert "Scan ExistingRDD" in plan, plan  # checkpoint reuse, no rescan
    assert "FileScan" not in plan, plan  # input is never read twice
    assert "_pid" in plan, plan
    assert "CartesianProduct" not in plan


def test_q210_incremental_dedup_stays_anti_join(spark):
    """Incremental dedup (q210): the seen-keys probe is a LeftAnti
    join on the content key — never a cartesian or a collected set."""
    plan = plan_of(spark, "q210_incremental_dedup")
    assert "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan


def test_q145_retention_single_cluster_shuffle(spark):
    """Keep-best retention (q145): one window shuffle on the cluster
    fingerprint; the rank filter runs above it map-side."""
    plan = plan_of(spark, "q145_keep_best_per_cluster")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "CartesianProduct" not in plan


def test_q231_interval_join_is_equi_shaped(spark):
    """Binned interval join (q231): the big×big range join must run as
    a hash/sort-merge equi-join on (keys, bin) — never a nested-loop
    or cartesian between two data-sized sides."""
    plan = plan_of(spark, "q231_interval_overlap_join")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    ), plan


def test_q148_grouped_quantiles_group_keyed_windows_only(spark):
    """Grouped quantiles (q148): every window in the plan is PARTITIONED
    (by source) — no unpartitioned data-sized window; count reduction
    happens before the window (partial_count present)."""
    plan = plan_of(spark, "q148_grouped_quantiles")
    assert "partial_count" in plan, plan
    import re
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "source" in spec, plan


def test_q217_fuzzy_retention_no_allpairs(spark):
    """Fuzzy-dedup retention (q217): the similarity stage must stay
    prefix-filtered equi-joins — no cartesian, no nested loop between
    data-sized sides — and the retention window must be keyed."""
    plan = plan_of(spark, "q217_fuzzy_dedup_retention")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_q298_pq_search_never_rescans_raw_vectors(spark):
    """PQ ADC (q298): the search aggregate consumes the code table +
    broadcast LUT only — no cartesian; the (probe,id) sum shows
    map-side partial aggregation."""
    plan = plan_of(spark, "q298_pq_adc_topk")
    assert "CartesianProduct" not in plan, plan
    assert "partial_sum" in plan, plan


def test_q154_bigram_fluency_partial_aggs_no_python(spark):
    """Bigram fluency (q154): all three aggregations partial-agg before
    their exchanges; zero Python, no cartesian."""
    plan = plan_of(spark, "q154_bigram_fluency")
    assert "partial_count" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Python" not in plan, plan


def test_q155_dedup_observability_single_source_rollup(spark):
    """Dedup observability (q155): distinct-counting expands map-side
    (partial aggregation) and rolls up keyed on source; no Python."""
    plan = plan_of(spark, "q155_dedup_observability")
    assert "partial_count" in plan, plan
    assert "Python" not in plan, plan


def test_bucketed_join_eliminates_exchanges(spark):
    """Co-located join via bucketBy: two tables bucketed on the same
    key with the same bucket count must SortMergeJoin with ZERO
    Exchange operators (the bucketing satisfies the join's
    HashPartitioning requirement on both sides) — the pay-the-layout-
    once shape for a recurring fact-to-fact join at 100 TB. The same
    join over plain parquet carries two Exchanges; both facts pinned."""
    from cubicerp_client_etl_spark.catalog import load
    from cubicerp_client_etl_spark.sinks.writers import write_bucketed_table

    orders = load(spark, "/root/testdata/sf0.001", "orders").select(
        "o_orderkey", "o_totalprice"
    )
    li = load(spark, "/root/testdata/sf0.001", "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    # AQE may still plan tiny sides as broadcast: disable the
    # broadcast threshold so the bucketing (not size) decides the plan
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        write_bucketed_table(orders, "t_orders_b", ["o_orderkey"], 8,
                             sort_cols=["o_orderkey"])
        write_bucketed_table(li, "t_lineitem_b", ["l_orderkey"], 8,
                             sort_cols=["l_orderkey"])
        a = spark.table("t_orders_b")
        b = spark.table("t_lineitem_b")
        bucketed = a.join(b, a.o_orderkey == b.l_orderkey)
        plan_b = bucketed._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan_b, plan_b
        assert "SortMergeJoin" in plan_b, plan_b
        plain = orders.join(li, orders.o_orderkey == li.l_orderkey)
        plan_p = plain._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in plan_p, plan_p
        # same rows either way — layout is a physical property only
        assert bucketed.count() == plain.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def test_bucketed_join_zero_exchange_below_join_at_sf01(spark):
    """The registered q009_bucketed_colocated_join at sf0.1: the
    SortMergeJoin over the bucketed fact tables must see ZERO Exchange
    below it (the bucketing satisfies both sides' HashPartitioning
    requirement); the only exchange in the whole query is the final
    groupBy rollup's. Pins the scale remedy on the real 600k-row
    fixture, not just the sf0.001 smoke."""
    from cubicerp_client_etl_spark.queries.pipeline_ext10 import (
        bucketed_fact_tables,
    )

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a, b = bucketed_fact_tables(spark, "/root/testdata/sf0.1")
        joined = a.join(b, a.o_orderkey == b.l_orderkey)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan, plan
        rolled = joined.groupBy("o_orderpriority").count()
        plan_r = rolled._jdf.queryExecution().executedPlan().toString()
        # exactly one exchange: the rollup's own hash partitioning
        assert plan_r.count("Exchange") == 1, plan_r
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")


def test_q299_depreciation_schedule_map_only(spark):
    """The depreciation schedule is closed-form in the period index —
    the whole plan must be a scan + filter + explode + project: ZERO
    exchanges (a window or per-asset shuffle here would be a
    regression; the subledger explode has to scale as a pure map)."""
    plan = plan_of(spark, "q299_depreciation_schedule")
    assert "Exchange" not in plan
    assert "Generate explode" in plan or "Generate" in plan


def test_q136_fuzzy_screen_banded_equi_join(spark):
    """The fuzzy duplicate-invoice screen must block on (party, probe
    bucket): an equi-join, never a cartesian/nested-loop over the
    invoice table."""
    plan = plan_of(spark, "q136_fuzzy_dup_invoices")
    assert "CartesianProduct" not in plan
    assert "NestedLoop" not in plan.replace("BroadcastNestedLoopJoin", "")
    # the 1-row planted-count broadcast is the only nested-loop join
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_online_mapped_job_plans_without_rdd_scan_or_join(spark):
    """An online job's inline payload and its value mapping stay JVM
    literals: the executed plan of extract → transform has no
    ``ExistingRDD`` scan (a Python-pickled ``createDataFrame``) and no
    join (a mapping frame)."""
    import base64

    from cubicerp_client_etl_spark.plans.interpreter import extract, transform
    from cubicerp_client_etl_spark.plans.spec import (
        ColumnSpec,
        FieldSpec,
        JobSpec,
        MappingSpec,
        ResourceSpec,
        TransformSpec,
    )

    payload = base64.b64encode(b"1;A\n2;R\n3;N\n").decode()
    job = JobSpec(
        name="online_mapped",
        job_type="online",
        input_payload_b64=payload,
        extract=ResourceSpec(
            name="in", f_type="csv", txt_separator=";",
            columns=(ColumnSpec("k"), ColumnSpec("flag")),
        ),
        transform=TransformSpec(
            name="t",
            fields=(
                FieldSpec("k", field_name="k"),
                FieldSpec("flag", field_name="flag", mapping="flags"),
            ),
            mappings=(MappingSpec("flags", (("A", "Acc"), ("R", "Ret")), "Unk"),),
        ),
        load=ResourceSpec(name="out"),
    )
    df = transform(extract(spark, job), job.transform, job)
    assert sorted(tuple(r) for r in df.collect()) == [
        ("1", "Acc"), ("2", "Ret"), ("3", "Unk")
    ]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan, plan
    assert "Join" not in plan, plan


def test_header_footer_extract_is_one_narrow_scan(spark, tmp_path):
    """A csv/txt extract with header and footer reads each file once and
    slices its own lines: the executed plan has no window, no join and
    a single file scan."""
    from cubicerp_client_etl_spark.plans.interpreter import extract
    from cubicerp_client_etl_spark.plans.spec import (
        ColumnSpec,
        JobSpec,
        ResourceSpec,
        TransformSpec,
    )

    for i in range(2):
        (tmp_path / f"part-{i}.csv").write_text(f"H;{i}\n1;a\n2;b\nT;2\n")
    job = JobSpec(
        name="hf",
        extract=ResourceSpec(
            name="in", f_type="csv", f_filename=str(tmp_path), txt_separator=";",
            columns=(ColumnSpec("k"), ColumnSpec("v")),
            header_columns=(ColumnSpec("hrec"), ColumnSpec("batch")),
            footer_columns=(ColumnSpec("trec"), ColumnSpec("n")),
        ),
        transform=TransformSpec(name="t"),
        load=ResourceSpec(name="out"),
    )
    df = extract(spark, job)
    assert sorted((r.batch, r.k, r.n) for r in df.collect()) == [
        ("0", "1", "2"), ("0", "2", "2"), ("1", "1", "2"), ("1", "2", "2")
    ]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    assert "Join" not in plan, plan
    assert plan.count("FileScan") == 1, plan


def test_job_path_sources_build_no_python_frames():
    """Driver-side literals on the ETL job path are JVM expressions: no
    module under ``plans/`` or ``sources/`` calls ``createDataFrame``."""
    import pathlib

    import cubicerp_client_etl_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    files = sorted((root / "plans").glob("*.py")) + sorted((root / "sources").glob("*.py"))
    assert files
    offenders = [p.name for p in files if "createDataFrame(" in p.read_text()]
    assert offenders == []


def _broad_handler(node) -> bool:
    """A bare ``except`` or one that catches ``Exception``/``BaseException``."""
    if node.type is None:
        return True
    names = node.type.elts if hasattr(node.type, "elts") else [node.type]
    return any(getattr(n, "id", None) in ("Exception", "BaseException") for n in names)


def test_package_has_no_silent_exception_swallows():
    """Failures are loud: no broad ``except`` in the package whose body is
    only ``pass``."""
    import ast
    import pathlib

    import cubicerp_client_etl_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    files = sorted(root.rglob("*.py"))
    assert files
    offenders = [
        f"{path.relative_to(root)}:{node.lineno}"
        for path in files
        for node in ast.walk(ast.parse(path.read_text(), str(path)))
        if isinstance(node, ast.ExceptHandler)
        and _broad_handler(node)
        and all(isinstance(stmt, ast.Pass) for stmt in node.body)
    ]
    assert offenders == []


def test_sketch_operators_use_one_hash_family():
    """The similarity sketches hash only with md5 (the family the DuckDB
    oracle replays): no ``xxhash64`` or ``hash`` call in the dedup,
    similarity or sketch operators."""
    import ast
    import pathlib

    import cubicerp_client_etl_spark as pkg

    ops = pathlib.Path(pkg.__file__).parent / "operators"
    offenders = [
        f"{name}:{node.lineno}"
        for name in ("dedup.py", "similarity.py", "sketches.py")
        for node in ast.walk(ast.parse((ops / name).read_text(), name))
        if isinstance(node, ast.Call)
        and getattr(node.func, "attr", getattr(node.func, "id", None))
        in ("xxhash64", "hash")
    ]
    assert offenders == []


def test_one_hamming_verify():
    """Every bit-fingerprint near-dup join goes through one Hamming
    blocker: exactly one package function calls ``bit_count``."""
    import ast
    import pathlib

    import cubicerp_client_etl_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    callers = sorted(
        f"{path.relative_to(root)}:{fn.name}"
        for path in root.rglob("*.py")
        for fn in ast.walk(ast.parse(path.read_text(), str(path)))
        if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef))
        and any(
            isinstance(node, ast.Call)
            and getattr(node.func, "attr", getattr(node.func, "id", None))
            == "bit_count"
            for node in ast.walk(fn)
        )
    )
    assert callers == ["operators/dedup.py:_hamming_band_join"]
