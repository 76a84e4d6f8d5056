"""Quality checks beyond the oracle gate: approximation accuracy and
plan-shape assertions for ops the hash check can't fully validate."""

from __future__ import annotations

from s3_avro_repair_spark.plans.registry import load_all

_OPS = load_all()


def test_approx_distinct_within_rsd(spark, sf_dir, duck):
    """HLL++ has no cross-engine oracle; assert the approximation is
    within 3x the configured rsd (0.01) of DuckDB's exact distinct."""
    sdf = _OPS["agg_approx_distinct"].fn(spark, sf_dir).toPandas()
    exact = duck.execute(
        """
        SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact_parts
        FROM lineitem GROUP BY l_returnflag
        """
    ).fetchdf()
    merged = sdf.merge(exact, on="l_returnflag")
    assert len(merged) == len(exact)
    for _, row in merged.iterrows():
        rel_err = abs(row.approx_parts - row.exact_parts) / row.exact_parts
        assert rel_err <= 3 * 0.01, (
            f"{row.l_returnflag}: approx={row.approx_parts} "
            f"exact={row.exact_parts} rel_err={rel_err:.4f}"
        )


def test_asof_plan_has_no_join(spark, sf_dir):
    """join_asof must be the union+window plan — a join on user_id with
    a ts residual inflates quadratically per key at scale."""
    df = _OPS["join_asof"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, f"asof plan contains a join:\n{plan}"
    assert plan.count("Exchange") <= 2, plan


def test_ntile_plan_is_partitioned(spark, sf_dir):
    """window_ntile must not push all rows through one unpartitioned
    global window."""
    df = _OPS["window_ntile"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re

    # No Window node may operate over the full input without partitioning:
    # the local row_number window must mention pid in its partition spec.
    win_specs = re.findall(r"Window \[(.*?)\]", plan)
    assert any("pid" in s for s in win_specs), plan


def test_range_frame_plan_is_value_bucketed(spark, sf_dir):
    """window_range_frame must run its RANGE window partitioned by
    (flag, value-bucket) — a window partitioned only on 3-value
    l_returnflag pushes a third of the table through one task."""
    import re

    df = _OPS["window_range_frame"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    win_specs = re.findall(r"Window \[(.*?)\], \[(.*?)\]", plan)
    assert win_specs, plan
    for _funcs, part in win_specs:
        assert "bkt" in part, f"window partitioned without value bucket: {part}"


def test_corpus_windows_are_sub_stratified(spark, sf_dir):
    """sample_stratified / pack_sequences must window over
    (lang, hash-bucket) sub-strata — a window partitioned on lang alone
    puts a 90%-English corpus's dominant stratum in one task."""
    import re

    for op, bucket_col in (("sample_stratified", "bkt"), ("pack_sequences", "shard")):
        df = _OPS[op].fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        win_specs = re.findall(r"Window \[(.*?)\], \[(.*?)\]", plan)
        assert win_specs, f"{op}: no window in plan\n{plan}"
        for _funcs, part in win_specs:
            assert bucket_col in part, (
                f"{op}: window partitioned without {bucket_col}: {part}"
            )


def test_approx_percentile_close_to_exact(spark, sf_dir, duck):
    """The GK sketch guarantees rank error <= 1/accuracy; assert the
    approximate percentiles sit within a tolerant value band of
    DuckDB's exact continuous quantiles."""
    sdf = _OPS["agg_approx_percentile"].fn(spark, sf_dir).toPandas()
    exact = duck.execute(
        """
        SELECT l_returnflag,
               quantile_cont(l_extendedprice, 0.5) AS e50,
               quantile_cont(l_extendedprice, 0.9) AS e90,
               quantile_cont(l_extendedprice, 0.99) AS e99
        FROM lineitem GROUP BY l_returnflag
        """
    ).fetchdf()
    merged = sdf.merge(exact, on="l_returnflag")
    assert len(merged) == len(exact)
    for _, row in merged.iterrows():
        for a, e in (("ap50", "e50"), ("ap90", "e90"), ("ap99", "e99")):
            rel = abs(row[a] - row[e]) / row[e]
            assert rel <= 0.05, f"{row.l_returnflag} {a}: {row[a]} vs {row[e]}"


def test_range_bucketed_plan_is_hash_join(spark, sf_dir):
    """join_range_bucketed exists to AVOID the nested-loop fallback —
    its (user, bucket) key must produce a real equi-join."""
    df = _OPS["join_range_bucketed"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_dpp_plan_has_dynamic_pruning(spark, sf_dir):
    """join_dpp exists to demonstrate runtime partition pruning — the
    dynamicpruning subquery must be injected into the fact scan."""
    df = _OPS["join_dpp"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan


def test_heavy_hitters_counts_exact(spark, sf_dir, duck):
    """approx_top_k with maxItemsTracked >> vocabulary is exact on
    counts; the true top-5 tokens must all be reported."""
    hh = _OPS["agg_heavy_hitters"].fn(spark, sf_dir).toPandas()
    exact = duck.execute(
        """
        SELECT w AS token, COUNT(*) AS n FROM
          (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        GROUP BY w ORDER BY n DESC, token
        """
    ).fetchdf()
    exact_map = dict(zip(exact.token, exact.n))
    for _, row in hh.iterrows():
        assert exact_map.get(row.token) == row.n, (row.token, row.n)
    top5 = set(exact.head(5).token)
    assert top5 <= set(hh.token)


# Ops whose query FUNCTION itself executes jobs (streaming availableNow
# runs, iterative fixpoints, sink materialization) — building their
# "plan" means running them, so the cartesian sweep skips them; each
# has its own dedicated correctness/plan coverage elsewhere.
_EAGER_OPS = {
    "dedup_clusters", "dedup_clusters_bigstar", "dedup_canonical",
    "graph_pagerank", "graph_triangles",
    "join_dpp", "compact_small_files", "avro_rewrite", "avro_compact",
    "sink_parquet", "sink_avro", "sink_bucketed", "sink_avro_datasource",
    "join_bucketed_tables",
}


def test_no_cartesian_product_anywhere(spark, sf_dir):
    """Global scale guard: NO registered op may plan a CartesianProduct
    (the unbounded all-pairs join — the #1 100 TB killer). The one
    exception is join_cross, whose point is a deliberate constant-size
    cross join. Broadcast nested-loop joins are allowed: they are
    bounded by the broadcast side.

    This sweeps every lazily-planned op; a regression that drops a
    join condition or loses a broadcast bound fails here by name."""
    offenders = []
    for name, op in sorted(_OPS.items()):
        if op.group == "T" or name in _EAGER_OPS or name == "join_cross":
            continue
        df = op.fn(spark, sf_dir)
        plan = df._jdf.queryExecution().sparkPlan().toString()
        if "CartesianProduct" in plan:
            offenders.append(name)
    assert not offenders, f"cartesian products in: {offenders}"


def test_scan_sample_is_faithful_and_calibrated(spark, sf_dir, duck):
    """scan_sample is rows-only (engine RNG), so pin the three things
    that make a Bernoulli sample a sample: every emitted row is a real
    source row, the draw is seed-stable run-to-run, and the sample
    size sits within 5 sigma of fraction * N (binomial)."""
    out = _OPS["scan_sample"].fn(spark, sf_dir).toPandas()
    again = _OPS["scan_sample"].fn(spark, sf_dir).toPandas()
    assert sorted(out.o_orderkey) == sorted(again.o_orderkey)

    src = duck.execute(
        "SELECT o_orderkey, o_totalprice FROM orders"
    ).fetchdf()
    merged = out.merge(src, on="o_orderkey", suffixes=("", "_src"))
    assert len(merged) == len(out)  # subset of source keys
    assert (merged.o_totalprice == merged.o_totalprice_src).all()

    n = len(src)
    mean, sigma = 0.1 * n, (n * 0.1 * 0.9) ** 0.5
    assert abs(len(out) - mean) <= 5 * sigma, (len(out), mean, sigma)


def test_shuffle_budget_everywhere(spark, sf_dir):
    """Global scale guard #2: data shuffles (hash/range/single-partition
    exchanges in the executed plan, broadcasts excluded) are the unit
    of 100 TB cost, so every op carries a budget. The ceiling is 12 —
    held only by kmeans_quantized, whose unrolled Lloyd iterations each
    legitimately re-aggregate — and the known-heavy plans are pinned
    individually so a regression shows up by name, not as a blown
    global cap. Everything unpinned must fit in 6.

    Counted on executedPlan (EnsureRequirements has inserted the
    exchanges; AQE's initial plan — runtime coalescing can only
    remove work). Fixture-size caveat: broadcast-vs-shuffle choices
    depend on size estimates, so bounds are <=, never ==."""
    pinned = {
        "kmeans_quantized": 12,       # unrolled Lloyd: agg per iteration
        "window_funnel": 9,           # 3 stage aggs + joins + 3 counts
        "window_cumulative_distinct": 8,  # two-phase prefix sum
        "subquery_correlated_agg": 7,     # decorrelated agg + outer join
        # r6 companion-bound ops legitimately run TWO pipelines — the
        # sketch under test AND an exact baseline — plus the
        # intersection joins that compare them, so their budget is
        # roughly the sum of their parts (dedup_near_recall = dedup_near
        # ~6 + ngram-jaccard truth ~4 + string-shingle precision pass;
        # r7 adds the bounded sampled threshold recheck — one global
        # top-256 sort + two shingle joins — which is what buys the
        # emitted-pair >= 0.5 claim injectivity alone cannot check):
        "dedup_near_recall": 19,
        "dedup_simhash_recall": 11,
        # lsh_recall runs the sketch + the exact euclid truth + the
        # per-query distance-ratio (qgood) aggregate + the pair/tie
        # hit union — four comparison stages over two pipelines
        "sim_ann_lsh_recall": 16,
        "sim_ann_ivf_recall": 10,
        "agg_distinct_kmv_bounds": 10,
    }
    default_budget = 6
    offenders = []
    for name, op in sorted(_OPS.items()):
        if op.group == "T" or name in _EAGER_OPS:
            continue
        plan = (
            op.fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        )
        n = (
            plan.count("Exchange hashpartitioning")
            + plan.count("Exchange rangepartitioning")
            + plan.count("Exchange SinglePartition")
        )
        if n > pinned.get(name, default_budget):
            offenders.append((name, n))
    assert not offenders, f"shuffle budget exceeded: {offenders}"


def test_q_group_plan_shapes(spark, sf_dir):
    """The Q-group composites must compile to the plans their
    docstrings promise: broadcast hash joins for the dims, TakeOrdered
    (never a global Sort) for the top-k cuts."""
    top10 = _OPS["q_shipping_priority"].fn(spark, sf_dir)
    plan = top10._jdf.queryExecution().sparkPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan

    star = _OPS["q_local_supplier"].fn(spark, sf_dir)
    plan = star._jdf.queryExecution().sparkPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 3, plan

    top20 = _OPS["q_returned_items"].fn(spark, sf_dir)
    plan = top20._jdf.queryExecution().sparkPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan

    # Q17 shape: both the brand dim and the per-part aggregate join
    # back broadcast — the fact side is scanned but never shuffled.
    q17 = _OPS["q_small_qty_parts"].fn(spark, sf_dir)
    plan = q17._jdf.queryExecution().sparkPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 2, plan

    # Q19 shape: part stays broadcast despite the OR-of-ANDs predicate.
    q19 = _OPS["q_disjunctive_revenue"].fn(spark, sf_dir)
    plan = q19._jdf.queryExecution().sparkPlan().toString()
    assert "BroadcastHashJoin" in plan, plan


def test_scan_pushdown_and_pruning(spark, sf_dir):
    """Filters must reach the parquet scan (PushedFilters) and the scan
    must read ONLY the projected columns (ReadSchema) — the two free
    scale levers the declarative plan buys. A scan reading all columns
    for a narrow projection is a regression this pins."""
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )

    def formatted(name):
        df = _OPS[name].fn(spark, sf_dir)
        return df._jdf.queryExecution().explainString(mode)

    ex = formatted("filter_predicate")
    assert "GreaterThan(l_quantity,30.0)" in ex, ex  # predicate at the scan
    ex = formatted("project_select")
    read = next(l for l in ex.splitlines() if "ReadSchema" in l)
    # 3-column projection -> exactly those columns in the scan schema
    assert read.count(":") <= 4 and "c_custkey" in read, read


def test_runtime_bloom_filter_plan(spark, sf_dir):
    """join_runtime_filter must actually inject the bloom: a
    bloom_filter_agg build on the dim side and a might_contain probe
    pushed to the fact scan."""
    df = _OPS["join_runtime_filter"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "bloom_filter_agg" in plan, plan
    assert "might_contain" in plan, plan


def test_subquery_decorrelation_plans(spark, sf_dir):
    """Subquery ops must decorrelate: IN -> semi join, NOT EXISTS ->
    anti join, never a per-row re-execution (no nested loops beyond a
    bounded broadcast)."""
    plan = (
        _OPS["filter_in_subquery"].fn(spark, sf_dir)
        ._jdf.queryExecution().sparkPlan().toString()
    )
    assert "LeftSemi" in plan, plan
    plan = (
        _OPS["filter_not_exists"].fn(spark, sf_dir)
        ._jdf.queryExecution().sparkPlan().toString()
    )
    assert "LeftAnti" in plan, plan


def test_scan_observed_metrics_exact(spark, sf_dir, duck):
    """scan_observed's side-channel metrics must equal the exact
    full-scan aggregates (the observation sits above the scan, below
    the filter)."""
    df = _OPS["scan_observed"].fn(spark, sf_dir)
    df.collect()
    metrics = df._jdf.queryExecution().observedMetrics()
    row = metrics.get("scan_metrics").get()
    exact = duck.execute(
        "SELECT COUNT(*), SUM(l_quantity) FROM lineitem"
    ).fetchone()
    assert row.getLong(0) == exact[0]
    assert abs(row.getDouble(1) - float(exact[1])) < 1e-6


def test_r3_composite_plan_shapes(spark, sf_dir):
    """The round-3 composites must compile to the plans their
    docstrings promise: the Q2 shape broadcasts both dims around a
    single fact aggregate; the Q4 shape stays one semi join (never an
    inner join that would duplicate orders); the Q8 star broadcasts
    every dim; the funnel cascade plans no broadcast full-outer and no
    cartesian anywhere (global sweep covers the latter)."""
    plan = (
        _OPS["q_min_cost_supplier"].fn(spark, sf_dir)
        ._jdf.queryExecution().sparkPlan().toString()
    )
    assert plan.count("BroadcastHashJoin") >= 2, plan

    plan = (
        _OPS["q_priority_waiting"].fn(spark, sf_dir)
        ._jdf.queryExecution().sparkPlan().toString()
    )
    assert "LeftSemi" in plan, plan

    plan = (
        _OPS["q_market_share"].fn(spark, sf_dir)
        ._jdf.queryExecution().sparkPlan().toString()
    )
    assert plan.count("BroadcastHashJoin") >= 4, plan

    # Q16 shape: the supplier denylist must be a broadcast ANTI join
    # (non-null NOT IN), never a NULL-aware nested loop.
    plan = (
        _OPS["q_parts_supplier_count"].fn(spark, sf_dir)
        ._jdf.queryExecution().sparkPlan().toString()
    )
    assert "LeftAnti" in plan, plan
    assert "BroadcastNestedLoop" not in plan, plan

    # Q21 shape: EXISTS + NOT EXISTS over the same fact = one semi and
    # one anti join, both hash-keyed on the order key.
    plan = (
        _OPS["q_suppliers_kept_waiting"].fn(spark, sf_dir)
        ._jdf.queryExecution().sparkPlan().toString()
    )
    assert "LeftSemi" in plan, plan
    assert "LeftAnti" in plan, plan
    assert "BroadcastNestedLoop" not in plan, plan


def test_triangle_plan_is_hash_joined(spark, sf_dir):
    """graph_triangles' wedge-closing join must be a LEFT SEMI hash
    join (each wedge emitted at most once however many times the
    closing edge matches) and the post-checkpoint plan must stay
    cartesian-free — the degree-orientation contract."""
    df = _OPS["graph_triangles"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().sparkPlan().toString()
    assert "LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_bitmap_distinct_is_two_level(spark, sf_dir):
    """agg_bitmap_distinct's plan must aggregate twice (per-bucket
    bitmap OR, then popcount sum) with a partial (map-side) step for
    each — the fixed-size-bitmap shuffle that replaces raw-key expand."""
    plan = (
        _OPS["agg_bitmap_distinct"].fn(spark, sf_dir)
        ._jdf.queryExecution().sparkPlan().toString()
    )
    assert "bitmap_construct_agg" in plan, plan
    assert "partial_bitmap_construct_agg" in plan, plan  # map-side OR
    assert "partial_sum" in plan, plan  # map-side popcount sum


def test_hll_merge_close_to_exact(spark, sf_dir, duck):
    """agg_hll_merge's merged regional estimates must land within 5%
    of the exact per-region distinct counts, and the plan must show
    the two-level sketch shape (sketch agg, then union agg) rather
    than a raw-key re-aggregation."""
    df = _OPS["agg_hll_merge"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().sparkPlan().toString()
    assert "hll_sketch_agg" in plan, plan
    assert "hll_union_agg" in plan, plan
    got = df.toPandas()
    exact = duck.execute(
        """
        SELECT n_regionkey, COUNT(DISTINCT c_custkey) AS exact_customers
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_regionkey
        """
    ).fetchdf()
    merged = got.merge(exact, on="n_regionkey")
    assert len(merged) == len(exact)
    for _, row in merged.iterrows():
        rel_err = abs(row.approx_customers - row.exact_customers) / row.exact_customers
        assert rel_err <= 0.05, (
            f"region {row.n_regionkey}: approx={row.approx_customers} "
            f"exact={row.exact_customers} rel_err={rel_err:.4f}"
        )


def test_distribution_plan_is_distributed(spark, sf_dir):
    """window_distribution must compute ranks within (pid, status)
    sub-partitions — a window partitioned only on 2-3-value
    o_orderstatus pushes half the table through one task. The big
    window must carry pid; only the tiny per-(pid,status) counts
    side-table may window on the status alone."""
    import re

    df = _OPS["window_distribution"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    win_specs = re.findall(r"Window \[(.*?)\], \[(.*?)\]", plan)
    assert win_specs, plan
    row_number_specs = [p for f, p in win_specs if "row_number" in f]
    assert row_number_specs, plan
    for part in row_number_specs:
        assert "pid" in part, f"rank window not pid-partitioned: {part}"


def test_q6_predicates_reach_the_scan(spark, sf_dir):
    """q_forecast_revenue is the scan-path proof: all four predicates
    must push into the parquet source (shipdate range prunes row
    groups; the projection must be the 4 needed columns, not *)."""
    df = _OPS["q_forecast_revenue"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan, plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed: {pushed}"
    read = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    assert "l_extendedprice" in read, read
    # Full lineitem is 11 columns; the scan must read only 4.
    assert read.count(",") <= 3, f"over-wide scan: {read}"


def test_kmv_accuracy(spark, sf_dir):
    """agg_distinct_kmv's estimates must sit within the KMV error
    envelope (~1/sqrt(k-1) ~ 13% at k=64; assert 3 sigma) of the exact
    distinct counts, and sketches smaller than k must be EXACT."""
    from pyspark.sql import functions as F
    from s3_avro_repair_spark.tables import table

    est = {
        (r["scope"], r["key"]): r["est_distinct"]
        for r in _OPS["agg_distinct_kmv"].fn(spark, sf_dir).collect()
    }
    li = table(spark, sf_dir, "lineitem")
    exact = {
        ("flag", r["l_returnflag"]): r["n"]
        for r in li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_orderkey").alias("n"))
        .collect()
    }
    exact[("all", "*")] = li.select("l_orderkey").distinct().count()
    assert set(est) == set(exact)
    for key, e in est.items():
        x = exact[key]
        if x < 64:
            assert e == x, f"{key}: sub-k sketch must be exact ({e} != {x})"
        else:
            rel = abs(e - x) / x
            assert rel < 0.40, f"{key}: est {e} vs exact {x} (rel {rel:.2%})"


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    """join_bucketed_tables must run its join AND its aggregation on
    the persisted bucketing with zero shuffles — the whole point of
    paying the bucketed write once."""
    df = _OPS["join_bucketed_tables"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan}"


def test_partitioned_parquet_scan_prunes(spark, sf_dir):
    """scan_parquet_partitioned's year filter must prune partitions at
    the scan (PartitionFilters), not run as a data filter."""
    df = _OPS["scan_parquet_partitioned"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan, plan
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "year" in pf, f"year not in partition filters: {pf}"
    assert "1996" in pf, pf


def test_dedup_candidate_generators_plan_shape(spark, sf_dir):
    """The r4 de-skew rework of the two exact near-dup ops must keep
    its plan economy: dedup_ngram_jaccard shingles the corpus ONCE
    into arrays (<= 4 scans: rare self-join sides + fa/fb array sides;
    <= 2 explodes: the rare self-join) — the shared-CTE formulation
    re-scanned and re-shingled 8x. dedup_levenshtein is one
    sorted-neighborhood self-join over a projected relation (<= 2
    scans; exactly 1 explode — the two-sided rank-bucket explode that
    puts rn DIV 16 in the equi-join key)."""
    plan = (
        _OPS["dedup_ngram_jaccard"]
        .fn(spark, sf_dir)
        ._jdf.queryExecution()
        .sparkPlan()
        .toString()
    )
    assert plan.count("FileScan") <= 4, plan
    assert plan.count("Generate explode") <= 2, plan
    assert "CartesianProduct" not in plan

    plan = (
        _OPS["dedup_levenshtein"]
        .fn(spark, sf_dir)
        ._jdf.queryExecution()
        .sparkPlan()
        .toString()
    )
    assert plan.count("FileScan") <= 2, plan
    assert plan.count("Generate explode") == 1, plan
    assert "CartesianProduct" not in plan


def test_lsh_candidate_joins_carry_bucket_in_equi_keys(spark, sf_dir):
    """The round-5 hand-rolled LSH ops are linear ONLY because the band
    bucket is part of the hash-join key (a residual-only formulation
    hash-joins whole bands and re-grows quadratic): dedup_near's
    candidate join must key on (band, bkey, bkt) and sim_ann_lsh's on
    (band, bkey), with no cartesian/nested-loop fallback anywhere in
    either plan."""
    import re

    for name, keys in (
        ("dedup_near", ("band", "bkey", "bkt")),
        ("sim_ann_lsh", ("band", "bkey")),
    ):
        plan = (
            _OPS[name]
            .fn(spark, sf_dir)
            ._jdf.queryExecution()
            .sparkPlan()
            .toString()
        )
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoop" not in plan, name
        join_lines = [
            ln for ln in plan.splitlines() if re.search(r"HashJoin|SortMergeJoin", ln)
        ]
        # the candidate join's LEFT key list (first [...] on the line)
        # must contain every bucket component as an equi key
        band_joins = []
        for ln in join_lines:
            m = re.search(r"Join \[([^\]]*)\]", ln)
            if m and "band" in m.group(1):
                band_joins.append(m.group(1))
        assert band_joins, (name, join_lines)
        for k in keys:
            assert any(
                re.search(rf"\b{k}#\d+", key_list) for key_list in band_joins
            ), (name, k, band_joins)


def test_salted_join_carries_salt_in_join_keys(spark, sf_dir):
    """join_salted's point is physical: the join condition must be
    (key, salt) — so when the dim side is too big to broadcast and the
    join shuffles, a hot key spreads over 8 reducers. At fixture scale
    Catalyst rightly broadcasts the replicated dim (no shuffle to
    salt), so the invariant to pin is the salted key pair in the join
    itself; the oracle pins result-identity with the unsalted join."""
    df = _OPS["join_salted"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().sparkPlan().toString()
    import re

    m = re.search(r"HashJoin \[([^\]]*)\], \[([^\]]*)\]", plan)
    assert m, f"no hash join in plan:\n{plan}"
    left, right = m.group(1), m.group(2)
    assert "o_custkey" in left and "salt" in left, left
    assert "c_custkey" in right and "salt" in right, right


def test_decontaminate_bench_side_stays_broadcast(spark, sf_dir):
    """decontaminate's 100 TB posture is 'corpus rows are never
    shuffled': the bench n-gram set (bounded stand-in slice — see
    _DSTRIDE_SQL) must reach the semi join as a BROADCAST, and
    the contaminated-ids anti join likewise — a plan where either
    falls back to a shuffle join means the bench side stopped being
    dim-sized."""
    plan = (
        _OPS["decontaminate"]
        .fn(spark, sf_dir)
        ._jdf.queryExecution()
        .sparkPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "LeftSemi" in plan and "LeftAnti" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_no_literal_corpus_repartition(spark, sf_dir):
    """Round-6 fix (VERDICT r5 item 2): the similarity ops' corpus-side
    spread must be DERIVED from the cluster (defaultParallelism via
    session.spread_partitions — skipped entirely when the scan already
    has enough splits), never a hard-coded 32. At the test session's
    local[8] any round-robin exchange in these plans must therefore be
    8-way, and the helper must be a no-op on well-partitioned input."""
    import re

    from s3_avro_repair_spark.session import spread_partitions

    target = spark.sparkContext.defaultParallelism
    for name in (
        "sim_knn_topk", "sim_range_search", "sim_ann_ivf",
        "sim_cosine_pairs", "dedup_embedding_cosine",
    ):
        plan = (
            _OPS[name]
            .fn(spark, sf_dir)
            ._jdf.queryExecution()
            .sparkPlan()
            .toString()
        )
        for n in re.findall(r"RoundRobinPartitioning\((\d+)", plan):
            assert int(n) == target, (name, n, target)

    # no-op path: input already carries >= cores partitions
    wide = spark.range(0, 1000).repartition(target)
    assert spread_partitions(wide) is wide
    # spread path: a 1-partition relation gets exactly `target` slices
    narrow = spark.range(0, 1000).coalesce(1)
    assert spread_partitions(narrow).rdd.getNumPartitions() == target


def test_joined_rows_obey_linear_law(spark, sf_dir):
    """r6 census upgrade made joined-rows (the join's WORK — sum of
    numOutputRows over every executed join node) measurable per plan;
    this pins the law the similarity ops' linearity stands on, with
    analytic per-member bounds, not tuned constants:

    - dedup_near: candidate join emits <= bands(8) x nbr(16) rows per
      doc pre-distinct, plus two attach joins over <= that many
      distinct pairs -> <= 3 x 128 x n. Bound: 512n.
    - sim_cosine_pairs (banded_candidates band=20): every qualifying
      pair meets exactly once -> candidates <= band x n. Bound: 2 x
      band x n (slack for the bucket-explode double-count law).
    - dedup_embedding_cosine (band=50): same law. Bound: 2 x 50 x n.
    - sim_ann_lsh: <= 8 bands x 256 probe budget per query
      pre-distinct + two attach joins -> <= 3 x 2048 x |q|.
    - sim_knn_topk: brute force BY DESIGN — exactly |q| x (n-1)
      broadcast-join rows, with |q| the BOUNDED query panel
      (llm.query_panel: <= 64 at any corpus size), so the product is
      linear in n. Bound: |q| x n.

    A regression that drops a bucket from an equi-join key (the r5
    class of bug) blows these bounds by orders of magnitude."""
    from tools.scaling_census import _join_output_rows

    def joined(name):
        df = _OPS[name].fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan()
        plan.execute().count()
        if plan.nodeName() == "AdaptiveSparkPlan":
            plan = plan.executedPlan()
        return _join_output_rows(plan)

    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n_vec = emb.count()
    # llm.query_panel's contract (id-span-derived; dense fixture ids
    # make max+1 == n_vec)
    stride = 100 * max(1, n_vec // 3200)
    n_q = emb.filter(f"vec_id % {stride} = 0").count()

    assert joined("dedup_near") <= 512 * n_docs
    assert joined("sim_cosine_pairs") <= 2 * 20 * n_vec
    assert joined("dedup_embedding_cosine") <= 2 * 50 * n_vec
    assert joined("sim_ann_lsh") <= 3 * 8 * 256 * n_q
    assert joined("sim_knn_topk") <= n_q * n_vec

    # r6 extension ops with joins — analytic linear laws (x1.5 slack
    # over the exact per-row law: AQE/filter placement can shift which
    # node a post-join predicate is counted under, but never the ORDER
    # of growth this test exists to catch):
    # - text_perplexity_unigram: the token->count join emits exactly one
    #   row per token INSTANCE; the scalar-total broadcast adds one more
    #   pass over the same instances. Law: 2 x total tokens.
    # - embedding_centroid_distance: centroid attach emits exactly one
    #   row per (vector, dimension) cell. Law: n_vec x max_dim.
    # - ts_anomaly_mad: two fence attach joins emit <= one row per
    #   event each (sf0.1 measured 2.06n: the fence filter's placement
    #   adds the output rows to one node's count). Law: 2 x n_events.
    import pyspark.sql.functions as SF

    n_tokens = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter("text IS NOT NULL")
        .select(SF.sum(SF.size(SF.split("text", " "))).alias("s"))
        .collect()[0]["s"]
    ) or 0
    max_dim = (
        emb.select(SF.max(SF.size("embedding")).alias("d")).collect()[0]["d"]
        or 0
    )
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert joined("text_perplexity_unigram") <= 3 * n_tokens
    assert joined("embedding_centroid_distance") <= 2 * n_vec * max_dim
    assert joined("ts_anomaly_mad") <= 3 * n_events

    # The df<=16 candidate family (r7 VERDICT item 4 — the law the
    # r7 census anomaly lacked: dedup_containment read 349.9x joined
    # on the 10x fixture but 1.2x on the 100x one because the two
    # scaled fixtures carry different DUPLICATION profiles; the bound
    # below is the profile-independent law):
    # - candidate join: every rare-shingle instance (per-block
    #   df <= 16) meets <= 15 partners -> <= 16 x shingle instances
    #   <= 16 x n_tokens.
    # - two shingle-array attach joins: one row per distinct
    #   candidate pair each, pairs <= the candidate join's output.
    # Total <= 3 x 16 x n_tokens for BOTH consumers of the shared
    # generator. A regression that drops the df cap (or the
    # lang/source block from the join key) blows this by orders of
    # magnitude on any corpus with duplication.
    assert joined("dedup_ngram_jaccard") <= 3 * 16 * n_tokens
    assert joined("dedup_containment") <= 3 * 16 * n_tokens

    # r8 dedup modalities:
    # - dedup_substring: the only join attaches the multi-doc digest
    #   set to positions — <= one row per shingle position.
    # - dedup_ahash: pixel-stats attach <= 64 rows/doc; banded pair
    #   join <= 4 bands x 16 rank-nbrs x 2 bucket-copies per doc.
    assert joined("dedup_substring") <= 2 * n_tokens
    assert joined("dedup_ahash") <= (64 + 4 * 16 * 2) * n_docs
    # - dedup_substring_apply: the span pipeline's digest join (<= one
    #   row per position) + the anti join (<= one KEPT row per token)
    #   + the per-doc accounting join (<= n_docs).
    assert joined("dedup_substring_apply") <= 3 * n_tokens

    # r9 curation ops:
    # - text_perplexity_bigram: per-doc distinct-bigram rows are
    #   <= n_tokens; the three count attaches (bigram, left word,
    #   right word) emit one row per such row each, plus the 1-row
    #   total cross -> <= 4 x n_tokens (x1.5 slack for AQE node
    #   attribution).
    # - corpus_sample_temperature: the keep-rate attach emits one row
    #   per document; the two scalar crosses add #langs rows.
    # - dedup_phash: median attach = 63 rows/doc; banded pair join
    #   <= 4 bands x 16 rank-nbrs x 2 bucket-copies per doc (the
    #   dedup_ahash law with the stats attach one row smaller).
    assert joined("text_perplexity_bigram") <= 6 * n_tokens
    assert joined("corpus_sample_temperature") <= 2 * n_docs
    assert joined("dedup_phash") <= (64 + 4 * 16 * 2) * n_docs
    # - dedup_semantic: 2 Lloyd assignment crosses (k=8 centroids x
    #   n_vec each) + the rank-bucketed pair join (<= 16 nbrs x 2
    #   bucket-copies per vector).
    assert joined("dedup_semantic") <= (2 * 8 + 16 * 2 + 8) * n_vec
    # - ts_seasonal_decompose and dedup_url_canonical: NO joins at all
    #   (bucket aggregate + two windows; construct + canonicalize +
    #   one aggregate).
    assert joined("ts_seasonal_decompose") == 0
    assert joined("dedup_url_canonical") == 0


def test_no_broadcast_hints_on_sf_scaling_tables():
    """The r6 posture debt, pinned: `F.broadcast()` in the Q-group
    composites is an UNCONDITIONAL hint — it overrides the size
    estimator, so a hint on an SF-scaling relation (customer,
    supplier, part, orders, lineitem, or anything derived from them)
    forces a multi-TB build side at 100 TB where statistics would
    rightly degrade to a shuffle join. Hints are legal ONLY on O(1)
    relations: nation (25 rows), region (5), scalar aggregates,
    bounded panels. This guard extracts every `F.broadcast(` argument
    in composite.py by balanced-paren scan and pins the allowed
    argument roots; a new hint with any other root fails here and
    must argue its O(1)-ness in review."""
    import re
    from pathlib import Path

    import s3_avro_repair_spark.operators.composite as composite

    src = Path(composite.__file__).read_text()
    allowed_roots = {"n", "r", "cn", "sn", "tot", "n_small"}
    banned_tables = ("customer", "supplier", "part", "orders", "lineitem")
    args = []
    for m in re.finditer(r"F\.broadcast\(", src):
        depth, i = 1, m.end()
        while depth:
            depth += {"(": 1, ")": -1}.get(src[i], 0)
            i += 1
        args.append(src[m.end() : i - 1].strip())
    assert args, "expected at least one O(1) broadcast hint to remain"
    for arg in args:
        root = re.match(r"[A-Za-z_][A-Za-z0-9_]*", arg).group(0)
        assert root in allowed_roots, (
            f"F.broadcast({arg!r}): root {root!r} is not a pinned O(1) "
            f"relation {sorted(allowed_roots)}"
        )
        for t in banned_tables:
            assert f'"{t}"' not in arg, (
                f"F.broadcast({arg!r}) hints an SF-scaling {t} scan"
            )


def test_no_corpus_proportional_broadcast_hints_in_llm_modules():
    """The r6c audit class, generalized (r7): a broadcast hint is
    legal only on a relation with a SIZE BOUND independent of corpus
    size — a bounded panel, a 1-row aggregate, a fixed-fence table.
    Vocabulary relations (Heaps-law growth), duplicate-id lists (a
    duplicate pile makes them corpus-sized), and matched-doc sets
    (boilerplate overlap makes them corpus-sized) are NOT bounded and
    were unhinted in r7 — the estimator still broadcasts them at
    fixture scale, and at 100 TB the plan degrades instead of OOMing.
    Same mechanism as the composite.py guard: pin the allowed
    argument roots per module."""
    import re
    from pathlib import Path

    import s3_avro_repair_spark.operators as P

    allowed = {
        # bounded panels (query_panel) + 1-row N
        "llm": {"n", "q", "qe"},
        # 1-row totals/stats + per-event-type fences + centroids
        "extensions": {"total", "med", "mad", "cent", "stats"},
        # panel-bounded benchmark n-gram set only — never `contaminated`
        "llm_pipeline": {"bench"},
        # no hints at all: dupes/changes relations are unbounded
        "lifecycle": set(),
    }
    root = Path(P.__file__).parent
    for mod, roots in allowed.items():
        src = (root / f"{mod}.py").read_text()
        found = {
            m.group(1)
            for m in re.finditer(r"F\.broadcast\((\w+)", src)
        }
        assert found <= roots, (
            f"{mod}.py broadcasts unpinned roots {found - roots}: prove "
            f"each has a corpus-independent size bound, then pin it here"
        )


def test_r7_new_ops_joined_rows_laws(spark, sf_dir):
    """Analytic joined-rows laws for the r7 additions, same contract
    as test_joined_rows_obey_linear_law:

    - text_bm25: the tf->df join emits one row per (doc, term) pair
      and the tf->dl join the same; the 1-row stats attach adds one
      more pass -> <= 3 x |tf|. |tf| <= total token instances.
    - dedup_containment: shares dedup_ngram_jaccard's candidate
      generator — df<=16 cap means each rare shingle contributes
      <= 16x15/2 candidate pairs pre-distinct, and stage 2 adds two
      array-attach joins over the distinct pairs. The corpus-level
      bound tracks the shingle-instance count (each rare instance joins
      <= 16 partners): <= 16 x instances + 2 x pairs; conservatively
      32 x total shingle instances.
    - join_asof_tolerance: NOT a join at all (union + window) — its
      plan must contain ZERO join nodes, like join_asof.
    """
    import pyspark.sql.functions as SF

    from tools.scaling_census import _join_output_rows

    def plan_of(name):
        df = _OPS[name].fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan()
        plan.execute().count()
        if plan.nodeName() == "AdaptiveSparkPlan":
            plan = plan.executedPlan()
        return plan

    def joined(name):
        return _join_output_rows(plan_of(name))

    n_tokens = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter("text IS NOT NULL")
        .select(SF.sum(SF.size(SF.split("text", " "))).alias("s"))
        .collect()[0]["s"]
    ) or 0
    assert joined("text_bm25") <= 3 * n_tokens
    # shingle instances <= token instances (one 3-shingle per token
    # position); pairs bounded by the df-cap argument
    assert joined("dedup_containment") <= 32 * n_tokens
    plan = plan_of("join_asof_tolerance").toString()
    assert "Join" not in plan, f"asof-tolerance plan contains a join:\n{plan}"
