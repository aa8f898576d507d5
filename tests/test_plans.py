"""Physical-plan audits: the scale properties the engine claims must be
visible in the plans — pushdown into scans, broadcasts on dims,
partial aggregation, bucketed joins without exchanges, partition
pruning, salted-skew shapes."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from automate_data_ingestion_project_spark.analytics.load import scratch_dir
from automate_data_ingestion_project_spark.io import load_table
from automate_data_ingestion_project_spark.io.sink import (
    write_bucketed_table,
    write_parquet,
)
from automate_data_ingestion_project_spark.operators.skew import (
    salted_join,
    salted_sum_count,
)

import __spark_entry__ as entrymod


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_reaches_parquet_scan(spark, sf_dir):
    df = entrymod.queries()["orders_by_month"](spark, sf_dir)
    plan = _formatted(df)
    assert "PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate" in plan


def test_column_pruning_reaches_parquet_scan(spark, sf_dir):
    df = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_quantity")
        .groupBy("l_partkey")
        .agg(F.sum("l_quantity"))
    )
    plan = _formatted(df)
    # ReadSchema must carry only the two referenced columns
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_partkey" in read and "l_quantity" in read
    assert "l_extendedprice" not in read and "l_comment" not in read


def test_dims_broadcast_in_star_join(spark, sf_dir):
    df = entrymod.queries()["revenue_by_nation"](spark, sf_dir)
    assert "BroadcastHashJoin" in _physical(df)


def test_aggregations_are_partial_then_final(spark, sf_dir):
    df = entrymod.queries()["pricing_summary"](spark, sf_dir)
    plan = _physical(df)
    assert "partial_" in plan  # map-side combine before the shuffle


def _plan_nodes(node):
    yield node
    children = node.children()
    for i in range(children.size()):
        yield from _plan_nodes(children.apply(i))


def test_pricing_summary_sums_fixed_point_longs(spark, sf_dir):
    """`dsum` accumulates integer limbs: no row is cast to a decimal, and
    the map-side aggregate's buffers are longs (plus try_sum's isEmpty
    flags) — no BigDecimal per row, no decimal or double buffer."""
    df = entrymod.queries()["pricing_summary"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan()
    assert "decimal(27,6)" not in plan.toString()
    partial = [
        n
        for n in _plan_nodes(plan.inputPlan())
        if n.nodeName() == "HashAggregate" and "partial_" in n.simpleString(1000)
    ]
    assert len(partial) == 1
    out = partial[0].output()
    buffers = [
        (a.name(), a.dataType().simpleString())
        for a in (out.apply(i) for i in range(out.size()))
        if a.name() not in ("l_returnflag", "l_linestatus")
    ]
    assert {t for n, t in buffers if n == "sum"} == {"bigint"}, buffers
    assert {t for _, t in buffers} == {"bigint", "boolean"}, buffers


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    """Two tables bucketed on the join key: the join plan must contain
    NO Exchange — the co-location claim, verified."""
    import shutil

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("b_orders", "b_lineitem"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(os.path.join(warehouse, t), ignore_errors=True)
    write_bucketed_table(orders, "b_orders", "o_orderkey", 8, sort_col="o_orderkey")
    write_bucketed_table(li, "b_lineitem", "l_orderkey", 8, sort_col="l_orderkey")
    # disable broadcast so the planner exercises the bucketed path (at
    # real scale neither fact side fits a broadcast anyway)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_orders").join(
            spark.table("b_lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        plan = _physical(joined)
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "Exchange" not in plan
        assert "Bucketed: true" in plan
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE b_orders")
        spark.sql("DROP TABLE b_lineitem")


def test_partition_pruning_on_partitioned_write(spark, sf_dir):
    """A filter on the partition column must prune at the scan
    (PartitionFilters), not post-read."""
    path = os.path.join(scratch_dir("test_partition_prune"), "orders_by_year")
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate")
    )
    write_parquet(orders, path, partition_by=["order_year"])
    df = spark.read.parquet(path).filter(F.col("order_year") == 1995)
    plan = _formatted(df)
    assert "PartitionFilters" in plan
    # the year filter must appear as a partition filter, not a data filter
    pf_line = [ln for ln in plan.splitlines() if "PartitionFilters" in ln][0]
    assert "order_year" in pf_line
    assert df.count() > 0


def test_salted_sum_matches_plain_and_spreads_groups(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    salted = salted_sum_count(
        orders, ["o_orderpriority"], "o_totalprice", "o_orderkey", n_salts=16
    )
    plain = orders.groupBy("o_orderpriority").agg(
        F.sum("o_totalprice").alias("sum_o_totalprice"),
        F.count("*").alias("n_rows"),
    )
    s = {r.o_orderpriority: (round(r.sum_o_totalprice, 4), r.n_rows) for r in salted.collect()}
    p = {r.o_orderpriority: (round(r.sum_o_totalprice, 4), r.n_rows) for r in plain.collect()}
    assert s == p
    # two-phase shape: two aggregation rounds in the plan
    assert _physical(salted).count("HashAggregate") >= 4


def test_salted_join_matches_plain(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    small = customer.withColumnRenamed("c_custkey", "o_custkey")
    salted = salted_join(orders, small, "o_custkey", salt_from="o_totalprice", n_salts=8)
    plain = orders.join(small, "o_custkey")
    assert salted.count() == plain.count()
    s = salted.groupBy("c_nationkey").count().collect()
    p = plain.groupBy("c_nationkey").count().collect()
    assert sorted(map(tuple, s)) == sorted(map(tuple, p))


def test_lineitem_scan_prunes_for_pricing_summary(spark, sf_dir):
    df = entrymod.queries()["pricing_summary"](spark, sf_dir)
    plan = _formatted(df)
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_comment" not in read  # untouched wide column stays on disk


def test_asof_join_is_single_shuffle_no_range_explosion(spark, sf_dir):
    df = entrymod.queries()["asof_purchase_last_click"](spark, sf_dir)
    plan = _physical(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the union+window construction itself needs exactly ONE exchange
    # (the window's hash partitioning on the by-keys); the second one in
    # this query is the upstream clicks dedup groupBy(user_id, ts) —
    # crucially there is NO per-pair join exchange that would grow with
    # |left|·|right|
    assert plan.count("Exchange hashpartitioning") == 2
    assert plan.count("Window") == 1


def test_bucketed_range_join_is_equi_join(spark, sf_dir):
    df = entrymod.queries()["range_join_signup_errors"](spark, sf_dir)
    plan = _physical(df)
    # the point-in-interval match must run as an equi-join on the
    # bucket id, never a nested-loop/cartesian scan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_hypertable_rollup_is_one_expand_one_shuffle(spark, sf_dir):
    df = entrymod.queries()["events_hypertable_rollup"](spark, sf_dir)
    plan = _physical(df)
    assert plan.count("Expand") >= 1  # grouping sets = Expand, not 3 jobs
    assert plan.count("Exchange hashpartitioning") == 1


def test_curation_ops_plan_shapes(spark, sf_dir):
    q = entrymod.queries()
    # mixture sampling: narrow map + one tiny aggregate exchange
    plan = _physical(q["corpus_sample_mix"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    # packing: the window's source partitioning feeds both groupBy
    # aggregates — one hash exchange total
    plan = _physical(q["pack_sequences"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Window") == 1
    # repetition: spread + window exchange only; bigram count and
    # per-doc max/sum reuse the doc_id partitioning
    plan = _physical(q["doc_repetition"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Window") == 1


def test_decontaminate_broadcasts_eval_grams(spark, sf_dir):
    df = entrymod.queries()["decontaminate_overlap"](spark, sf_dir)
    plan = _physical(df)
    # the corpus-side gram stream must meet eval grams via broadcast
    # hash join — never a shuffled join keyed on grams
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_centroid_purity_broadcasts_centroids(spark, sf_dir):
    df = entrymod.queries()["centroid_purity"](spark, sf_dir)
    plan = _physical(df)
    assert "BroadcastHashJoin" in plan  # k·d centroid table broadcast
    assert "CartesianProduct" not in plan


def test_vocab_encode_has_no_forced_vocab_broadcast(spark, sf_dir):
    """The tok⋈vocab encode join must NOT carry a mandatory broadcast
    hint: a 100 M+-term vocab can't ship to every executor. With the
    broadcast threshold forced off, an un-hinted equi-join plans as
    SortMergeJoin/ShuffledHashJoin on `term`; a leftover F.broadcast
    hint would still plan BroadcastHashJoin and fail this test. (The
    BroadcastExchanges that remain belong to rank_distributed's
    per-partition offsets — ≤|partitions| rows, bounded by config.)"""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = entrymod.queries()["vocab_encode"](spark, sf_dir)
        plan = _physical(df)
        term_joins = [
            ln
            for ln in plan.splitlines()
            if ("SortMergeJoin" in ln or "ShuffledHashJoin" in ln)
            and "term" in ln
        ]
        assert term_joins, f"no shuffle join on term in plan:\n{plan}"
        bcast_term = [
            ln
            for ln in plan.splitlines()
            if "BroadcastHashJoin" in ln and "term#" in ln
        ]
        assert not bcast_term, f"vocab still force-broadcast: {bcast_term}"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_commune_enrichment_broadcasts_dbf_dim(spark, sf_dir):
    """The commune reference table (bounded, a few MB) must ride the
    broadcast side of the enrichment join — no shuffle of the fact side
    on `dep`, no cartesian."""
    df = entrymod.queries()["commune_enrichment"](spark, sf_dir)
    plan = _physical(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_bigram_topk_is_salted_two_phase(spark, sf_dir):
    """bigram_counts' per-language top-k must be the salted two-phase
    shape (lang has ~10 values — a single per-lang window serializes
    the aggregated bigram table onto ~10 tasks at scale): the plan
    carries the (lang, salt) local window AND the final ≤k·n_salts-row
    window, i.e. ≥ 3 Window ops total with the per-doc lead()."""
    df = entrymod.queries()["bigram_counts"](spark, sf_dir)
    plan = _physical(df)
    # lead() sequence window + local (lang, _salt) rank + final lang rank
    assert plan.count("Window") >= 3
    assert "_salt" in plan
    assert "CartesianProduct" not in plan


def test_quality_gates_is_pure_narrow_map(spark, sf_dir):
    """The gate battery must run at scan speed: no exchange anywhere."""
    df = entrymod.queries()["quality_gates"](spark, sf_dir)
    plan = _physical(df)
    assert "Exchange" not in plan
    # whole-stage codegen marker: no interpreted HOF lambdas survive
    assert plan.lstrip().startswith("*(1)")
    assert "lambdafunction" not in plan


def test_quartiles_broadcast_boundaries_no_global_window(spark, sf_dir):
    """NTILE-free quartiles: no Window operator; the 1-row boundary
    relation reaches the assignment via a broadcast join."""
    df = entrymod.queries()["customer_value_quartiles"](spark, sf_dir)
    plan = _physical(df)
    assert "Window" not in plan
    assert "Broadcast" in plan


def test_stratified_sample_is_salted_two_phase(spark, sf_dir):
    """Phase-1 window must partition by (lang, salt), not lang alone."""
    df = entrymod.queries()["stratified_sample_exact"](spark, sf_dir)
    plan = _physical(df)
    assert plan.count("Window") >= 2
    assert "_salt" in plan


def test_ivf_cell_partitioned_probe_prunes_scan(spark, sf_dir):
    """SCALE.md claims the IVF vector table is written partitioned by
    cell so a probe prunes at the parquet scan — prove it: write the
    assigned vectors partitioned by cell, probe one cell, and the scan
    must carry a PartitionFilters entry on `cell` (and read only that
    directory)."""
    from automate_data_ingestion_project_spark.analytics.ivf import (
        N_CELLS,
        assign_cells,
    )
    from automate_data_ingestion_project_spark.io import load_table
    from automate_data_ingestion_project_spark.textops.similarity import norm_sql

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", F.expr(norm_sql("embedding")).alias("nrm")
    )
    centroids = emb.filter(F.col("vec_id") < N_CELLS).select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("c_emb")
    )
    path = os.path.join(scratch_dir("ivf_parted"), "vectors")
    write_parquet(assign_cells(emb, centroids), path, partition_by=["cell"])
    probe = spark.read.parquet(path).filter(F.col("cell") == 3)
    plan = _formatted(probe)
    assert "PartitionFilters" in plan and "cell" in plan
    part_line = [ln for ln in plan.splitlines() if "PartitionFilters" in ln][0]
    assert "3" in part_line


def test_approx_profile_has_no_expand_and_is_accurate(spark, sf_dir):
    """The scale-default profile must not pay the Expand rewrite (the
    |columns|x row multiplication exact multi-distinct needs), and its
    HLL estimates must land within ~3*rsd of exact counts."""
    from automate_data_ingestion_project_spark.analytics.profiling import (
        table_profile,
        table_profile_approx,
    )

    approx = table_profile_approx(spark, sf_dir)
    assert "Expand" not in _physical(approx)
    # the exact form DOES expand — that's exactly why it isn't the default
    assert "Expand" in _physical(table_profile(spark, sf_dir))

    exact_n = {
        r.column_name: r.n_distinct
        for r in table_profile(spark, sf_dir).collect()
    }
    for r in approx.collect():
        e = exact_n[r.column_name]
        assert abs(r.n_distinct - e) <= max(3, 0.03 * e), (r.column_name, r.n_distinct, e)


def test_exists_shape_is_semi_join_not_inner_distinct(spark, sf_dir):
    """The Q4 EXISTS shape must decorrelate to ONE LeftSemi join (each
    order emitted at most once) — not inner-join + distinct, which
    pays a second shuffle to undo the fan-out."""
    df = entrymod.queries()["order_priority_exists"](spark, sf_dir)
    plan = _physical(df)
    assert "LeftSemi" in plan
    # no dedup operator anywhere — the semi join IS the dedup
    assert "Deduplicate" not in plan


def test_scalar_subquery_shapes_scan_fact_once(spark, sf_dir):
    """Q11/Q17 shapes: the threshold side must derive from the grouped
    relation (persisted / reused), never re-scan + re-join the fact.
    important_revenue_nations: exactly ONE scan of lineitem feeds the
    whole plan (the persisted grouped relation serves both branches)."""
    df = entrymod.queries()["important_revenue_nations"](spark, sf_dir)
    plan = _formatted(df)
    li_scans = [
        ln
        for ln in plan.splitlines()
        if "Location" in ln and "lineitem" in ln
    ]
    assert len(li_scans) == 1, li_scans
    # the global threshold rides in as a broadcast, not a second agg job
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_argmin_joinback_reuses_partkey_exchange(spark, sf_dir):
    """cheapest_supplier_per_part: the (part,supp) aggregate, the
    per-part min, and the tie-preserving join-back all hash on
    l_partkey; the persisted unit relation must be computed once
    (InMemoryRelation appears, and lineitem is scanned exactly once)."""
    df = entrymod.queries()["cheapest_supplier_per_part"](spark, sf_dir)
    plan = _formatted(df)
    assert "InMemoryRelation" in plan or "InMemoryTableScan" in plan
    li_scans = [
        ln
        for ln in plan.splitlines()
        if "Location" in ln and "lineitem" in ln
    ]
    assert len(li_scans) == 1, li_scans


def test_interarrival_reuses_window_partitioning(spark, sf_dir):
    """customer_interarrival: the LAG window and the per-customer agg
    share the o_custkey hash partitioning — exactly ONE Exchange in
    the whole plan."""
    df = entrymod.queries()["customer_interarrival"](spark, sf_dir)
    plan = _physical(df)
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, plan


def test_streaming_dedup_replay_equals_batch_distinct(spark, sf_dir):
    """The watermarked streaming dedup over a source with planted
    redelivery must reduce to exactly the batch table (count + keys)."""
    from automate_data_ingestion_project_spark.io import load_table as _lt

    got = entrymod.queries()["stream_dedup_events"](spark, sf_dir)
    ev = _lt(spark, sf_dir, "events")
    assert got.count() == ev.count()
    assert got.select("event_id").distinct().count() == ev.count()


def test_pq_lut_broadcasts_and_dists_computed_once(spark, sf_dir):
    """ann_pq_topk: the per-query LUT joins in as a broadcast (never a
    shuffle of the candidate codes), and the dists relation is
    persisted so encoder + LUT derive from ONE computation."""
    df = entrymod.queries()["ann_pq_topk"](spark, sf_dir)
    plan = _formatted(df)
    assert "BroadcastExchange" in plan
    assert "InMemoryRelation" in plan or "InMemoryTableScan" in plan


def test_ivfpq_restricts_adc_to_cell_candidates(spark, sf_dir):
    """The composed index must score fewer candidates than the corpus:
    every query's n_candidates < N (cell pruning actually engaged),
    and the ADC distances equal the full-PQ distances on the
    candidates it did score (pruning changes the candidate set, never
    the scoring arithmetic)."""
    from automate_data_ingestion_project_spark.io import load_table as _lt

    n = _lt(spark, sf_dir, "embeddings").count()
    rows = entrymod.queries()["ann_ivfpq_topk"](spark, sf_dir).collect()
    assert rows and all(r.n_candidates < n for r in rows)

    full = {
        (r.query_id, r.vec_id): r.adist
        for r in entrymod.queries()["ann_pq_topk"](spark, sf_dir).collect()
    }
    for r in rows:
        key = (r.query_id, r.vec_id)
        if key in full:  # both ranked it: identical ADC value, bit-for-bit
            assert r.adist == full[key], key


def test_disjunctive_predicate_pushes_or_factors_to_both_scans(spark, sf_dir):
    """Q19 shape: Catalyst must extract each side's common OR-factor and
    push it into that side's scan — quantity bounds reach the lineitem
    scan, brand+size arms reach the part scan — instead of evaluating
    the whole OR post-join (or scanning the fact once per arm)."""
    df = entrymod.queries()["disjunctive_promo_revenue"](spark, sf_dir)
    plan = _formatted(df)
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("l_quantity" in ln and "Or(" in ln for ln in pushed), pushed
    assert any("p_brand" in ln and "p_size" in ln for ln in pushed), pushed
    # one lineitem scan total — no union-of-arms rewrite
    li_scans = [
        ln for ln in plan.splitlines()
        if "Location" in ln and "lineitem" in ln
    ]
    assert len(li_scans) == 1, li_scans


# Queries whose join trees touch SF-scaled relations (customer SF×150k,
# part SF×200k, supplier SF×10k). These are "dimensions" only at
# fixture scale: at the 100 TB north star they are multi-TB, and a
# mandatory F.broadcast hint overrides autoBroadcastJoinThreshold
# unconditionally — the textbook driver-OOM scale-killer. The rule
# (same as test_vocab_encode_has_no_forced_vocab_broadcast): only
# relations whose size is FIXED BY CONSTRUCTION (nation, region, 1-row
# aggregates, codebooks, the commune dim) may carry hints.
_SF_SCALED_JOIN_QUERIES = [
    "promo_revenue_share",
    "median_order_by_nation",
    "small_qty_revenue_by_brand",
    "important_revenue_nations",
    "disjunctive_promo_revenue",
    "local_supplier_revenue",
    # round 6 Q-shapes — born under the rule
    "shipping_priority_topk",
    "volume_shipping_pairs",
    "nation_market_share",
    "returned_item_losses",
    "lapsed_customer_balance",
    "part_supplier_variety",
]
_SF_SCALED_KEYS = ("c_custkey#", "p_partkey#", "s_suppkey#")


def test_no_forced_broadcast_on_sf_scaled_relations(spark, sf_dir):
    """With the broadcast threshold forced off, any BroadcastHashJoin
    keyed on an SF-scaled relation's key can only come from a leftover
    mandatory hint — there must be none. Fixed-size hints (nation,
    1-row threshold aggregates) legitimately survive; they are keyed on
    n_nationkey / hint-free crossJoins and don't match the scaled keys."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    # queries that tracked_persist() intermediates may have been cached
    # by an EARLIER test under the default threshold — the frozen
    # InMemoryRelation child plan would then show that run's
    # BroadcastHashJoin and fake an offender here
    spark.catalog.clearCache()
    try:
        qs = entrymod.queries()
        for name in _SF_SCALED_JOIN_QUERIES:
            plan = _physical(qs[name](spark, sf_dir))
            offenders = [
                ln
                for ln in plan.splitlines()
                if "BroadcastHashJoin" in ln
                and any(k in ln for k in _SF_SCALED_KEYS)
            ]
            assert not offenders, f"{name} still force-broadcasts: {offenders}"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_sf_scaled_joins_still_broadcast_at_fixture_scale(spark, sf_dir):
    """The de-hinting must not cost the fixture-scale plan: with the
    default threshold, Spark's size statistics (file sizes at sf0.001)
    still pick broadcast for the same joins — proving the hint was
    redundant where it was safe and only mattered where it was unsafe."""
    spark.catalog.clearCache()  # see test above: stale cached plans lie
    qs = entrymod.queries()
    for name in _SF_SCALED_JOIN_QUERIES:
        plan = _physical(qs[name](spark, sf_dir))
        assert "BroadcastHashJoin" in plan, name


def test_agg_topk_is_take_ordered_not_full_sort(spark, sf_dir):
    """Q3/Q10 shapes: the global top-k over the aggregate must plan as
    TakeOrderedAndProject (per-partition heaps + one k-row merge), not
    a full Sort of the aggregated relation — at 100 TB the aggregate
    output is millions of groups and a global sort of it is the
    difference between a k-row merge and a full shuffle-sort."""
    qs = entrymod.queries()
    for name in ("shipping_priority_topk", "returned_item_losses"):
        plan = _physical(qs[name](spark, sf_dir))
        assert "TakeOrderedAndProject" in plan, name


def test_q6_predicates_all_reach_the_scan(spark, sf_dir):
    """Q6 shape: every predicate (date range, discount band, quantity
    cap) must appear in the lineitem scan's PushedFilters — the query's
    entire point; a predicate evaluated post-scan means the scan reads
    rows it provably doesn't need."""
    df = entrymod.queries()["discount_revenue_delta"](spark, sf_dir)
    plan = _formatted(df)
    pushed = " ".join(ln for ln in plan.splitlines() if "PushedFilters" in ln)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, (col, pushed)


def test_lapsed_customers_is_anti_join_with_pruned_probe(spark, sf_dir):
    """Q22 shape: the NOT EXISTS must plan as ONE anti join, and the
    date cutoff must reach the orders scan (the probe side is the
    date-pruned slice, not the whole orders table)."""
    df = entrymod.queries()["lapsed_customer_balance"](spark, sf_dir)
    plan = _physical(df)
    assert "LeftAnti" in plan, plan
    fmt = _formatted(df)
    pushed = [
        ln
        for ln in fmt.splitlines()
        if "PushedFilters" in ln and "o_orderdate" in ln
    ]
    assert any("GreaterThanOrEqual" in ln for ln in pushed), pushed


def test_bitmap_distinct_has_no_expand_and_no_raw_value_shuffle(spark, sf_dir):
    """The bitmap exact-distinct must avoid the two costs of
    COUNT(DISTINCT a), COUNT(DISTINCT b) in one aggregate: the Expand
    row-multiplication and a shuffle of raw distinct values. Partial
    bitmap aggregation must happen map-side (HashAggregate below the
    exchange)."""
    df = entrymod.queries()["bitmap_exact_distinct"](spark, sf_dir)
    plan = _physical(df)
    assert "Expand" not in plan
    # two-level: partial (map-side) bitmap construction below the
    # exchange — the shuffle carries ≤4 KiB bitmaps, not raw values
    assert "partial_bitmap_construct_agg" in plan


def test_fuzzy_blocked_join_is_equi_join_on_gram(spark, sf_dir):
    """The blocked stratum must join on the bigram KEY (hash-partitioned
    equi-join) — the only nested-loop allowed is the alphabet-bounded
    short-stratum broadcast cross."""
    df = entrymod.queries()["fuzzy_name_pairs"](spark, sf_dir)
    plan = _physical(df)
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or (
        # AQE may broadcast the tiny fixture gram table; the join must
        # still be keyed (BroadcastHashJoin), never a full nested loop
        # over the blocked stratum
        "BroadcastHashJoin" in plan
    )
    # exactly one nested-loop source: the short-stratum cross
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_variant_parse_is_single_pass(spark, sf_dir):
    """VARIANT path: one parse_json, typed probes after — no repeated
    per-path JSON re-parse (the get_json_object-per-column shape)."""
    df = entrymod.queries()["events_variant_props"](spark, sf_dir)
    plan = _physical(df)
    assert plan.count("parse_json") <= 1
    assert "get_json_object" not in plan


def test_triangle_join_is_keyed_not_nested_loop(spark, sf_dir):
    """Wedge construction and closure must both be key-equi-joins
    (hash/sort-merge/broadcast-hash) — a nested loop would be the n²
    all-triples scan the oriented-join rewrite exists to avoid."""
    df = entrymod.queries()["neardup_triangles"](spark, sf_dir)
    plan = _physical(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_interpolation_shares_one_window_exchange(spark, sf_dir):
    """Both frame directions (carry-back and carry-forward) must reuse
    ONE hash exchange on user_id — same partitioning + ordering lets
    Catalyst fuse all four carries into a SINGLE Window node over a
    single shuffle."""
    df = entrymod.queries()["events_value_interpolate"](spark, sf_dir)
    plan = _physical(df)
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Window") == 1


def test_snapshot_diff_is_single_key_join(spark, sf_dir):
    """The CDC diff must be ONE key join (full outer) + a bounded-key
    rollup — no nested loop, no second pass over either snapshot."""
    df = entrymod.queries()["snapshot_diff"](spark, sf_dir)
    plan = _physical(df)
    assert "FullOuter" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_bucketed_neardup_probe_never_reshuffles_index(spark, sf_dir):
    """The NearDupIndex module claims production writes the band table
    bucketed by band_key so a too-big-to-broadcast batch probe never
    reshuffles the corpus index — pin it: build a bucketed index, probe
    with the broadcast hint OFF and broadcast planning disabled, and
    the candidate plan must be a shuffle join whose index side reads
    its buckets in place. Exactly TWO hash exchanges remain (the batch
    side entering the join + the pair distinct); a plain-parquet index
    pays a THIRD to reshuffle the corpus on every probe.

    Also re-checks the decision table itself: layout must never change
    results."""
    from automate_data_ingestion_project_spark.textops.dedup import (
        lsh_band_keys,
        minhash_signatures_rows,
        shingle_rows,
    )
    from automate_data_ingestion_project_spark.textops.neardup_index import (
        NearDupIndex,
        _bands_table_name,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") % 5 == 0)
    )
    batch = (
        load_table(spark, sf_dir, "documents")
        .select((F.col("doc_id") + 100000).alias("doc_id"), "text")
        .filter(F.col("doc_id") % 10 == 0)
    )
    root = scratch_dir("neardup_bucketed_plan")
    tbl = _bands_table_name(root)
    index = NearDupIndex.build(spark, docs, root, bucket_bands=8)
    plain = NearDupIndex.build(spark, docs, os.path.join(root, "plain"))

    # a relation persisted by an earlier test would freeze its join
    # strategy inside the InMemoryRelation and fake the comparison
    spark.catalog.clearCache()
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # truncate the batch-derivation lineage (its minhash groupBys
        # shuffle too) so the exchange count isolates the PROBE join.
        # NOTE: this probes bands() directly (not _candidates) because
        # the count pins the raw probe-join shape
        bands = lsh_band_keys(
            minhash_signatures_rows(shingle_rows(batch))
        ).localCheckpoint(eager=True)
        cand = (
            index.bands()
            .join(bands.withColumnRenamed("doc_id", "batch_id"), "band_key")
            .select("batch_id", F.col("doc_id").alias("corpus_id"))
            .distinct()
        )
        plan = _physical(cand)
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "Bucketed: true" in plan
        assert plan.count("Exchange hashpartitioning") == 2

        cand_p = (
            plain.bands()
            .join(bands.withColumnRenamed("doc_id", "batch_id"), "band_key")
            .select("batch_id", F.col("doc_id").alias("corpus_id"))
            .distinct()
        )
        assert _physical(cand_p).count("Exchange hashpartitioning") == 3

        got = sorted(
            tuple(r)
            for r in index.filter_batch(batch, broadcast_batch=False).collect()
        )
        want = sorted(tuple(r) for r in plain.filter_batch(batch).collect())
        assert got == want and len(want) > 0
    finally:
        # the band files live under `root`; this drops the catalog entry
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_ann_ivf_topk_scan_prunes_to_probed_cells(spark, sf_dir):
    """The registered IVF searches now READ the cell-partitioned
    vector artifact: the candidate scan must carry a literal
    PartitionFilters entry on `cell` restricted to the probed cells —
    parquet-scan-level pruning, so a 100 TB search reads only the
    probed inverted lists, never the corpus."""
    from automate_data_ingestion_project_spark.analytics.ivf import (
        QUERY_IDS,
        ivf_cell_table,
    )

    for qname in ("ann_ivf_topk", "ann_ivf_multiprobe"):
        df = entrymod.queries()[qname](spark, sf_dir)
        plan = _formatted(df)
        part_lines = [
            ln
            for ln in plan.splitlines()
            if "PartitionFilters" in ln and "cell" in ln and " IN (" in ln
        ]
        assert part_lines, f"{qname}: no literal cell pruning in plan"
    # and the pruning is real: the IN-list the single-probe search
    # plans is exactly the queries' home cells — a strict subset of the
    # table's cells (each query vector 0..4 is its own nearest
    # centroid, so the probed set can never cover all N_CELLS=8)
    import re

    from automate_data_ingestion_project_spark.analytics.ivf import N_CELLS

    path = ivf_cell_table(spark, sf_dir)
    full = spark.read.parquet(path)
    probed_cells = sorted(
        r[0]
        for r in full.filter(F.col("vec_id").isin(QUERY_IDS))
        .select("cell")
        .distinct()
        .collect()
    )
    assert 0 < len(probed_cells) < N_CELLS
    plan = _formatted(entrymod.queries()["ann_ivf_topk"](spark, sf_dir))
    pf_line = [
        ln
        for ln in plan.splitlines()
        if "PartitionFilters" in ln and " IN (" in ln
    ][0]
    in_list = sorted(
        int(x) for x in re.search(r" IN \(([0-9,]+)\)", pf_line).group(1).split(",")
    )
    assert in_list == probed_cells


def test_ann_ivf_trained_topk_scan_prunes_to_probed_cells(spark, sf_dir):
    """The TRAINED-codebook search keeps the sampled search's scale
    contract: queries route through the persisted codebook (broadcast,
    N_CELLS rows) and the candidate scan over the trained
    cell-partitioned layout carries a literal PartitionFilters IN on
    `cell` — the k-means wiring must not cost the partition pruning."""
    df = entrymod.queries()["ann_ivf_trained_topk"](spark, sf_dir)
    plan = _formatted(df)
    part_lines = [
        ln
        for ln in plan.splitlines()
        if "PartitionFilters" in ln and "cell" in ln and " IN (" in ln
    ]
    assert part_lines, "trained search: no literal cell pruning in plan"


def test_runtime_bloom_filter_prunes_probe_side(spark, sf_dir):
    """Fact-to-fact joins where one side carries a selective filter are
    the case broadcast can't cover and salting doesn't address: Spark's
    runtime row-level Bloom filter (on by default) plants a
    bloom_filter_agg over the filtered side's join keys and a
    might_contain probe on the other side's scan, so most non-matching
    rows die at the scan instead of shuffling — at 100 TB this is the
    difference between shuffling the full fact table and shuffling the
    ~matching fraction. Pin that the rule fires on this engine's Spark
    with the documented size knobs (the defaults gate on a 10 GiB probe
    scan, far above any fixture: a real deployment hits them naturally,
    local tests must lower them)."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    spark.catalog.clearCache()  # a cached relation would freeze the plan
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        assert (
            spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled")
            == "true"
        )
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_quantity"
        )
        orders = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey")).groupBy(
            "o_orderpriority"
        ).agg(F.sum("l_quantity").alias("sum_qty"))
        optimized = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in optimized
        assert "might_contain" in optimized
        assert j.count() > 0  # the filtered join still returns rows
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_aqe_splits_planted_skew_join(spark, sf_dir):
    """Salting (operators/skew.py) is the explicit skew answer; AQE's
    runtime skew-join split is the implicit one the engine also relies
    on — pin that it actually fires here. A join whose left side puts
    ~90% of rows on one key must come back from execution with the
    SortMergeJoin marked skew=true (the skewed partition split into
    advisory-sized sub-partitions at runtime), and the row count must
    be unaffected. Thresholds are lowered to fixture scale the same way
    the bloom test's are — production sizes cross the defaults
    naturally."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    spark.catalog.clearCache()
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
        n = 500_000
        left = spark.range(n).select(
            F.when(F.col("id") % 10 != 0, F.lit(0))
            .otherwise(F.col("id"))
            .alias("k"),
            F.rand(7).alias("x"),
        )
        right = spark.range(n).select(F.col("id").alias("k"), F.rand(9).alias("y"))
        j = left.join(right, "k").groupBy().count()
        assert j.collect()[0][0] == n  # unique right keys: |join| = |left|
        plan = _physical(j)
        assert "skew=true" in plan
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_ann_ivf_ingest_replay_scan_prunes_on_appended_store(spark, sf_dir):
    """The incremental IVF store must keep the build-once layout's
    search property: because `cell` leads `batch_seq` in the partition
    spec, the candidate scan over the APPENDED store carries the same
    literal PartitionFilters IN-list on `cell` (a strict subset of the
    N_CELLS cells) — appends never degrade a probe to a corpus scan."""
    import re

    from automate_data_ingestion_project_spark.analytics.ivf import N_CELLS

    df = entrymod.queries()["ann_ivf_ingest_replay"](spark, sf_dir)
    plan = _formatted(df)
    pf_lines = [
        ln
        for ln in plan.splitlines()
        if "PartitionFilters" in ln and "cell" in ln and " IN (" in ln
    ]
    assert pf_lines, "no literal cell pruning in the appended-store scan"
    in_list = sorted(
        int(x)
        for x in re.search(r" IN \(([0-9,]+)\)", pf_lines[0]).group(1).split(",")
    )
    assert 0 < len(in_list) < N_CELLS


def test_ivf_compacted_store_keeps_partition_pruning(spark, sf_dir):
    """Compaction must not cost the store its search property: the
    candidate scan over the COMPACTED tree still carries the literal
    PartitionFilters IN-list on `cell` (cell leads the partition spec in
    the batch_seq=-1 generation exactly as in the per-epoch leaves)."""
    import re

    from automate_data_ingestion_project_spark.analytics.ivf import N_CELLS

    df = entrymod.queries()["ivf_store_compaction"](spark, sf_dir)
    plan = _formatted(df)
    pf_lines = [
        ln
        for ln in plan.splitlines()
        if "PartitionFilters" in ln and "cell" in ln and " IN (" in ln
    ]
    assert pf_lines, "no literal cell pruning in the compacted-store scan"
    in_list = sorted(
        int(x)
        for x in re.search(r" IN \(([0-9,]+)\)", pf_lines[0]).group(1).split(",")
    )
    assert 0 < len(in_list) < N_CELLS


def test_shard_store_asof_scan_prunes_generations(spark, sf_dir):
    """The as-of read is a partition filter: the scan over the shard
    store must carry a PartitionFilters entry on batch_seq, so a
    time-travel read never opens newer generations' files."""
    df = entrymod.queries()["shard_store_asof"](spark, sf_dir)
    plan = _formatted(df)
    pf_lines = [
        ln
        for ln in plan.splitlines()
        if "PartitionFilters" in ln and "batch_seq" in ln
    ]
    assert pf_lines, "no batch_seq partition pruning in the as-of scan"


def test_ann_ivfpq_ingest_store_is_codes_only_and_prunes(spark, sf_dir):
    """The incremental IVF-PQ store must hold codes, not vectors (the
    composed index's 100 TB contract), and the ADC candidate scan over
    the appended store must partition-prune on the probed cells."""
    import re

    from automate_data_ingestion_project_spark.analytics.ivf import N_CELLS
    from automate_data_ingestion_project_spark.analytics.load import (
        scratch_path,
    )
    from automate_data_ingestion_project_spark.analytics.pq import (
        M,
        ivfpq_store_paths,
    )

    df = entrymod.queries()["ann_ivfpq_ingest_replay"](spark, sf_dir)
    plan = _formatted(df)
    pf_lines = [
        ln
        for ln in plan.splitlines()
        if "PartitionFilters" in ln and "cell" in ln and " IN (" in ln
    ]
    assert pf_lines, "no literal cell pruning in the codes-store scan"
    in_list = sorted(
        int(x)
        for x in re.search(r" IN \(([0-9,]+)\)", pf_lines[0]).group(1).split(",")
    )
    assert 0 < len(in_list) < N_CELLS

    # the store schema is (vec_id, codes[M], cell, batch_seq) — no
    # raw embedding column anywhere at rest
    codes_path, _ = ivfpq_store_paths(scratch_path("ann_ivfpq_ingest_replay"))
    store = spark.read.parquet(codes_path)
    assert "embedding" not in store.columns
    assert set(store.columns) == {"vec_id", "codes", "cell", "batch_seq"}
    row = store.limit(1).collect()[0]
    assert len(row.codes) == M


def test_pq_refine_broadcasts_shortlist_no_corpus_shuffle(spark, sf_dir):
    """The refine stage's join-back to full-precision vectors must
    broadcast the Q·SHORTLIST shortlist — the corpus side is never
    shuffled for the refine (at 100 TB it is a row-group-pruned
    point-lookup scan, not an exchange)."""
    df = entrymod.queries()["ann_pq_refined_topk"](spark, sf_dir)
    plan = _formatted(df)
    assert "BroadcastHashJoin" in plan
    # no sort-merge join anywhere in the refine tail: the only
    # corpus-wide exchanges belong to the ADC stage's aggregates
    assert "SortMergeJoin" not in plan


def test_read_committed_is_pure_partition_prune(spark, tmp_path):
    """read_committed's isolation must cost nothing at scan time: the
    committed-generation filter lands as PartitionFilters on batch_seq
    (pruned at planning — orphan files never opened), NOT as a post-read
    row Filter. With tombstones, the mask must be a broadcast anti-join
    (BroadcastHashJoin LeftAnti), never a shuffle of the store."""
    from automate_data_ingestion_project_spark.io.maintenance import (
        append_store_batch,
        append_tombstones,
        read_committed,
    )

    data = str(tmp_path / "data")
    ledger = str(tmp_path / "ledger")
    rows = spark.range(0, 50).select(
        F.col("id").alias("vid"), (F.col("id") % 4).cast("int").alias("cell")
    )
    append_store_batch(spark, data, ledger, rows, 0, "cell", "vid")
    plan = _formatted(read_committed(spark, data, ledger))
    assert "PartitionFilters" in plan
    pf_line = [ln for ln in plan.splitlines() if "PartitionFilters" in ln][0]
    assert "batch_seq" in pf_line
    # no data-column Filter node introduced by the isolation
    data_filters = [
        ln
        for ln in plan.splitlines()
        if ln.strip().startswith("Condition") and "vid" in ln
    ]
    assert not data_filters

    t_data, t_ledger = str(tmp_path / "td"), str(tmp_path / "tl")
    dead = spark.range(0, 50).filter("id % 9 = 1").select(
        F.col("id").alias("vid")
    )
    append_tombstones(spark, t_data, t_ledger, dead, 0, "vid")
    masked = read_committed(
        spark,
        data,
        ledger,
        tombstones_path=t_data,
        tombstone_ledger_path=t_ledger,
        id_col="vid",
    )
    mplan = _formatted(masked)
    assert "BroadcastHashJoin" in mplan and "LeftAnti" in mplan
    assert "SortMergeJoin" not in mplan


def test_q3_wave_shapes_push_filters_and_avoid_cartesians(spark, sf_dir):
    """The Q9/Q12/Q20/Q21 wave's load-bearing plan claims: selective
    predicates reach their parquet scans (the widget name filter, the
    date windows) and no shape degenerates into a cartesian product;
    Q21's per-order supplier-cardinality pair comes from ONE aggregate
    (two agg expressions, not two scans)."""
    from automate_data_ingestion_project_spark.analytics.warehouse_q3 import (
        late_lines_by_priority_class,
        nation_profit_by_year,
        promotable_part_suppliers,
        waiting_suppliers,
    )

    for fn, pushed_marker in (
        (nation_profit_by_year, "StringContains(p_name,widget)"),
        (late_lines_by_priority_class, "GreaterThanOrEqual(o_orderdate"),
        (promotable_part_suppliers, "GreaterThanOrEqual(l_shipdate"),
        (waiting_suppliers, "EqualTo(o_orderstatus,F)"),
    ):
        plan = _formatted(fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, fn.__name__
        if pushed_marker is not None:
            assert pushed_marker in plan, fn.__name__
    # Q21 (r17 shape): ONE Window over the single l_orderkey exchange
    # computes BOTH per-order cardinalities as collect_set sizes — no
    # Expand (the old double-countDistinct rewrite doubled every
    # aggregation row), no SortMergeJoin join-back, no cached relation
    wplan = _formatted(waiting_suppliers(spark, sf_dir))
    assert wplan.count("Window") >= 1
    # the late-only set's CASE input is pre-projected (_w0), so pin the
    # count of collect_set window expressions rather than its argument
    assert wplan.count("collect_set(") >= 2
    assert "collect_set(l_suppkey" in wplan
    assert "Expand" not in wplan
    assert "SortMergeJoin" not in wplan
    assert "InMemoryRelation" not in wplan


def test_tombstone_mask_broadcast_is_size_gated(spark, tmp_path):
    """The tombstone anti-join mask carries the broadcast hint ONLY
    while the ledger-metadata id count stays under the gate: below it
    the masked read plans a BroadcastHashJoin (the corpus is never
    reshuffled for a typical takedown set), above it the hint is
    withheld and — with auto-broadcast off, as a 100 TB mask would be —
    the same read plans a shuffle anti-join instead of blowing the
    driver on an unbounded broadcast."""
    import automate_data_ingestion_project_spark.io.maintenance as maint

    data, ledger = str(tmp_path / "d"), str(tmp_path / "l")
    t_data, t_ledger = str(tmp_path / "t"), str(tmp_path / "tl")
    rows = spark.range(0, 200).select(
        F.col("id").alias("vid"),
        (F.col("id") % 4).cast("int").alias("cell"),
    )
    maint.append_store_batch(spark, data, ledger, rows, 0, "cell", "vid")
    maint.append_tombstones(
        spark,
        t_data,
        t_ledger,
        spark.range(0, 50).selectExpr("id AS vid"),
        0,
        "vid",
    )

    def plan():
        return _physical(
            maint.read_committed(
                spark,
                data,
                ledger,
                tombstones_path=t_data,
                tombstone_ledger_path=t_ledger,
                id_col="vid",
            )
        )

    prev_gate = maint.TOMBSTONE_BROADCAST_MAX_IDS
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.catalog.clearCache()
    try:
        # below the gate: the hint wins regardless of the threshold
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        below = plan()
        assert "BroadcastHashJoin" in below, below
        # above the gate (50 committed ids > gate 10): hint withheld,
        # the anti-join falls back to a shuffle strategy
        maint.TOMBSTONE_BROADCAST_MAX_IDS = 10
        above = plan()
        assert "BroadcastHashJoin" not in above, above
        assert "SortMergeJoin" in above or "ShuffledHashJoin" in above, above
        assert "LeftAnti" in above, above
    finally:
        maint.TOMBSTONE_BROADCAST_MAX_IDS = prev_gate
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)


def test_change_feed_delta_read_is_partition_pruned(spark, tmp_path):
    """The CDF consumer's add path must stay a pure partition prune:
    the delta read after a checkpoint plans a literal PartitionFilters
    IN over exactly the NEW generations — never a scan of the consumed
    history (the property that makes a caught-up consumer free and an
    incremental one proportional to its delta)."""
    from pyspark.sql import functions as F2

    from automate_data_ingestion_project_spark.io.maintenance import (
        append_store_batch,
        read_store_changes,
    )

    data = str(tmp_path / "data")
    ledger = str(tmp_path / "ledger")
    for seq, (lo, hi) in enumerate([(0, 30), (30, 50), (50, 70)]):
        rows = spark.range(lo, hi).select(
            F2.col("id").alias("vid"),
            (F2.col("id") % 4).cast("int").alias("cell"),
            (F2.col("id") * 10).alias("payload"),
        )
        append_store_batch(spark, data, ledger, rows, seq, "cell", "vid")

    delta = read_store_changes(spark, data, ledger, after_seq=0)
    plan = _formatted(delta)
    pf = [
        ln
        for ln in plan.splitlines()
        if "PartitionFilters" in ln and "batch_seq" in ln
    ]
    assert pf, "no partition filter on batch_seq in the delta read"
    # generations 1 and 2 only — the consumed generation 0 is pruned
    # at scan planning, not filtered per-row
    assert " IN (1,2)" in pf[0].replace(" IN (1, 2)", " IN (1,2)"), pf[0]


def test_bpe_merge_step_is_native_fold_over_cached_vocab(spark, sf_dir):
    """The BPE training iteration stays entirely JVM-side: the greedy
    merge is a higher-order ``aggregate`` fold (no Python eval node of
    any kind), the symbolized vocabulary is consumed from cache by
    every branch (pick + merge), and the winning pair reaches the
    merge as a broadcast 1-row relation, never a shuffle."""
    df = entrymod.queries()["bpe_merge_step"](spark, sf_dir)
    df.collect()
    plan = _physical(df)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "InMemoryTableScan" in plan
    assert "BroadcastExchange" in plan


def test_event_sessions_udtf_is_fed_by_one_full_width_exchange(spark, sf_dir):
    """event_sessions_udtf: ONE hash exchange on user_id at the session's
    shuffle width feeds BatchEvalPythonUDTF. It is REPARTITION_BY_NUM, so
    the final adaptive plan reads it uncoalesced (no AQEShuffleRead) with
    no conf scoped; the UDTF's own PARTITION BY exchange was dropped
    because the explicit one already satisfies it; and no checkpoint RDD
    stands in for the plan shape."""
    df = entrymod.queries()["event_sessions_udtf"](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    width = spark.conf.get("spark.sql.shuffle.partitions")
    assert "BatchEvalPythonUDTF" in final, plan
    exchanges = [ln for ln in final.splitlines() if "Exchange " in ln]
    assert len(exchanges) == 1, plan
    assert f", {width}), REPARTITION_BY_NUM" in exchanges[0], plan
    assert "hashpartitioning(user_id#" in exchanges[0], plan
    assert "AQEShuffleRead" not in final, plan
    assert "ExistingRDD" not in plan and "LogicalRDD" not in plan, plan
