"""Plan-shape tests: assert the *physical plan* properties the 100 TB
design depends on — broadcast joins where dims are small, zero
exchanges for bucketed joins, partition pruning on partitioned sinks,
filter/projection pushdown into parquet scans, and salted aggregation
equivalence."""

from __future__ import annotations

from pyspark.sql import functions as F

from music_streaming_etl_spark.operators.skew import (
    bucketed_table,
    join_bucketed,
    salted_count,
)
from music_streaming_etl_spark.plans.testdata_queries import _t


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().toString()


def test_dim_join_is_broadcast(spark, sf_dir):
    from music_streaming_etl_spark.plans.testdata_queries import q_left_join_equi

    plan = _plan(q_left_join_equi(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_scan_pushdown(spark, sf_dir):
    from music_streaming_etl_spark.plans.testdata_queries import (
        q_scan_parquet_pushdown,
    )

    df = q_scan_parquet_pushdown(spark, sf_dir)
    plan = _optimized(df)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)]" in plan
    # projection pruned to exactly the 4 selected columns
    assert "ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint,l_quantity:double,l_discount:double>" in plan


def test_bucketed_join_no_exchange(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    bl = bucketed_table(spark, li, "t_li_bucketed", "l_orderkey")
    bo = bucketed_table(spark, orders, "t_ord_bucketed", "l_orderkey")
    # disable broadcast so the join must pick sort-merge on bucketed layout
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = join_bucketed(bl, bo, "l_orderkey")
        plan = _plan(joined)
        assert "Exchange" not in plan, plan
        assert joined.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))


def test_sort_merge_fallback_when_dim_too_big(spark, sf_dir):
    """When the 'dim' exceeds the broadcast threshold the same join
    code must degrade to sort-merge, not fail or force a broadcast —
    the 100 TB fallback path."""
    from music_streaming_etl_spark.operators.joins import left_join_equi

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = left_join_equi(li, orders, "l_orderkey", broadcast_dim=False)
        plan = _plan(joined)
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert joined.count() == li.count()
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )


def test_partition_pruning(spark, sf_dir, tmp_path):
    out = str(tmp_path / "part_orders")
    orders = _t(spark, sf_dir, "orders").withColumn(
        "prio", F.col("o_orderpriority")
    )
    orders.write.mode("overwrite").partitionBy("prio").parquet(out)
    back = spark.read.parquet(out).filter(F.col("prio") == "1-URGENT")
    plan = _optimized(back)
    assert "PartitionFilters: [isnotnull(prio" in plan
    n_urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").count()
    assert back.count() == n_urgent


def test_salted_count_equivalence(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    plain = {
        r["l_returnflag"]: r["n"]
        for r in li.groupBy("l_returnflag").agg(F.count("l_partkey").alias("n")).collect()
    }
    salted = {
        r["l_returnflag"]: r["n"]
        for r in salted_count(li, ["l_returnflag"], "l_partkey", "n").collect()
    }
    assert plain == salted


def test_flagship_shuffle_budget(spark, sf_dir):
    """Regression guard on the fused genre_kpis plan: exactly two
    Exchanges (the wide level-1 agg + the tiny re-combine) and no
    SortMergeJoin — reintroducing the pandas-shaped two-pass plan
    (extra scan + window + join) would blow this budget."""
    from music_streaming_etl_spark.plans.testdata_queries import q_genre_kpis

    df = q_genre_kpis(spark, sf_dir)
    df.collect()
    # AQE's toString appends the pre-execution "Initial Plan" — count
    # only the final plan section
    plan = _plan(df).split("== Initial Plan ==")[0]
    # Budget 3 since r9: the wide level-1 agg + the tiny re-combine +
    # the scale-adaptive scan fan-out (operators/fanout.py — fires only
    # when the file layout cannot feed the session's cores, which the
    # one-row-group testdata never can; on a well-split layout the
    # plan is the original 2-exchange form).
    assert plan.count("Exchange") - plan.count("BroadcastExchange") <= 3, plan
    assert "SortMergeJoin" not in plan


def test_hourly_kpis_fused_exchange_budget(spark, sf_dir):
    """hourly_kpis' two distinct-count KPIs must come from ONE fused
    aggregation (Expand + two-phase agg = 2 shuffle exchanges over a
    single scan) — regressing to per-KPI chains joined at the end blows
    both budgets."""
    from music_streaming_etl_spark.plans.testdata_queries import q_hourly_kpis

    df = q_hourly_kpis(spark, sf_dir)
    df.collect()
    plan = _plan(df).split("== Initial Plan ==")[0]
    assert plan.count("Exchange") - plan.count("BroadcastExchange") <= 2, plan
    assert plan.count("FileScan") <= 1, plan
    assert "SortMergeJoin" not in plan


def test_whole_stage_codegen_on_hot_path(spark, sf_dir):
    from music_streaming_etl_spark.plans.testdata_queries import q_tpch_q1_pricing

    df = q_tpch_q1_pricing(spark, sf_dir)
    df.collect()  # AQE finalizes the plan only on execution
    plan = _plan(df)
    # '*(N)' prefixes mark whole-stage-codegen'd operators; both agg
    # phases must be inside codegen stages. Stage NUMBERS are not
    # pinned since r9: the scan fan-out (operators/fanout.py) adds a
    # stage ahead of the partial agg, shifting the indices.
    import re

    assert len(re.findall(r"\*\(\d+\) HashAggregate", plan)) >= 2, plan
    assert "isFinalPlan=true" in plan


def test_q6_date_cast_filter_reaches_scan(spark, sf_dir):
    """to_date(ts) >= date-literal must be unwrapped by Catalyst into a
    pushable timestamp range — if this regresses, Q6 scans the whole
    fact at 100 TB instead of pruning row groups."""
    from music_streaming_etl_spark.plans.tpch_queries import q_tpch_q6_forecast

    # plan toString truncates scan metadata at 100 chars — widen so the
    # filter list is actually visible to the assertions below
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    try:
        plan = _plan(q_tpch_q6_forecast(spark, sf_dir))
    finally:
        spark.conf.unset("spark.sql.maxMetadataStringLength")
    scan = [l for l in plan.splitlines() if "FileScan" in l][0]
    # the timestamp range appears as a direct comparison on l_shipdate
    # inside the scan's DataFilters (no cast wrapper left)
    assert "l_shipdate" in scan and ">=" in scan
    assert "PushedFilters: [IsNotNull" in scan
    # column pruning: only the 4 needed columns are read
    assert "l_tax" not in scan and "l_returnflag" not in scan


def test_q18_aggregates_before_join(spark, sf_dir):
    """Q18's HAVING subquery must aggregate lineitem to order grain
    BEFORE joining orders/customer (shuffle-shrink), not after."""
    from music_streaming_etl_spark.plans.tpch_queries import (
        q_tpch_q18_large_orders,
    )

    plan = _plan(q_tpch_q18_large_orders(spark, sf_dir))
    lines = plan.splitlines()
    first_join = min(
        i for i, l in enumerate(lines) if "Join" in l and "Exchange" not in l
    )
    # a HashAggregate on l_quantity sits BELOW (after, in toString
    # order) the first join — i.e. the join consumes aggregated rows
    agg_below = any("HashAggregate" in l for l in lines[first_join:])
    assert agg_below, plan


def test_no_forced_broadcast_on_fact_scaled_sides(spark, sf_dir):
    """orders/customer/supplier grow with scale factor — no query may
    FORCE them into a broadcast (an explicit hint overrides the size
    threshold and OOMs at 100 TB; Catalyst does not fall back).

    Detection: with autoBroadcastJoinThreshold=-1 an auto-chosen
    broadcast disappears but a hinted one persists in the initial plan.
    So any BroadcastExchange left under -1 is a forced hint — only the
    true dims (nation/region) and provably tiny derived sets may
    remain."""
    from music_streaming_etl_spark.plans.analytics_queries import (
        q_basket_affinity_lift,
        q_ewma_daily_revenue,
        q_full_outer_reconciliation,
        q_revenue_by_region,
        q_revenue_percentiles,
        q_robust_anomalies,
        q_tpch_q5_local_supplier,
    )
    from music_streaming_etl_spark.plans.extension_queries import (
        q_bm25_search,
    )
    from music_streaming_etl_spark.plans.testdata_queries import (
        q_top_revenue_customers,
    )
    from music_streaming_etl_spark.plans.tpch_queries import (
        q_tpch_q10_returns,
        q_tpch_q18_large_orders,
    )

    # (query, min shuffle joins, max hinted broadcasts allowed)
    cases = [
        (q_revenue_by_region, 2, 2),       # nation + region stay hinted
        (q_tpch_q5_local_supplier, 3, 2),  # nation + region stay hinted
        (q_revenue_percentiles, 1, 0),
        (q_top_revenue_customers, 2, 0),
        (q_tpch_q10_returns, 2, 0),
        (q_tpch_q18_large_orders, 2, 0),
        # daily-grain self-join: both sides are post-agg dim-sized,
        # but neither may be FORCED — AQE decides at runtime
        (q_ewma_daily_revenue, 1, 0),
        (q_full_outer_reconciliation, 1, 0),
        # bounded-by-construction hinted broadcasts only: the 1-row
        # (N, avgdl) stats frame + the |query-terms|-row idf table …
        (q_bm25_search, 1, 2),
        # … and the |priority|-row median/MAD frames (3: the med
        # broadcast is rebuilt for each of devs' two consumers)
        (q_robust_anomalies, 0, 3),
        # item-grain counts grow with SF — the pair/count joins must
        # stay shuffle joins; only the 1-row basket total may hint
        (q_basket_affinity_lift, 3, 1),
    ]
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for fn, min_smj, max_bcast in cases:
            plan = _plan(fn(spark, sf_dir)).split("== Initial Plan ==")[0]
            n_smj = plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin")
            assert n_smj >= min_smj, f"{fn.__name__}: {n_smj} shuffle joins\n{plan}"
            n_bcast = plan.count("BroadcastExchange")
            assert n_bcast <= max_bcast, (
                f"{fn.__name__}: {n_bcast} forced broadcasts (max {max_bcast})\n{plan}"
            )
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )


def test_left_join_equi_auto_is_size_aware(spark, sf_dir):
    """Default (auto) mode: small dim → broadcast hint; with
    broadcasting disabled the same call plans a shuffle join instead
    of forcing the hint."""
    from music_streaming_etl_spark.operators.joins import left_join_equi

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    plan_auto = _plan(left_join_equi(li, orders, "l_orderkey"))
    assert "BroadcastHashJoin" in plan_auto  # fits at test scale
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan_off = _plan(left_join_equi(li, orders, "l_orderkey")).split(
            "== Initial Plan =="
        )[0]
        assert "BroadcastExchange" not in plan_off, plan_off
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )


def test_global_topk_in_query_plans_take_ordered(spark, sf_dir):
    """The rewritten top-k queries must plan TakeOrderedAndProject —
    not a single-partition WindowExec over the full input."""
    from music_streaming_etl_spark.plans.tpch_queries import q_tpch_q10_returns

    plan = _plan(q_tpch_q10_returns(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_new_tpch_shapes_plan_scale_safe(spark, sf_dir):
    """Round-2 TPC-H additions: fact-scaled sides (orders/customer/
    supplier) must shuffle-join, and the only broadcasts that survive
    autoBroadcastJoinThreshold=-1 are hinted true dims (nation/region/
    part) or 1-row scalar aggregates. Duplicate counts in the plan
    text come from multi-consumer subtrees (pair_cost/per_part) being
    printed per consumer. Q11's single nested-loop join is the 1-row
    scalar-threshold cross join — the one legitimate NLJ shape."""
    from music_streaming_etl_spark.plans.tpch_queries import (
        q_tpch_q2_min_cost_supplier,
        q_tpch_q7_volume_shipping,
        q_tpch_q8_market_share,
        q_tpch_q9_product_profit,
        q_tpch_q11_important_parts,
        q_tpch_q13_order_distribution,
        q_tpch_q16_supplier_counts,
        q_tpch_q20_dominant_supplier,
        q_tpch_q21_waiting_supplier,
    )

    # (query, min shuffle joins, max hinted broadcasts, max NLJ)
    cases = [
        (q_tpch_q2_min_cost_supplier, 3, 6, 0),
        (q_tpch_q7_volume_shipping, 3, 2, 0),
        (q_tpch_q8_market_share, 3, 4, 0),
        (q_tpch_q9_product_profit, 2, 2, 0),
        (q_tpch_q11_important_parts, 2, 5, 1),  # 1-row scalar threshold
        (q_tpch_q13_order_distribution, 1, 0, 0),
        (q_tpch_q16_supplier_counts, 1, 1, 0),
        (q_tpch_q20_dominant_supplier, 2, 4, 0),
        (q_tpch_q21_waiting_supplier, 5, 0, 0),
    ]
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for fn, min_smj, max_bcast, max_nlj in cases:
            plan = _plan(fn(spark, sf_dir)).split("== Initial Plan ==")[0]
            n_smj = plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin")
            assert n_smj >= min_smj, f"{fn.__name__}: {n_smj} shuffle joins\n{plan}"
            n_bcast = plan.count("BroadcastExchange")
            assert n_bcast <= max_bcast, (
                f"{fn.__name__}: {n_bcast} forced broadcasts (max {max_bcast})\n{plan}"
            )
            n_nlj = plan.count("BroadcastNestedLoopJoin") + plan.count(
                "CartesianProduct"
            )
            assert n_nlj <= max_nlj, f"{fn.__name__}: {n_nlj} nested-loop joins\n{plan}"
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )


def test_snapshot_diff_hashes_before_shuffle(spark, sf_dir):
    """The CDC diff must shuffle (key, digest) projections, not full
    rows: md5 sits BELOW each Exchange, and the full-outer join is a
    sort-merge on the key (never a nested loop)."""
    from music_streaming_etl_spark.plans.analytics_queries import q_snapshot_diff

    plan = _plan(q_snapshot_diff(spark, sf_dir))
    assert "SortMergeJoin" in plan and "FullOuter" in plan
    assert "BroadcastNestedLoop" not in plan
    for side in plan.split("SortMergeJoin")[1].split("Exchange")[1:3]:
        assert "md5" in side, plan  # digest projected map-side


def test_profile_table_single_scan_no_union(spark, sf_dir):
    """Profiler must be ONE aggregation pass: a single FileScan, no
    Union of per-column jobs."""
    from music_streaming_etl_spark.plans.analytics_queries import q_profile_table

    plan = _plan(q_profile_table(spark, sf_dir))
    assert plan.count("FileScan") == 1, plan
    assert "Union" not in plan
    assert "Expand" in plan  # multi-distinct in the same pass


def test_continuous_aggregate_two_level_agg(spark, sf_dir):
    """Monthly-from-daily re-aggregation: exactly two shuffle
    boundaries (daily grain, monthly grain) over one fact scan."""
    from music_streaming_etl_spark.plans.analytics_queries import (
        q_continuous_aggregate,
    )

    plan = _plan(q_continuous_aggregate(spark, sf_dir))
    assert plan.count("FileScan") == 1
    assert plan.count("Exchange") == 2, plan


def test_skew_profile_plans_take_ordered(spark, sf_dir):
    """key_skew_profile must resolve top-n via per-partition heaps
    (TakeOrderedAndProject) and broadcast the 1-row total — never a
    global-window sort of the key counts."""
    from music_streaming_etl_spark.plans.extension_queries import (
        q_key_skew_profile,
    )

    plan = _plan(q_key_skew_profile(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row total, broadcast


def test_corpus_shuffle_no_global_window(spark, sf_dir):
    """The seeded shuffle ranks via range-partition + offsets; a
    'Window' node over an unpartitioned full input would be the
    single-partition scale bug. The only Window allowed is the one
    inside global_rank partitioned by _pid."""
    from music_streaming_etl_spark.plans.extension_queries import (
        q_corpus_shuffle,
    )

    plan = _plan(q_corpus_shuffle(spark, sf_dir))
    assert "RangePartitioning" in plan or "rangepartitioning" in plan.lower()


def test_minhash_verify_joins_exchange_longs_not_strings(spark, sf_dir):
    """After the hashed-index rewrite, the verify-stage shuffles carry
    the 60-bit hash column — no raw shingle string column may appear
    in any Exchange's output schema."""
    from music_streaming_etl_spark.plans.extension_queries import (
        q_dedup_minhash,
    )

    df = q_dedup_minhash(spark, sf_dir)
    plan = _plan(df)
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line and "sh#" in line:
            raise AssertionError(f"raw shingle string in a shuffle: {line}")


def test_minhash_verify_regime_switch(spark, sf_dir, monkeypatch):
    """The verify joins are size-CONDITIONAL (VERDICT r4 item 2): a
    small corpus (measured cached bytes ≤ cap) broadcast-hints the
    hsd/cnts projections — no sort-merge tax; forcing the cap to 0
    reproduces the 100×-safe MERGE pin. The decision reads EXACT
    materialized-cache bytes, never Catalyst's (undershooting)
    estimate, so the forced broadcast cannot OOM at scale."""
    from music_streaming_etl_spark.operators import dedup as D
    from music_streaming_etl_spark.plans.extension_queries import (
        q_dedup_minhash,
    )

    spark.catalog.clearCache()
    try:
        plan = _plan(q_dedup_minhash(spark, sf_dir))
        assert "BroadcastHashJoin" in plan  # small regime at test SF
        spark.catalog.clearCache()
        monkeypatch.setattr(D, "_VERIFY_BROADCAST_CAP", 0)
        plan = _plan(q_dedup_minhash(spark, sf_dir))
        assert "SortMergeJoin" in plan  # forced large regime
    finally:
        spark.catalog.clearCache()


def test_explicit_verify_regime_skips_measurement_and_stays_lazy(
    spark, sf_dir, monkeypatch
):
    """ADVICE r5: plan-only consumers must be able to build the LSH
    pipelines without materializing the corpus. An explicit
    verify_regime must (a) never call the measuring path and (b)
    still produce the pinned plan shape of that regime."""
    import pytest

    from music_streaming_etl_spark.operators import dedup as D

    spark.catalog.clearCache()

    def _boom(_df):
        raise AssertionError(
            "explicit verify_regime must not measure cache bytes"
        )

    monkeypatch.setattr(D, "_exact_cached_bytes", _boom)
    docs = _t(spark, sf_dir, "documents")
    try:
        merged = D.dedup_minhash_pairs(
            docs, "doc_id", "text", verify_regime="merge"
        )
        assert "SortMergeJoin" in _plan(merged)
        bcast = D.dedup_minhash_pairs(
            docs, "doc_id", "text", verify_regime="broadcast"
        )
        assert "BroadcastHashJoin" in _plan(bcast)
        with pytest.raises(ValueError, match="verify_regime"):
            D.dedup_minhash_pairs(
                docs, "doc_id", "text", verify_regime="bogus"
            )
    finally:
        spark.catalog.clearCache()


def test_exact_cached_bytes_private_api_returns_measured_size(spark, sf_dir):
    """VERDICT r5 item 5: `_exact_cached_bytes` reaches into
    `_jdf.queryExecution().optimizedPlan().stats()` — a private
    PySpark surface. Its failure mode is SILENT: the except branch
    returns maxsize, which flips every corpus into the always-MERGE
    regime — correct but paying the full sort-merge tax on small
    corpora (the r4 dedup_minhash regression, ~0.6s/query at sf0.1,
    was exactly that cost). Pin the API here so a Spark upgrade that
    breaks the internals fails THIS test instead of resurfacing as a
    perf mystery: the measured value must be a plausible byte count
    (>0, far below the maxsize sentinel) and must exceed Catalyst's
    static estimate on the hashed-shingle frame, which is the whole
    reason the measured path exists (estimate undershot 12× at
    sf0.1)."""
    import sys

    from music_streaming_etl_spark.operators.dedup import (
        _exact_cached_bytes,
        minhash_index,
    )

    spark.catalog.clearCache()
    docs = _t(spark, sf_dir, "documents")
    try:
        hsd, _ = minhash_index(docs, "doc_id", "text", 16, 1)
        static_est = int(
            hsd._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
        measured = _exact_cached_bytes(hsd)
        assert 0 < measured < sys.maxsize, (
            "private-API path broke — _exact_cached_bytes fell back to "
            "the maxsize sentinel (always-MERGE regime)"
        )
        assert measured > static_est, (measured, static_est)
    finally:
        spark.catalog.clearCache()


def test_fits_broadcast_private_api(spark, sf_dir):
    """`fits_broadcast` reads the same private stats surface as
    `_exact_cached_bytes`, and its failure mode is just as silent:
    the blanket except returns False, demoting every size-aware
    broadcast to a shuffle plan (with AQE off — the hostile conf —
    nothing demotes it back). That is not hypothetical: on this
    build py4j returns sizeInBytes as a plain int, the pre-round-6
    `.toString()` accessor raised AttributeError on it, and every
    call had been returning False. Pin both directions so the next
    bridge change fails HERE, not as a plan mystery."""
    from music_streaming_etl_spark.operators.joins import fits_broadcast

    region = _t(spark, sf_dir, "region")
    assert fits_broadcast(region) is True, (
        "private-API path broke — fits_broadcast fell back to False "
        "(all auto-broadcasts demoted to shuffle plans)"
    )
    assert fits_broadcast(region, threshold=16) is False  # gate still gates


def test_zorder_layout_single_shuffle(spark, sf_dir):
    """zorder_layout = one range exchange (plus the broadcast of the
    1-row span aggregate) — no second shuffle, no join on data."""
    from music_streaming_etl_spark.operators.layout import zorder_layout

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    plan = _plan(zorder_layout(orders, ["o_custkey", "o_totalprice"], 8))
    assert plan.count("Exchange rangepartitioning") == 1
    assert "BroadcastNestedLoopJoin" in plan  # 1-row spans, broadcast
    assert "SortMergeJoin" not in plan


def test_aqe_splits_skewed_join_partitions(spark, tmp_path):
    """The engine's stated skew story is 'AQE handles residual skew on
    shuffle joins' (joins.py, SCALE.md) — prove it: a sort-merge join
    with one hot key must come out of AQE with the skewed partition
    split (the final adaptive plan marks the SMJ 'skew=true')."""
    hot = spark.range(200_000).select(
        F.lit(1).alias("k"), F.col("id").alias("payload")
    )
    cold = spark.range(2_000).select(
        (F.col("id") % 50 + 2).alias("k"), F.col("id").alias("payload")
    )
    left = hot.unionAll(cold)
    right = spark.range(51).select(
        (F.col("id") + 1).alias("k"), F.lit("dim").alias("tag")
    )
    old = {
        c: spark.conf.get(c, None)
        for c in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        joined = left.join(right, "k")
        # execute THIS Dataset's queryExecution (count() would build a
        # separate one and leave this plan un-finalized by AQE)
        assert len(joined.collect()) == 202_000
        plan = _plan(joined)
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:2000]
    finally:
        for c, v in old.items():
            if v is None:
                spark.conf.unset(c)
            else:
                spark.conf.set(c, v)


def test_null_skipping_left_join_equivalent_and_no_null_shuffle(spark):
    """left_join_null_skipping must be row-identical to the plain left
    join, and its null branch must reach the union without any
    Exchange (null-key rows never enter a shuffle)."""
    from music_streaming_etl_spark.operators.joins import (
        left_join_null_skipping,
    )

    left = spark.createDataFrame(
        [(1, "a"), (2, "b"), (None, "c"), (None, "d"), (3, "e")],
        "k int, lv string",
    )
    right = spark.createDataFrame([(1, "x"), (3, "z")], "k int, rv string")

    got = left_join_null_skipping(left, right, "k")
    want = left.join(right, "k", "left")
    assert sorted(map(tuple, got.collect()), key=str) == sorted(
        map(tuple, want.collect()), key=str
    )

    # plan: routing the null rows must add ZERO exchanges over the
    # non-null-only join — the null branch reaches the union map-side
    plan = _plan(got).split("== Initial Plan ==")[0]
    base = left.filter(F.col("k").isNotNull()).join(right, "k", "left")
    base.collect()
    base_plan = _plan(base).split("== Initial Plan ==")[0]
    assert plan.count("Exchange") == base_plan.count("Exchange"), plan
    assert "Union" in plan


def test_runtime_bloom_filter_prunes_fact_scan(spark, sf_dir):
    """Runtime row-level filtering: a selective dim-side filter must
    inject a bloom filter into the fact side of the shuffle join
    (might_contain below the join), so fact rows that cannot match die
    at the scan instead of crossing the exchange — Catalyst's own
    version of semi-join pushdown, and the conf story this engine
    relies on for selective fact×dim shuffle joins at scale. The
    creation/application thresholds are lowered here only because the
    local fixture is tiny; at real scale the defaults fire."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
    }
    old = {c: spark.conf.get(c, None) for c in confs}
    try:
        for c, v in confs.items():
            spark.conf.set(c, v)
        li = _t(spark, sf_dir, "lineitem")
        urgent = _t(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(urgent, li.l_orderkey == urgent.o_orderkey)
        plan = _plan(j).lower()
        assert "might_contain" in plan or "bloomfilter" in plan, plan[:1500]
        # and the filtered join still answers correctly
        assert j.count() > 0
    finally:
        for c, v in old.items():
            if v is None:
                spark.conf.unset(c)
            else:
                spark.conf.set(c, v)


def test_parquet_aggregate_pushdown_answers_from_footers(spark, sf_dir):
    """MIN/MAX/COUNT with no filter must come straight out of parquet
    footer statistics (PushedAggregation in the v2 BatchScan) — at
    100 TB that is the difference between a metadata read and a full
    table scan. The v1 source can't push aggregates, so the engine's
    documented recipe is: flip to the v2 parquet source for
    stats-only queries."""
    old_v1 = spark.conf.get("spark.sql.sources.useV1SourceList", None)
    old_agg = spark.conf.get("spark.sql.parquet.aggregatePushdown", None)
    try:
        spark.conf.set("spark.sql.sources.useV1SourceList", "")
        spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
        df = spark.read.parquet(f"{sf_dir}/orders.parquet")
        agg = df.agg(
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
            F.count(F.lit(1)).alias("n"),
        )
        plan = _plan(agg)
        assert "PushedAggregation: [MIN(o_totalprice), MAX(o_totalprice), COUNT(*)]" in plan, plan
        row = agg.collect()[0]
        assert row["n"] > 0 and row["lo"] < row["hi"]
    finally:
        if old_v1 is None:
            spark.conf.unset("spark.sql.sources.useV1SourceList")
        else:
            spark.conf.set("spark.sql.sources.useV1SourceList", old_v1)
        if old_agg is None:
            spark.conf.unset("spark.sql.parquet.aggregatePushdown")
        else:
            spark.conf.set("spark.sql.parquet.aggregatePushdown", old_agg)


def test_lateral_subquery_decorrelates_to_ranked_join(spark, sf_dir):
    """The LATERAL top-3-per-customer must decorrelate into a window
    rank + join — a correlated nested-loop (re-running the subquery
    per customer row) would be quadratic at scale."""
    from music_streaming_etl_spark.plans.analytics_queries import (
        q_lateral_top_orders,
    )

    plan = _plan(q_lateral_top_orders(spark, sf_dir))
    assert "Window" in plan  # the decorrelated per-key rank
    assert "BroadcastNestedLoopJoin" not in plan, plan[:1500]


def test_round5_shapes_plan_scale_safe(spark, sf_dir):
    """Round-5 additions plan with the engine primitives they claim:
    hopping windows are an Expand + hash-agg (never a window sort);
    native sessionization goes through the session-merge operators;
    the market-basket self-join is an equi hash/merge join (never a
    nested loop / cartesian); gap fill keeps its explode distributed
    with an equi left join back."""
    from music_streaming_etl_spark.plans.analytics_queries import (
        q_copurchase_pairs,
        q_event_transitions,
        q_gapfill_daily,
        q_hopping_windows,
        q_sessionize_native,
    )

    hop = _plan(q_hopping_windows(spark, sf_dir))
    assert "Expand" in hop
    assert "WindowExec" not in hop and "RunningWindow" not in hop

    sess = _plan(q_sessionize_native(spark, sf_dir))
    assert "Sessions" in sess  # MergingSessions / UpdatingSessions

    for fn in (q_copurchase_pairs, q_event_transitions, q_gapfill_daily):
        plan = _plan(fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, fn.__name__
        assert "BroadcastNestedLoopJoin" not in plan, fn.__name__

    # the market-basket SELF-join must never broadcast (both sides are
    # the same frame; the 100x probe showed the static-estimate
    # broadcast dying in notEnoughMemoryToBuildAndBroadcastTable)
    basket = _plan(q_copurchase_pairs(spark, sf_dir))
    assert "SortMergeJoin" in basket
    assert "BroadcastHashJoin" not in basket

    gap = _plan(q_gapfill_daily(spark, sf_dir))
    assert "Generate" in gap  # the sequence()+explode calendar spine


def test_stickiness_no_nested_loop_join(spark, sf_dir):
    """The DAU/WAU/MAU range lookback must be an exploded 0..27 lag
    fan-out hash-joined to the day spine — a datediff-only predicate
    would plan a BroadcastNestedLoopJoin with O(|days| x |day-user
    rows|) predicate evaluations (the round-2 advisor finding)."""
    from music_streaming_etl_spark.plans.analytics_queries import (
        q_stickiness_ratios,
    )

    plan = _plan(q_stickiness_ratios(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan
    assert "Generate" in plan  # the explode(sequence(0,27)) fan-out


def test_round3_shapes_plan_scale_safe(spark, sf_dir):
    """Round-3 additions never plan a cartesian/nested-loop join (the
    only broadcast-nested-loop allowed anywhere is a 1-row bound
    frame, which Catalyst plans as BroadcastHashJoin-free crossJoin of
    a single row — assert the dangerous shapes instead), and the top-k
    surfaces go through TakeOrderedAndProject."""
    from music_streaming_etl_spark.plans.advanced_queries import (
        q_capped_running_balance,
        q_frequent_triples,
        q_ks_drift,
        q_record_linkage_scores,
        q_rolling_median_7d,
        q_skyline_customers,
        q_sparse_cosine_topk,
        q_weighted_sample_docs,
    )

    for fn in (
        q_skyline_customers,
        q_sparse_cosine_topk,
        q_record_linkage_scores,
        q_rolling_median_7d,
        q_frequent_triples,
        q_capped_running_balance,
    ):
        plan = _plan(fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, fn.__name__
        # 1-row broadcasts (counts/bounds/totals) legitimately plan as
        # BroadcastNestedLoopJoin with no condition; anything joining
        # two real frames must not
        for line in plan.splitlines():
            if "BroadcastNestedLoopJoin" in line:
                assert "Cross" in line, (fn.__name__, line)

    for fn in (q_sparse_cosine_topk, q_record_linkage_scores, q_weighted_sample_docs):
        assert "TakeOrderedAndProject" in _plan(fn(spark, sf_dir)), fn.__name__

    # ks_drift: the value-grain cumulative must be range-partitioned,
    # never a single-partition global window
    ks = _plan(q_ks_drift(spark, sf_dir))
    assert "rangepartitioning" in ks.lower(), ks[:500]


def test_frequent_triples_never_broadcasts_basket_frames(spark, sf_dir):
    """All joins touching the basket-scaled (order, part) frame (and
    the pair-lattice self-joins) are pinned MERGE: the sides are the
    same frame by construction, so a broadcast can never be right —
    the unhinted plan died in notEnoughMemoryToBuildAndBroadcastTable
    at the probe's 100x point."""
    from music_streaming_etl_spark.plans.advanced_queries import (
        q_frequent_triples,
    )

    plan = _plan(q_frequent_triples(spark, sf_dir))
    assert "SortMergeJoin" in plan
    assert "BroadcastHashJoin" not in plan, plan


def test_stats_shapes_plan_scale_safe(spark, sf_dir):
    """The statistical-test surface: fact-scaled frames never ride a
    nested loop or a single-partition global window; the rank-sum /
    gini rank paths are range-partitioned; the only
    BroadcastNestedLoopJoin anywhere is the documented 1-row bound
    frame (sigma / n / totals)."""
    from music_streaming_etl_spark.plans.stats_queries import (
        q_auc_doc_length,
        q_audience_overlap,
        q_bootstrap_mean_ci,
        q_cusum_alerts,
        q_degree_assortativity,
        q_dow_seasonality,
        q_embedding_dim_stats,
        q_event_entropy,
        q_gains_table,
        q_gini_coefficient,
        q_kaplan_meier_churn,
        q_largest_remainder_quota,
        q_mann_kendall_seasonal,
        q_mann_whitney_u,
        q_quantile_normalization,
        q_regression_slope_daily,
        q_spearman_correlation,
        q_theil_sen_seasonal,
        q_token_pmi,
        q_wilson_ci,
        q_price_volume_mix,
        q_abc_classification,
        q_seasonal_naive_backtest,
        q_oov_rate,
        q_hard_negative_centroids,
        q_weighted_median_price,
        q_business_days_to_ship,
        q_nearest_warehouse,
        q_sprt_decision,
        q_shapley_attribution,
        q_npv_revenue_stream,
        q_centroid_silhouette,
        q_stratified_ate,
        q_difference_in_differences,
        q_conformal_interval,
        q_embedding_mmd,
        q_partial_correlation,
        q_seasonality_strength,
        q_mcnemar_test,
        q_cohens_kappa,
        q_eb_shrunk_rates,
        q_suggest_constraints,
        q_anova_oneway,
        q_keyness_llr,
        q_ivm_refresh,
        q_tpch_q1_piped,
        q_survival_rmst,
    )

    for fn in (
        q_mann_whitney_u,
        q_auc_doc_length,
        q_gini_coefficient,
        q_event_entropy,
        q_dow_seasonality,
        q_cusum_alerts,
        q_regression_slope_daily,
        q_mann_kendall_seasonal,
        q_theil_sen_seasonal,
        q_embedding_dim_stats,
        q_bootstrap_mean_ci,
        q_kaplan_meier_churn,
        q_token_pmi,
        q_gains_table,
        q_degree_assortativity,
        q_quantile_normalization,
        q_largest_remainder_quota,
        q_wilson_ci,
        q_audience_overlap,
        q_spearman_correlation,
        q_price_volume_mix,
        q_abc_classification,
        q_seasonal_naive_backtest,
        q_oov_rate,
        q_hard_negative_centroids,
        q_weighted_median_price,
        q_business_days_to_ship,
        q_nearest_warehouse,
        q_sprt_decision,
        q_shapley_attribution,
        q_npv_revenue_stream,
        q_centroid_silhouette,
        q_stratified_ate,
        q_difference_in_differences,
        q_conformal_interval,
        q_embedding_mmd,
        q_partial_correlation,
        q_seasonality_strength,
        q_mcnemar_test,
        q_cohens_kappa,
        q_eb_shrunk_rates,
        q_suggest_constraints,
        q_anova_oneway,
        q_keyness_llr,
        q_ivm_refresh,
        q_tpch_q1_piped,
        q_survival_rmst,
    ):
        plan = _plan(fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, fn.__name__
        for line in plan.splitlines():
            if "BroadcastNestedLoopJoin" in line:
                assert "Cross" in line, (fn.__name__, line)

    # the distributed-rank paths must be range-partitioned (the
    # global-sort-free formulation is the whole point)
    for fn in (
        q_mann_whitney_u,
        q_gini_coefficient,
        q_theil_sen_seasonal,
        q_spearman_correlation,
        q_gains_table,
        q_quantile_normalization,
    ):
        plan = _plan(fn(spark, sf_dir))
        assert "rangepartitioning" in plan.lower(), fn.__name__

    # entropy's only window is keyed on user_id — no unpartitioned
    # window over a fact-scaled frame
    ent = _plan(q_event_entropy(spark, sf_dir))
    for line in ent.splitlines():
        if "Window" in line and "user_id" not in line:
            assert "windowexec" not in line.lower(), line


def test_decision_shapes_plan_scale_safe(spark, sf_dir):
    """The decision/finance/ranking batch: no cartesian products, no
    nested-loop joins outside the documented 1-row bound frames, and
    the item-neighborhood self-join keeps its pinned SortMergeJoin (a
    self-join's sides are identical, so a broadcast estimate can
    never be right — the `copurchase_pairs` lesson)."""
    from music_streaming_etl_spark.plans.decision_queries import (
        q_holt_linear_trend,
        q_item_jaccard,
        q_max_drawdown,
        q_rank_biased_overlap,
        q_revenue_recognition,
        q_ucb1_allocation,
        q_welch_t_test,
    )

    for fn in (
        q_welch_t_test,
        q_max_drawdown,
        q_rank_biased_overlap,
        q_revenue_recognition,
        q_item_jaccard,
        q_ucb1_allocation,
        q_holt_linear_trend,
    ):
        plan = _plan(fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, fn.__name__
        for line in plan.splitlines():
            if "BroadcastNestedLoopJoin" in line:
                assert "Cross" in line, (fn.__name__, line)

    # the buyers self-join must be a shuffle join on the customer key
    ij = _plan(q_item_jaccard(spark, sf_dir))
    assert "SortMergeJoin" in ij, ij
    # max_drawdown's windows are keyed on the priority — never an
    # unpartitioned window over the fact-scaled frame
    dd = _plan(q_max_drawdown(spark, sf_dir))
    for line in dd.splitlines():
        if "windowexec" in line.lower():
            assert "o_orderpriority" in line, line


def _window_bracket_groups(line: str):
    """Top-level bracket groups of a physical-plan Window node line:
    ``Window [exprs], [partitionKeys], [ordering]`` (3 groups) when
    partitioned, ``[exprs], [ordering]`` / ``[exprs]`` when not."""
    s = line.strip()
    i = s.find("Window [")
    if i < 0:
        return None
    s = s[s.find("[", i):]
    groups, depth, cur = [], 0, ""
    for ch in s:
        if ch == "[":
            depth += 1
            if depth == 1:
                cur = ""
                continue
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append(cur)
                continue
        if depth >= 1:
            cur += ch
    return groups


def _unpartitioned_window_orderings(plan: str):
    out = []
    for line in plan.splitlines():
        if "Window [" not in line:
            continue
        g = _window_bracket_groups(line)
        if g is None or len(g) >= 3:
            continue
        if len(g) == 1 or (" ASC" in g[1] or " DESC" in g[1]):
            out.append(g[1] if len(g) > 1 else "")
    return out


# Structural acceptance: a global rank window sitting DIRECTLY above
# one of these nodes ranks an already-limited frame (global_topk's
# TakeOrderedAndProject shape) — bounded by k, fine at any scale.
_LIMIT_CHILD_NODES = (
    "TakeOrderedAndProject",
    "WindowGroupLimit",
    "GlobalLimit",
    "CollectLimit",
)

# Audited bounded ordering columns for the non-post-limit cases
# (full-registry audit, round 4): prefix-sum offsets, calendar/day
# grain, event-duration grain (horizon-bounded), and fixed-size
# decile/priority/replicate frames.
_BOUNDED_ORDER_COLS = (
    "_pid#",        # global_prefix_sum / global_rank offsets (≤ #partitions)
    "day#",         # calendar day grain
    "d#",           # ma_crossover day grain
    "stat_date#",   # daily_anomalies day grain
    "_w1#",         # rolling_7day_revenue day-epoch range frame
    "t#",           # Kaplan-Meier / RMST distinct durations (horizon-bounded)
    "tile#",        # gains_table: 10 deciles
    "rem#",         # largest_remainder_quota: one row per priority (5)
    "ucb_score#",   # ucb1_allocation: one row per arm (5 priorities)
    "__bucket#",    # skyline suffix-max over n_buckets (≤ 64)
    "mean_b#",      # bootstrap replicate means (B = 100)
)


def _unpartitioned_window_violations(plan: str):
    lines = plan.splitlines()
    bad = []
    for idx, line in enumerate(lines):
        if "Window [" not in line:
            continue
        g = _window_bracket_groups(line)
        if g is None or len(g) >= 3:
            continue
        if not (len(g) == 1 or (" ASC" in g[1] or " DESC" in g[1])):
            continue
        child = lines[idx + 1] if idx + 1 < len(lines) else ""
        if any(k in child for k in _LIMIT_CHILD_NODES):
            continue
        order = g[1] if len(g) > 1 else ""
        if order.startswith(_BOUNDED_ORDER_COLS):
            continue
        bad.append(order[:120])
    return bad


def test_registry_no_unpartitioned_fact_grain_windows(spark, sf_dir):
    """Sweep EVERY registry plan (276 keys): an unpartitioned
    WindowExec must either rank an already-limited frame (its direct
    child is TakeOrderedAndProject / WindowGroupLimit / a limit — the
    global_topk shape) or order on an audited bounded column
    (prefix-sum `_pid` offsets, calendar-day grain, fixed decile/
    priority/replicate frames). A user-/customer-/value-grain global
    window — the funnel_time_to_step regression class (VERDICT r3
    item 3) — fails here before the driver ever sees it. A key whose
    plan cannot be built is an offender too, named with its error, and
    the sweep goes on to the remaining keys."""
    from music_streaming_etl_spark.plans.registry import REGISTRY

    offenders = {}
    for name, (fn, _) in REGISTRY.items():
        try:
            plan = _plan(fn(spark, sf_dir))
        except Exception as e:  # noqa: BLE001 — a named offender, not an abort
            first = str(e).partition("\n")[0]
            offenders[name] = [f"raised {type(e).__name__}: {first}"]
            continue
        bad = _unpartitioned_window_violations(plan)
        if bad:
            offenders[name] = bad
    assert not offenders, offenders


def test_funnel_median_is_value_grain(spark, sf_dir):
    """funnel_time_to_step's medians run on value-grain counts with a
    range-partitioned distributed prefix sum — never a row_number
    rank over the converting-user frame (the r3 `weak` finding)."""
    from music_streaming_etl_spark.plans.analytics_queries import (
        q_funnel_time_to_step,
    )

    plan = _plan(q_funnel_time_to_step(spark, sf_dir))
    assert "rangepartitioning" in plan.lower(), plan[:800]
    assert "row_number" not in plan.lower(), plan[:800]
    for o in _unpartitioned_window_orderings(plan):
        assert o.startswith("_pid#"), o
