"""Physical-plan shape assertions — the scale contract.

Correct results with the wrong plan don't survive a 100x scale-up;
these tests pin the plan properties the engine's docstrings promise:
filters push into parquet scans, dimension joins broadcast, top-k plans
as TakeOrderedAndProject (no global sort), aggregates keep partial
(map-side) phases, and hot paths stay inside WholeStageCodegen.
"""

from __future__ import annotations

import pytest

from bigdata_covid19_real_time_spark.plans import QUERIES

SF_DIR = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    df = QUERIES[name](spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def test_pricing_summary_pushes_filter_and_prunes_columns(spark):
    plan = plan_of(spark, "pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # 7-column projection reaches the scan (no full 11-col read)
    assert "l_comment" not in plan
    assert "HashAggregate" in plan and "partial_" in plan.lower() or "HashAggregate" in plan


def test_revenue_by_nation_broadcasts_dimensions(spark):
    plan = plan_of(spark, "revenue_by_nation")
    assert plan.count("BroadcastHashJoin") >= 2  # nation, region (+customer at tiny SF)
    assert "SortMergeJoin" not in plan


def test_top_orders_plans_take_ordered(spark):
    plan = plan_of(spark, "top_orders")
    assert "TakeOrderedAndProject" in plan
    # no global Sort node outside the top-k operator
    assert "Sort [" not in plan


def test_orders_without_lineitems_is_anti_join_without_payload(spark):
    plan = plan_of(spark, "orders_without_lineitems")
    assert "LeftAnti" in plan
    # lineitem side reads only the join key
    assert "ReadSchema: struct<l_orderkey:bigint>" in plan


def test_orders_with_big_items_semi_join_pushes_filter(spark):
    plan = plan_of(spark, "orders_with_big_items")
    assert "LeftSemi" in plan
    assert "GreaterThan(l_extendedprice,5000" in plan


def test_hot_paths_stay_in_codegen(spark):
    # the cleaning stage (pure narrow map) must be one codegen span —
    # executedPlan().toString() marks codegen'd operators with a "*(n)"
    # stage prefix
    plan = plan_of(spark, "covid_clean")
    assert "*(1) Project" in plan or "*(1) " in plan
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python anywhere


def test_rollup_single_expand_no_union(spark):
    plan = plan_of(spark, "events_rollup")
    assert "Expand" in plan
    assert "Union" not in plan


def test_asof_join_is_single_shuffle_window_not_cross_join(spark):
    plan = plan_of(spark, "purchase_asof_click")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "RunningWindowFunction" in plan or "Window" in plan


def test_media_meta_uses_arrow_batches(spark):
    plan = plan_of(spark, "docs_media_meta")
    # mapInPandas shows as ArrowEvalPython/MapInPandas, never row-wise Python
    assert "MapInPandas" in plan or "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


def test_decontam_broadcasts_eval_side(spark):
    """The eval/benchmark shingle set is the broadcast side of the
    contamination join — the training corpus must never shuffle."""
    plan = plan_of(spark, "docs_decontam")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_range_join_is_hash_equi_join_not_nested_loop(spark):
    """Bucketing must turn the interval theta-join into a hash equi-join:
    no BroadcastNestedLoopJoin / CartesianProduct in the plan."""
    plan = plan_of(spark, "purchase_window_clicks")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Join" in plan  # still an actual join, on the bucket key


def test_chunking_is_shuffle_free(spark):
    """chunk_documents is a pure narrow map: scan -> generate -> project,
    no Exchange anywhere."""
    plan = plan_of(spark, "docs_chunked")
    assert "Exchange" not in plan
    assert "Generate explode" in plan or "Generate" in plan


def test_shipping_priority_pushes_all_three_filters(spark):
    plan = plan_of(spark, "shipping_priority")
    assert "EqualTo(c_mktsegment,BUILDING)" in plan
    assert "LessThan(o_orderdate" in plan
    assert "GreaterThan(l_shipdate" in plan
    assert "TakeOrderedAndProject" in plan  # top-10, no global sort


def test_order_priority_pipeline_semi_join_pushes_date_range(spark):
    plan = plan_of(spark, "order_priority_pipeline")
    assert "LeftSemi" in plan
    # the one-year filter reaches the orders parquet scan
    assert "PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate" in plan
    # lineitem reads only (orderkey, shipdate)
    assert "struct<l_orderkey:bigint,l_shipdate" in plan


def test_nation_pair_trade_filters_lineitem_before_fact_join(spark):
    plan = plan_of(spark, "nation_pair_trade")
    # supplier-nation pre-filter joins lineitem via broadcast, ahead of
    # the l_orderkey exchange (no sort-merge of unfiltered lineitem)
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_top_revenue_suppliers_avoids_single_partition_window(spark):
    plan = plan_of(spark, "top_revenue_suppliers")
    # global max joins back as a broadcast, not Window over one partition
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_part_supplier_diversity_anti_join_and_two_phase_distinct(spark):
    plan = plan_of(spark, "part_supplier_diversity")
    assert "LeftAnti" in plan
    # count_distinct plans as two-phase hash aggregate, no Expand-free shortcut needed
    assert "HashAggregate" in plan


def test_waiting_sole_late_supplier_single_self_pass(spark):
    plan = plan_of(spark, "waiting_sole_late_supplier")
    # triple correlation collapsed to one aggregate: lineitem scanned once
    assert plan.count("lineitem.parquet") == 1
    assert "TakeOrderedAndProject" in plan


def test_regional_market_share_semi_join_prunes_both_facts(spark):
    plan = plan_of(spark, "regional_market_share")
    # region-filtered customers and PROMO parts prune via LeftSemi before
    # the fact-fact join; dims broadcast
    assert plan.count("LeftSemi") >= 2
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_nation_profit_filters_part_dim_side(spark):
    plan = plan_of(spark, "nation_profit_by_year")
    # the %red% contains-filter runs on the part dim scan, not lineitem
    assert "Contains(p_name, red)" in plan or "contains(p_name" in plan.lower()
    assert plan.count("BroadcastHashJoin") >= 2


def test_customer_order_distribution_keeps_partial_aggs(spark):
    plan = plan_of(spark, "customer_order_distribution")
    # both grouping passes keep map-side partial phases
    assert plan.lower().count("partial_count") >= 1
    assert "CartesianProduct" not in plan


def test_small_quantity_brand_prunes_before_threshold_join(spark):
    plan = plan_of(spark, "small_quantity_brand_revenue")
    # brand filter applies via LeftSemi against the broadcast part dim
    # BEFORE the per-part threshold aggregate and join-back
    assert "LeftSemi" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_forecast_revenue_change_pushes_all_predicates(spark):
    plan = plan_of(spark, "forecast_revenue_change")
    # every predicate reaches the parquet scan...
    assert "PushedFilters" in plan
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert f"IsNotNull({col})" in plan or col in plan.split("PushedFilters")[1][:400]
    # ...and the aggregate is two-phase (map-side partial before the 1-row exchange)
    assert plan.count("HashAggregate") >= 2


def test_min_cost_supplier_broadcasts_dims_and_no_subquery_per_row(spark):
    plan = plan_of(spark, "min_cost_supplier")
    # supplier/nation/region chain and part dim broadcast
    assert plan.count("BroadcastHashJoin") >= 2
    # the correlated MIN is an aggregate joined back, not a per-row subquery
    assert "Subquery" not in plan


def test_promo_part_suppliers_stays_semi(spark):
    plan = plan_of(spark, "promo_part_suppliers")
    assert "LeftSemi" in plan
    # fact never joined wide: no non-semi join carries lineitem payload columns
    assert "l_extendedprice" not in plan


def test_bloom_pruned_revenue_probe_is_broadcast_chain(spark):
    plan = plan_of(spark, "bloom_pruned_revenue")
    # two bloom probes + exact pass, all LEFT SEMI; probes broadcast
    assert plan.count("LeftSemi") >= 3
    assert plan.count("BroadcastHashJoin") >= 2


def _load_plan_audit():
    import importlib.util
    import os

    repo_root = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))
    spec = importlib.util.spec_from_file_location(
        "plan_audit", os.path.join(repo_root, "tools", "plan_audit.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


# events_audience_overlap_hll's two distinct aggregates, as two sessions
# planned them (columns trimmed): Spark numbered the Expand groups 2/0/1
# in one and 1/0/2 in the other.
_HLL_ONE = (
    "+- *(5) HashAggregate(keys=[type_a#94431], functions=["
    "partial_count(ud#97009) FILTER (WHERE (gid#97008 = 2)), "
    "partial_first(approx_count_distinct(ud)#97218L, true) FILTER (WHERE (gid#97008 = 0)), "
    "partial_count(ud#97009, event_type#97010) FILTER (WHERE (gid#97008 = 1))], "
    "output=[type_a#94431, count#97460L, first#97461L, count#97463L])\n"
    "   +- *(4) Expand [[type_a#94431, null, null, 0, ud#94002], "
    "[type_a#94431, ud#94002, event_type#93998, 1, null], "
    "[type_a#94431, ud#94002, null, 2, null]], "
    "[type_a#94431, ud#97009, event_type#97010, gid#97008, ud#97011]"
)
_HLL_OTHER = (
    "+- *(5) HashAggregate(keys=[type_a#60055], functions=["
    "partial_count(ud#62633) FILTER (WHERE (gid#62632 = 1)), "
    "partial_first(approx_count_distinct(ud)#62842L, true) FILTER (WHERE (gid#62632 = 0)), "
    "partial_count(ud#62633, event_type#62634) FILTER (WHERE (gid#62632 = 2))], "
    "output=[type_a#60055, count#63084L, first#63085L, count#63087L])\n"
    "   +- *(4) Expand [[type_a#60055, null, null, 0, ud#59626], "
    "[type_a#60055, ud#59626, null, 1, null], "
    "[type_a#60055, ud#59626, event_type#59622, 2, null]], "
    "[type_a#60055, ud#62633, event_type#62634, gid#62632, ud#62635]"
)


def test_normalize_plan_renumbers_distinct_aggregate_groups():
    """The two sessions' plans normalise to one text, and a plan
    without Expand groups passes through."""
    pa = _load_plan_audit()
    one, other = _HLL_ONE, _HLL_OTHER
    assert pa.normalize_plan(one) == pa.normalize_plan(other)
    assert "partial_count(ud#N) FILTER (WHERE (gid#N = 1))" in pa.normalize_plan(one)
    plain = "*(1) Project [a#1, b#2]\n+- *(1) Range (0, 10, step=1, splits=2)"
    assert pa.normalize_plan(plain) == "*(N) Project [a#N, b#N]\n+- *(N) Range (0, 10, step=1, splits=2)"


def _union(first: str, second: str) -> str:
    """``first`` and ``second`` as the two children of a Union."""
    head, *rest = first.split("\n")
    return "\n".join(["Union", ":- " + head[3:], *(":" + ln[1:] for ln in rest), second])


def test_normalize_plan_renumbers_each_expand_on_its_own():
    """Two distinct-aggregate rewrites under one Union, each numbered in
    its own session order: each Expand is renumbered from the FILTER
    list above it, so the order of one branch does not decide the
    other's."""
    pa = _load_plan_audit()
    canonical = pa.normalize_plan(_union(_HLL_ONE, _HLL_ONE))
    assert pa.normalize_plan(_union(_HLL_ONE, _HLL_OTHER)) == canonical
    assert pa.normalize_plan(_union(_HLL_OTHER, _HLL_ONE)) == canonical
    assert pa.normalize_plan(_union(_HLL_OTHER, _HLL_OTHER)) == canonical


def test_normalize_plan_orders_distinct_argument_columns():
    """waiting_sole_late_supplier as two sessions planned it: the same
    gid numbering, but the two distinct-argument columns in the other
    order in every key list above the Expand.  Normalised, the plans
    are identical."""
    pa = _load_plan_audit()
    late = "CASE WHEN is_late THEN l_suppkey END#9L"
    filt = (
        "+- HashAggregate(keys=[l_orderkey#1L], functions=["
        "partial_count(l_suppkey#2L) FILTER (WHERE (gid#8 = 1)), "
        f"partial_count({late}) FILTER (WHERE (gid#8 = 2)), "
        "partial_first(max(CASE WHEN is_late THEN l_suppkey END)#7L, true) "
        "FILTER (WHERE (gid#8 = 0))], output=[l_orderkey#1L, count#3L, count#4L, first#5L])\n"
    )
    case = "CASE WHEN is_late#6 THEN l_suppkey#2L END"
    one = filt + (
        f"   +- Exchange hashpartitioning(l_orderkey#1L, l_suppkey#2L, {late}, gid#8, 4)\n"
        f"      +- Expand [[l_orderkey#1L, null, null, 0, {case}], "
        "[l_orderkey#1L, l_suppkey#2L, null, 1, null], "
        f"[l_orderkey#1L, null, {case}, 2, null]], "
        f"[l_orderkey#1L, l_suppkey#2L, {late}, gid#8, {late}]"
    )
    other = filt + (
        f"   +- Exchange hashpartitioning(l_orderkey#1L, {late}, l_suppkey#2L, gid#8, 4)\n"
        f"      +- Expand [[l_orderkey#1L, null, null, 0, {case}], "
        "[l_orderkey#1L, null, l_suppkey#2L, 1, null], "
        f"[l_orderkey#1L, {case}, null, 2, null]], "
        f"[l_orderkey#1L, {late}, l_suppkey#2L, gid#8, {late}]"
    )
    assert pa.normalize_plan(one) == pa.normalize_plan(other)
