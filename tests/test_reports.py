"""Plan-shape locks for the TPC-H-composite report keys — the assertions
that make them survive a 100× scale-up: dims broadcast, EXISTS stays a
semi-join, ordered limits stay TakeOrderedAndProject, aggregate-then-join
keeps exactly one fact shuffle before the join."""

from __future__ import annotations

import re

from tests.conftest import SF_SMOKE
from zonal_datacube_spark.operators.reports import (
    Q18_QTY_THRESHOLD,
    q_report_big_orders,
    q_report_local_supplier_volume,
    q_report_order_priority,
    q_report_returned_items,
    q_report_shipping_priority,
)
from zonal_datacube_spark.plans.diagnostics import formatted_plan, plan_has


def test_shipping_priority_topk_and_broadcast(spark):
    plan = formatted_plan(q_report_shipping_priority(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan  # top-10 never globally sorts
    assert "BroadcastHashJoin" in plan  # customer dim side
    # both fact scans carry their date band down to parquet
    assert "PushedFilters" in plan


def test_order_priority_is_semi_join(spark):
    plan = formatted_plan(q_report_order_priority(spark, SF_SMOKE))
    assert "LeftSemi" in plan  # EXISTS must not multiply orders rows
    assert "partial_count" in plan  # map-side partial aggregation


def test_local_supplier_volume_broadcasts_all_dims(spark):
    plan = formatted_plan(q_report_local_supplier_volume(spark, SF_SMOKE))
    # supplier, customer, nation, region all broadcast; only the
    # lineitem⋈orders fact-fact join may shuffle
    assert plan.count("BroadcastHashJoin") >= 4


def test_returned_items_single_fact_shuffle_head(spark):
    df = q_report_returned_items(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert plan.count("BroadcastHashJoin") >= 2  # customer + nation
    # returnflag filter reaches the lineitem scan
    checks = plan_has(df, "PushedFilters")
    assert checks["PushedFilters"]


def test_big_orders_aggregates_before_join(spark):
    plan = formatted_plan(q_report_big_orders(spark, SF_SMOKE))
    # the per-order rollup (partial_sum) must appear — the having-filter
    # runs on aggregate output, never on raw fact rows post-join
    assert "partial_sum" in plan
    assert "BroadcastHashJoin" in plan  # customer dim


def test_big_orders_threshold_respected(spark):
    rows = q_report_big_orders(spark, SF_SMOKE).collect()
    assert rows, "fixture should contain qualifying big orders"
    assert all(r.total_qty > Q18_QTY_THRESHOLD for r in rows)
    # an unordered set with one row per qualifying order
    keys = [r.o_orderkey for r in rows]
    assert len(set(keys)) == len(keys)


def test_text_repetition_single_corpus_pass(spark):
    # unigrams + bigrams union into one tagged gram stream: exactly two
    # shuffles (gram counts, then per-doc max) — never two scan chains
    from zonal_datacube_spark.operators.text import q_text_repetition

    plan = formatted_plan(q_text_repetition(spark, SF_SMOKE))
    assert len(re.findall(r"\+- Exchange", plan)) <= 2


def test_revenue_change_is_map_only_scan(spark):
    from zonal_datacube_spark.operators.reports import q_report_revenue_change

    df = q_report_revenue_change(spark, SF_SMOKE)
    plan = formatted_plan(df)
    # single-row global agg: one exchange for the final combine, all three
    # predicates pushed to the parquet scan
    assert len(re.findall(r"\+- Exchange", plan)) == 1
    assert "PushedFilters" in plan and "l_discount" in plan


def test_special_revenue_keeps_hash_join(spark):
    from zonal_datacube_spark.operators.reports import q_report_special_revenue

    plan = formatted_plan(q_report_special_revenue(spark, SF_SMOKE))
    # the disjunctive residual must ride the partkey equi-join, not force
    # a nested-loop fallback
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_nation_volume_double_role_dims_broadcast(spark):
    from zonal_datacube_spark.operators.reports import q_report_nation_volume

    plan = formatted_plan(q_report_nation_volume(spark, SF_SMOKE))
    # supplier, customer, and BOTH nation roles broadcast — only the
    # lineitem⋈orders fact join may shuffle
    assert plan.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in plan
