"""Behavior + plan locks for the round-3 analytics/scale keys: blocked
fuzzy entity resolution, running-distinct emulation, salted join."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from zonal_datacube_spark.operators.dedup import ER_MAX_DIST, q_er_fuzzy_block
from zonal_datacube_spark.operators.windows import q_window_running_distinct
from zonal_datacube_spark.operators.scale_ops import q_join_salted
from zonal_datacube_spark.plans.diagnostics import formatted_plan
from zonal_datacube_spark.sources.loader import load_table


def test_er_fuzzy_is_blocked_not_all_pairs(spark):
    plan = formatted_plan(q_er_fuzzy_block(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_er_fuzzy_dist_bounds(spark):
    rows = q_er_fuzzy_block(spark, SF_SMOKE).collect()
    assert rows, "fixture part names repeat within brands — pairs must exist"
    for r in rows:
        assert 0 <= r.dist <= ER_MAX_DIST
        assert r.n_pairs >= r.n_left_entities >= 1


def test_running_distinct_monotone_and_totals(spark):
    rows = sorted(
        q_window_running_distinct(spark, SF_SMOKE).collect(), key=lambda r: r.day
    )
    total_users = (
        load_table(spark, SF_SMOKE, "events")
        .agg(F.countDistinct("user_id"))
        .collect()[0][0]
    )
    assert rows[-1].cum_distinct_users == total_users
    prev = 0
    total_new = 0
    for r in rows:
        assert r.cum_distinct_users >= prev  # cumulative is monotone
        assert r.n_active >= r.n_new  # new users were active that day
        prev = r.cum_distinct_users
        total_new += r.n_new
    assert total_new == total_users  # each user first-appears exactly once


def test_ivm_join_delta_terms_all_nonempty(spark):
    """The IVM decomposition only demonstrates the algebra if every delta
    term contributes pairs — verify all four partitions of the join are
    non-empty on the fixture's independent date splits."""
    from zonal_datacube_spark.operators.scale_ops import INCR_CUTOFF

    orders = load_table(spark, SF_SMOKE, "orders")
    li = load_table(spark, SF_SMOKE, "lineitem")
    cutoff = F.lit(INCR_CUTOFF).cast("timestamp_ntz")
    for o_new in (False, True):
        for l_new in (False, True):
            o = orders.filter(
                (F.col("o_orderdate") >= cutoff)
                if o_new
                else (F.col("o_orderdate") < cutoff)
            )
            l = li.filter(
                (F.col("l_shipdate") >= cutoff)
                if l_new
                else (F.col("l_shipdate") < cutoff)
            )
            n = o.join(l, o.o_orderkey == l.l_orderkey).count()
            assert n > 0, f"empty IVM term o_new={o_new} l_new={l_new}"


def test_keyset_pagination_matches_offset_semantics(spark):
    from zonal_datacube_spark.operators.sorts_sets import (
        PAGE_SIZE,
        q_sort_keyset_pagination,
    )

    got = [
        (r.o_orderkey, r.price)
        for r in q_sort_keyset_pagination(spark, SF_SMOKE)
        .orderBy(F.col("price").desc(), F.col("o_orderkey").asc())
        .collect()
    ]
    full = (
        load_table(spark, SF_SMOKE, "orders")
        .select("o_orderkey", F.round("o_totalprice", 2).alias("price"))
        .orderBy(F.col("price").desc(), F.col("o_orderkey").asc())
        .collect()
    )
    want = [(r.o_orderkey, r.price) for r in full[2 * PAGE_SIZE : 3 * PAGE_SIZE]]
    assert got == want  # seek pagination == rows 41-60 of the total order


def test_decimal_exact_sums_are_exact_strings(spark):
    from decimal import Decimal

    from zonal_datacube_spark.operators.aggregations import q_agg_decimal_exact

    rows = q_agg_decimal_exact(spark, SF_SMOKE).collect()
    li = load_table(spark, SF_SMOKE, "lineitem").collect()
    want: dict[str, Decimal] = {}
    for r in li:
        p = Decimal(str(r.l_extendedprice)).quantize(Decimal("0.01"))
        want[r.l_returnflag] = want.get(r.l_returnflag, Decimal(0)) + p
    for r in rows:
        assert Decimal(r.sum_price) == want[r.l_returnflag]  # exact, no FP


def test_salted_join_equals_plain_join(spark):
    got = {
        r.p_brand: (r.n_items, r.revenue)
        for r in q_join_salted(spark, SF_SMOKE).collect()
    }
    li = load_table(spark, SF_SMOKE, "lineitem")
    parts = load_table(spark, SF_SMOKE, "part")
    plain = {
        r.p_brand: (r.n_items, r.revenue)
        for r in li.join(parts, li.l_partkey == parts.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_items"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue"),
        )
        .collect()
    }
    assert got == plain  # the salt routes rows, never changes the result


def test_revenue_bridge_identity(spark):
    """The bridge must decompose exactly: component deltas sum to the
    total 1997-minus-1996 revenue delta per segment (the waterfall
    identity a finance review relies on)."""
    from zonal_datacube_spark.operators.warehouse import (
        BRIDGE_YEAR_A,
        BRIDGE_YEAR_B,
        q_report_revenue_bridge,
    )

    rows = q_report_revenue_bridge(spark, SF_SMOKE).collect()
    by_seg: dict[str, float] = {}
    for r in rows:
        by_seg[r.c_mktsegment] = by_seg.get(r.c_mktsegment, 0.0) + r.delta_rev
    orders = load_table(spark, SF_SMOKE, "orders")
    cust = load_table(spark, SF_SMOKE, "customer")
    totals = {
        r.c_mktsegment: r.delta
        for r in orders.join(cust, orders.o_custkey == cust.c_custkey)
        .filter(F.year("o_orderdate").isin(BRIDGE_YEAR_A, BRIDGE_YEAR_B))
        .groupBy("c_mktsegment")
        .agg(
            F.round(
                F.sum(
                    F.when(
                        F.year("o_orderdate") == BRIDGE_YEAR_B,
                        F.col("o_totalprice"),
                    ).otherwise(-F.col("o_totalprice"))
                ),
                2,
            ).alias("delta")
        )
        .collect()
    }
    for seg, total in totals.items():
        assert abs(by_seg.get(seg, 0.0) - total) < 0.05, seg
