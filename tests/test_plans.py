"""Plan-shape tests: lock in the scale-critical physical properties
(SURVEY.md §4 — these are the '100 TB would still work' assertions)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from tests.plan_checks import (
    assert_broadcast_join,
    assert_pushed_filter,
    assert_read_schema_pruned,
    plan_has,
)
from zonal_datacube_spark.operators.joins import q_join_broadcast
from zonal_datacube_spark.operators.scans import q_scan_filter_pushdown, q_scan_project
from zonal_datacube_spark.operators.zonal import q_zonal_stats
from zonal_datacube_spark.plans.diagnostics import formatted_plan


def test_filter_reaches_parquet(spark):
    assert_pushed_filter(q_scan_filter_pushdown(spark, SF_SMOKE), "l_shipdate")


def test_projection_prunes_read_schema(spark):
    # 16-column lineitem, 3-column projection → scan must not read the rest
    assert_read_schema_pruned(q_scan_project(spark, SF_SMOKE), 3)


def test_zonal_join_is_broadcast(spark):
    assert_broadcast_join(q_zonal_stats(spark, SF_SMOKE))


def test_dim_chain_joins_are_broadcast(spark):
    plan = formatted_plan(q_join_broadcast(spark, SF_SMOKE))
    assert plan.count("BroadcastHashJoin") >= 3  # supplier, nation, region
    assert "SortMergeJoin" not in plan


def test_agg_is_partial_then_final(spark):
    from zonal_datacube_spark.operators.aggregations import q_agg_groupby

    plan = formatted_plan(q_agg_groupby(spark, SF_SMOKE))
    # map-side partial aggregation must run before the one exchange —
    # at 100 TB only tiny partial states shuffle, never raw rows
    assert "partial_sum" in plan
    assert plan.count("HashAggregate") >= 2
    # exactly one shuffle in the plan tree (formatted output repeats each
    # node in the detail section — count tree edges only)
    import re

    assert len(re.findall(r"\+- Exchange", plan)) == 1


def test_sort_limit_is_take_ordered(spark):
    from zonal_datacube_spark.operators.sorts_sets import q_sort_limit

    checks = plan_has(q_sort_limit(spark, SF_SMOKE), "TakeOrderedAndProject")
    assert checks["TakeOrderedAndProject"]


def test_sample_hash_is_map_only(spark):
    # deterministic hash sampling must be a pure scan→filter→project:
    # zero exchanges (no shuffle anywhere) and a pruned ReadSchema
    import re

    from zonal_datacube_spark.operators.scale_ops import q_sample_hash

    df = q_sample_hash(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert not re.findall(r"\+- Exchange", plan), "sampling must not shuffle"
    assert_read_schema_pruned(df, 3)  # orderkey, linenumber, quantity


def test_salted_agg_is_two_phase(spark):
    # phase 1 groupBy(key, salt) + phase 2 groupBy(key), each partial+final:
    # >= 4 HashAggregates and exactly 2 shuffles — the skew-spreading shape
    import re

    from zonal_datacube_spark.operators.scale_ops import q_agg_salted_skew

    plan = formatted_plan(q_agg_salted_skew(spark, SF_SMOKE))
    assert plan.count("HashAggregate") >= 4
    assert len(re.findall(r"\+- Exchange", plan)) == 2


def test_merge_upsert_shape(spark):
    # upsert = one anti-join + one union; no nested-loop/cartesian anywhere
    from zonal_datacube_spark.operators.scale_ops import q_merge_upsert

    plan = formatted_plan(q_merge_upsert(spark, SF_SMOKE))
    assert "Union" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_orc_roundtrip_reads_orc(spark):
    from zonal_datacube_spark.operators.scale_ops import q_source_orc_roundtrip

    plan = formatted_plan(q_source_orc_roundtrip(spark, SF_SMOKE))
    assert "orc" in plan.lower()
    assert plan.count("HashAggregate") >= 2  # partial+final over the ORC scan


def test_bucketed_join_has_zero_exchanges(spark):
    # both sides bucketed+sorted on the join key → SortMergeJoin with NO
    # shuffle: the co-located storage layout doing its job. The sf0.001
    # fixtures are small enough to auto-broadcast (which also avoids the
    # shuffle, but proves nothing about bucketing) — disable the threshold
    # to see the plan the layout earns at fact×fact scale.
    import re

    from zonal_datacube_spark.operators.scale_ops import q_join_bucketed

    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = formatted_plan(q_join_bucketed(spark, SF_SMOKE))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    assert "SortMergeJoin" in plan
    assert not re.findall(r"\+- Exchange", plan), "bucketed join must not shuffle"


def test_range_bucketed_join_is_hash_join(spark):
    # the rewrite's point: no nested-loop node anywhere in the plan
    from zonal_datacube_spark.operators.joins import q_join_range_bucketed

    plan = formatted_plan(q_join_range_bucketed(spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_dedup_pair_scans_never_all_pairs(spark):
    # the banded simhash / prefix-filtered near / LSH minhash pair scans
    # must be hash equi-joins — any nested-loop or cartesian node here is
    # an O(n²) scale-killer at 10⁹ docs
    from zonal_datacube_spark.operators.dedup import (
        q_dedup_minhash,
        q_dedup_near,
        q_dedup_simhash,
    )

    for q in (q_dedup_simhash, q_dedup_near, q_dedup_minhash):
        plan = formatted_plan(q(spark, SF_SMOKE))
        assert "CartesianProduct" not in plan, q.__name__
        assert "BroadcastNestedLoopJoin" not in plan, q.__name__
