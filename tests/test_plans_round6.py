"""Physical-plan locks for the round-6 keys: the BM25/Theil-Sen rank
rewrites must stay off corpus-sized windows, the RRF candidate sets must
stay TakeOrdered heaps, chunking must stay map-only before its census
groupBy, and the changepoint/STL windows must stay keyed by event_type."""

from __future__ import annotations

import re

from tests.conftest import SF_SMOKE
from zonal_datacube_spark.plans.diagnostics import formatted_plan
from zonal_datacube_spark.registry import all_queries

Q = all_queries()


def _plan(spark, key: str) -> str:
    return formatted_plan(Q[key](spark, SF_SMOKE))


def test_bm25_rank_window_is_threshold_bounded(spark):
    plan = _plan(spark, "q_text_bm25")
    # per-term thresholds plan as TakeOrderedAndProject (distributed
    # heaps), and Spark 4's WindowGroupLimit bounds the final window a
    # second time — both must survive future re-plans
    assert "TakeOrderedAndProject" in plan
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan
    # the candidate filter (rk >= threshold) sits BELOW the rank window:
    # the window's input is the broadcast-joined threshold filter, so the
    # join appears before (deeper than) the Window in the formatted tree
    assert "BroadcastHashJoin" in plan


def test_theil_sen_median_rides_the_prefix_sweep(spark):
    plan = _plan(spark, "q_ts_theil_sen")
    assert "_zds_ps_bucket" in plan  # prefix-sweep bucket key present
    # no window partitioned by the bare event_type enum over the pairs
    # table: every data-path window is (event_type, bucket)-keyed
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    data_specs = [s for s in specs if "_zds_ps_bucket" in s]
    assert data_specs, plan


def test_rrf_candidate_sets_are_take_ordered(spark):
    plan = _plan(spark, "q_text_rrf_fusion")
    # both rankers' top-N and the final top-10 are limit-sorts, not
    # global Sort+Filter chains
    assert plan.count("TakeOrderedAndProject") >= 2
    assert "CartesianProduct" not in plan


def test_chunking_is_map_only_until_census(spark):
    plan = _plan(spark, "q_text_chunking")
    # sequence+explode+projection are narrow; the only shuffles are the
    # census groupBy's partial/final exchange (no output sort: results
    # are unordered sets)
    shuffles = len(re.findall(r"[+:]- Exchange ", plan))
    assert shuffles <= 2, plan
    assert "HashAggregate" in plan  # partial map-side combine present
    assert "CartesianProduct" not in plan


def test_chunk_dedup_shuffles_on_digest_then_source(spark):
    plan = _plan(spark, "q_rag_chunk_dedup")
    assert "md5" in plan
    # digest rollup + source rollup — no wider (no output sort)
    shuffles = len(re.findall(r"[+:]- Exchange ", plan))
    assert shuffles <= 3, plan


def test_changepoint_and_stl_windows_are_type_keyed(spark):
    for key in ("q_ts_changepoint", "q_ts_stl_decompose"):
        plan = _plan(spark, key)
        specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
        assert specs, plan
        for s in specs:
            assert "event_type" in s, (key, s)
        assert "CartesianProduct" not in plan


def test_ann_recall_eval_broadcasts_probes(spark):
    plan = _plan(spark, "q_sim_ann_recall_eval")
    # probes and LSH buckets reach the corpus via broadcast joins; the
    # exact ground truth's crossJoin is probe-bounded (broadcast NLJ),
    # never a shuffled cartesian
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_mode_has_no_rank_window(spark):
    """r06 self-audit: the mode argmax is a max-of-struct aggregation —
    no window over the distinct-value counts table remains."""
    plan = _plan(spark, "q_agg_mode")
    assert "Window" not in plan
    assert "HashAggregate" in plan


def test_stream_late_broadcasts_per_type_max(spark):
    """r06 self-audit: the per-type max reaches the fact scan via a
    broadcast join, not a full-partition window."""
    plan = _plan(spark, "q_stream_late")
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan


def test_stratified_sample_rides_the_prefix_sweep(spark):
    """r06 self-audit: no enum-partition row_number over the fact table —
    every data-path window is (event_type, bucket)-keyed."""
    plan = _plan(spark, "q_sample_stratified")
    assert "_zds_ps_bucket" in plan
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    data_specs = [s for s in specs if "_zds_ps_bucket" in s]
    assert data_specs, plan


def test_vocab_coverage_topk_is_take_ordered(spark):
    """r06 self-audit: the top-K vocabulary pick is a TakeOrdered heap,
    not a global row_number over the vocabulary."""
    plan = _plan(spark, "q_text_vocab_coverage")
    assert "TakeOrderedAndProject" in plan
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert not specs, specs


def test_zipf_rank_rides_the_prefix_sweep(spark):
    """r06 self-audit: every token's rank comes from the bucketed prefix
    sweep — no partition-less window over the vocabulary remains."""
    plan = _plan(spark, "q_text_zipf")
    assert "_zds_ps_bucket" in plan
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert all("_zds_ps_bucket" in s or "_zds_ps_part" in s for s in specs), specs


SWEEP_REWRITES_R06 = (
    "q_window_ntile",
    "q_window_percent_rank",
    "q_sample_neyman",
    "q_ts_concurrency",
    "q_report_rank_migration",
)


def test_r06_sweep_rewrites_have_no_enum_partition_windows(spark):
    """r06 self-audit wave 2: each of these keys used to rank/scan a
    data-scaled table through a window partitioned by a bounded enum
    (status/nation/segment/priority/year). All now ride the bucketed
    prefix sweep — every data-path window is bucket-keyed."""
    for key in SWEEP_REWRITES_R06:
        plan = _plan(spark, key)
        assert "_zds_ps_bucket" in plan, key
        specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
        data_specs = [s for s in specs if "_zds_ps_bucket" in s]
        assert data_specs, (key, specs)


def test_supplier_hhi_totals_are_broadcast_not_windowed(spark):
    plan = _plan(spark, "q_report_supplier_hhi")
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan
