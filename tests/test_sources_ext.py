"""Source-format tests: the partitioned layout must prune at planning
time (PartitionFilters, not PushedFilters), and the CSV/JSONL caches must
land where the keys expect them."""

from __future__ import annotations

import os

from tests.conftest import SF_SMOKE
from zonal_datacube_spark.operators.sources_ext import (
    PRUNE_EVENT_TYPE,
    partitioned_events_by_type_path,
    q_source_partitioned_pruning,
)
from zonal_datacube_spark.plans.diagnostics import formatted_plan


def test_partition_filter_is_metadata_time(spark):
    plan = formatted_plan(q_source_partitioned_pruning(spark, SF_SMOKE))
    scan = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert scan, "scan has no PartitionFilters section:\n" + plan[:1500]
    assert f"= {PRUNE_EVENT_TYPE}" in scan[0], scan[0]
    # the predicate must NOT fall through to read-time row filtering —
    # partition-column filters are resolved against directory names
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert all("event_type" not in l for l in pushed), pushed


def test_compaction_produces_n_files(spark):
    import glob

    from zonal_datacube_spark.operators.sources_ext import (
        COMPACT_FILES,
        compacted_events_path,
        q_source_compaction,
    )

    q_source_compaction(spark, SF_SMOKE).collect()  # builds the layout
    files = glob.glob(os.path.join(compacted_events_path(spark, SF_SMOKE), "part-*"))
    assert len(files) == COMPACT_FILES


def test_corrupt_rows_are_quarantined_not_dropped(spark):
    from zonal_datacube_spark.operators.sources_ext import (
        N_CORRUPT,
        q_source_csv_corrupt,
    )

    row = q_source_csv_corrupt(spark, SF_SMOKE).collect()[0]
    assert row["n_corrupt"] == N_CORRUPT
    assert row["n_good"] > 0


def test_dpp_join_prunes_at_runtime(spark):
    from zonal_datacube_spark.operators.sources_ext import q_join_dpp

    plan = formatted_plan(q_join_dpp(spark, SF_SMOKE))
    # the partition filter must come from the joined dim at runtime — a
    # dynamicpruning subquery, not a static literal filter
    assert "dynamicpruningexpression" in plan, plan[:1500]


def test_cache_scan_is_in_memory(spark):
    from zonal_datacube_spark.operators.joins import q_cache_inmemory
    from zonal_datacube_spark.plans.diagnostics import formatted_plan as fp

    df = q_cache_inmemory(spark, SF_SMOKE)
    df.collect()  # populate the cache, then the re-plan must hit it
    assert "InMemoryTableScan" in fp(q_cache_inmemory(spark, SF_SMOKE))


def test_partitioned_layout_one_dir_per_type(spark):
    path = partitioned_events_by_type_path(spark, SF_SMOKE)
    dirs = sorted(d for d in os.listdir(path) if d.startswith("event_type="))
    assert f"event_type={PRUNE_EVENT_TYPE}" in dirs
    assert len(dirs) == 5  # click, error, purchase, signup, view


def test_dynamic_overwrite_replaces_only_tail_partitions(spark):
    from pyspark.sql import functions as F

    from zonal_datacube_spark.operators.sources_ext import (
        q_sink_dynamic_overwrite,
    )
    from zonal_datacube_spark.sources.loader import load_table

    rows = {r.event_type: r for r in q_sink_dynamic_overwrite(spark, SF_SMOKE).collect()}
    n_days_all = (
        load_table(spark, SF_SMOKE, "events")
        .select(F.date_trunc("day", "ts").alias("d"))
        .distinct()
        .count()
    )
    # purchases keep every day; other types lose the rewritten tail days
    assert rows["purchase"].n_days == n_days_all
    for t, r in rows.items():
        if t != "purchase":
            assert r.n_days <= n_days_all - 1


def test_binary_files_digests_match_hashlib(spark):
    import hashlib
    import os

    from zonal_datacube_spark.operators.sources_ext import (
        q_source_binary_files,
    )

    rows = q_source_binary_files(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        path = os.path.join(SF_SMOKE, r.file_name)
        blob = open(path, "rb").read()
        assert r.length == len(blob)
        assert r.content_md5 == hashlib.md5(blob).hexdigest()


def test_binary_files_reads_directory_layouts(spark, tmp_path):
    import hashlib

    from zonal_datacube_spark.operators.sources_ext import (
        q_source_binary_files,
    )

    # two tables in the cluster layout: <table>.parquet/part-*.parquet
    for name, n in (("a", 40), ("b", 70)):
        spark.range(n).repartition(2).write.parquet(str(tmp_path / f"{name}.parquet"))
    parts = {p.name: p for p in tmp_path.glob("*.parquet/part-*.parquet")}
    assert len(parts) >= 3

    rows = q_source_binary_files(spark, str(tmp_path)).collect()
    assert len(rows) > 0
    assert {r.file_name for r in rows} == set(parts)
    for r in rows:
        blob = parts[r.file_name].read_bytes()
        assert r.length == len(blob)
        assert r.content_md5 == hashlib.md5(blob).hexdigest()
