"""Sliding-window and dedup streaming twins: stream ≡ batch."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from tests.stream_twins import dedup_stream, run_stream_to_memory, sliding_counts
from zonal_datacube_spark.operators.streaming_batch import q_stream_sliding
from zonal_datacube_spark.sources.loader import load_table
from zonal_datacube_spark.streaming.demo import events_stream


def test_stream_sliding_equals_batch(spark):
    stream_res = run_stream_to_memory(
        sliding_counts(events_stream(spark, SF_SMOKE)), spark, "zds_sliding_demo"
    )
    got = sorted((r.win_start, r.n_events, r.sum_value) for r in stream_res.collect())
    batch = sorted(
        (r.win_start, r.n_events, r.sum_value)
        for r in q_stream_sliding(spark, SF_SMOKE).select(
            "win_start", "n_events", "sum_value"
        ).collect()
    )
    assert got == batch and len(got) > 0


def test_stream_dedup_counts(spark):
    out = run_stream_to_memory(
        dedup_stream(events_stream(spark, SF_SMOKE)),
        spark,
        "zds_dedup_demo",
        output_mode="append",
    )
    n_stream = out.count()
    n_batch = (
        load_table(spark, SF_SMOKE, "events")
        .select("user_id", F.date_trunc("minute", "ts").alias("m"))
        .distinct()
        .count()
    )
    # dropDuplicatesWithinWatermark keeps one row per key within the
    # watermark horizon; on this fixture (no duplicate beyond horizon)
    # that equals the exact distinct count
    assert n_stream == n_batch


def test_stream_outer_join_emits_unmatched_views(spark):
    from zonal_datacube_spark.operators.streaming_batch import (
        q_stream_outer_join,
    )

    rows = q_stream_outer_join(spark, SF_SMOKE).collect()
    assert rows
    total_unmatched = sum(r.n_unmatched for r in rows)
    # the fixture has views with no purchase inside the hour — the
    # outer join must surface them as null-purchase rows
    assert total_unmatched > 0
    for r in rows:
        assert r.n_rows >= r.n_views  # multi-purchase views add rows
        assert 0 <= r.n_unmatched <= r.n_rows


def test_state_reader_matches_batch_rollup(spark):
    from pyspark.sql import functions as F

    from zonal_datacube_spark.operators.streaming_batch import (
        q_stream_state_reader,
    )
    from zonal_datacube_spark.sources.loader import load_table

    got = {
        r.user_id: (r.n_events, r.sum_value)
        for r in q_stream_state_reader(spark, SF_SMOKE).collect()
    }
    want = {
        r.user_id: (r.n_events, r.sum_value)
        for r in load_table(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .collect()
    }
    assert got == want
