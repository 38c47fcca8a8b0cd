"""Structured Streaming demo: stream result ≡ batch result (SURVEY.md §5.3)."""

from __future__ import annotations

from tests.conftest import SF_SMOKE
from tests.stream_twins import run_stream_to_memory
from zonal_datacube_spark.operators.streaming_batch import q_stream_tumbling
from zonal_datacube_spark.streaming.demo import events_stream, tumbling_counts


def _key(rows):
    return sorted((r.bucket_start, r.event_type, r.n_events, r.sum_value) for r in rows)


def test_stream_equals_batch_tumbling(spark):
    stream_rows = run_stream_to_memory(
        tumbling_counts(events_stream(spark, SF_SMOKE)), spark, "zds_stream_demo"
    ).collect()
    batch_rows = q_stream_tumbling(spark, SF_SMOKE).collect()
    assert len(stream_rows) > 0
    assert _key(stream_rows) == _key(batch_rows)
