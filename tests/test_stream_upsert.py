"""Update-mode foreachBatch upsert sink: batch ≡ stream on the fixture,
and versioned-state idempotence under multi-batch + retry sequences."""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE
from zonal_datacube_spark.operators.streaming_batch import q_stream_tumbling
from zonal_datacube_spark.streaming import demo
from zonal_datacube_spark.streaming.demo import (
    events_stream,
    read_versioned_state,
    run_stream_upsert,
    tumbling_counts,
    upsert_into_versioned_state,
)


def _rows(df):
    return {tuple(r) for r in df.collect()}


def test_stream_upsert_matches_batch(spark, tmp_path):
    state_dir = str(tmp_path / "state")
    final = run_stream_upsert(
        tumbling_counts(events_stream(spark, SF_SMOKE)),
        spark,
        state_dir,
        keys=["bucket_start", "event_type"],
    )
    assert _rows(final) == _rows(q_stream_tumbling(spark, SF_SMOKE))


def test_stream_upsert_with_no_batch_raises(spark, tmp_path, monkeypatch):
    """A run that lands no state version raises (not an assert that
    ``python -O`` strips, which would return None as the state table)."""
    monkeypatch.setattr(demo, "drain", lambda spark, writer: None)
    state_dir = tmp_path / "state_empty"
    state_dir.mkdir()
    with pytest.raises(RuntimeError, match="no batches"):
        run_stream_upsert(
            tumbling_counts(events_stream(spark, SF_SMOKE)),
            spark,
            str(state_dir),
            keys=["bucket_start", "event_type"],
        )


def test_versioned_state_multi_batch_and_retry(spark, tmp_path):
    state_dir = str(tmp_path / "state2")
    b0 = spark.createDataFrame([("k1", 1), ("k2", 2)], "k string, n int")
    b1 = spark.createDataFrame([("k2", 20), ("k3", 30)], "k string, n int")

    upsert_into_versioned_state(b0, 0, state_dir, ["k"])
    upsert_into_versioned_state(b1, 1, state_dir, ["k"])
    expected = {("k1", 1), ("k2", 20), ("k3", 30)}
    assert _rows(read_versioned_state(spark, state_dir)) == expected

    # same-batch retry: must merge against pre-batch state, not its own
    # output — state is unchanged, not double-applied
    upsert_into_versioned_state(b1, 1, state_dir, ["k"])
    assert _rows(read_versioned_state(spark, state_dir)) == expected
