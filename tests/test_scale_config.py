"""Production streaming config: the RocksDB state store actually runs the
windowed aggregate in this container and matches the default provider."""

from __future__ import annotations

from tests.conftest import SF_SMOKE
from zonal_datacube_spark.operators.streaming_batch import q_stream_tumbling
from zonal_datacube_spark.session import scoped_conf
from zonal_datacube_spark.streaming.demo import (
    events_stream,
    run_stream_to_memory,
    tumbling_counts,
)
from zonal_datacube_spark.streaming.scale_config import ROCKSDB_STATE_STORE_CONFS


def test_rocksdb_state_store_matches_batch(spark):
    with scoped_conf(spark, ROCKSDB_STATE_STORE_CONFS):
        got = run_stream_to_memory(
            tumbling_counts(events_stream(spark, SF_SMOKE)),
            spark,
            "zds_rocksdb_stream",
        )
        stream_rows = {tuple(r) for r in got.collect()}
    batch_rows = {tuple(r) for r in q_stream_tumbling(spark, SF_SMOKE).collect()}
    assert stream_rows == batch_rows

