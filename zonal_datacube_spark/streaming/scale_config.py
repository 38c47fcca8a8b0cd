"""Production streaming configuration: the RocksDB state store.

The demo pipelines run on file sources with the default (in-JVM-heap)
HDFS-backed state store — right for tests, wrong at scale:

- **State store**: a 100 TB pipeline's windowed/session state outgrows
  executor heaps; Spark's RocksDB state store keeps state off-heap on
  local SSD with incremental (changelog) checkpointing, bounding both heap
  and checkpoint upload cost. These are plain public Spark confs; the
  provider ships with Spark 4 and runs in this container
  (tests/test_scale_config.py executes a windowed aggregate under it and
  checks result equality vs the default provider). Apply them for one
  run with ``session.scoped_conf(spark, ROCKSDB_STATE_STORE_CONFS)``.
"""

from __future__ import annotations

ROCKSDB_STATE_STORE_CONFS: dict[str, str] = {
    # off-heap, SSD-spillable per-partition state
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    ),
    # checkpoint uploads ship the changelog, not a full RocksDB snapshot
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
    # cap total RocksDB memory across all state store instances on an
    # executor (block cache + memtables) instead of per-instance defaults
    "spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage": "true",
}

