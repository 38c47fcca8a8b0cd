"""The one place a streaming query starts and drains.

Every ``availableNow`` query in the package goes through ``drain``: it
opens the engine's stream conf scope, starts the writer, and waits for
the query to finish. A query that does not finish in time is stopped and
raises, so a key never reads the partial output of a query that is
still writing behind it.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from zonal_datacube_spark.session import scoped_conf

DRAIN_TIMEOUT_S = 240

# Confs of every stream run. ``drain`` adds the shuffle width,
# ``spark.sql.shuffle.partitions`` = min(8, task slots): each shuffle
# partition is one state-store instance per stateful operator per
# micro-batch, and each instance loads and commits its own checkpoint
# files. At fixture scale 8 instances keep the plan shape that 32 would
# give at a quarter of the commits, and the min() keeps the state stage
# to one wave of tasks: 8 partitions on a 4-slot `local[4]` run as two
# waves, the second waiting for the first's store load/commit (on a
# 4-core host q_stream_foreach_roundtrip's micro-batch went 0.30 → 0.26 s
# at sf0.1 with 4 partitions). 8- and 32-core runs keep 8. At
# 100 TB this width goes UP with key cardinality, and is pinned
# thereafter by the first run's checkpoint (a restart resumes at the
# width it started with).
STREAM_CONFS = {
    # Commit checkpoint files through Hadoop FileSystem.rename instead of
    # the default FileContext manager. Without libhadoop, FileContext's
    # rename stats source and destination by forking `readlink` (~3.5 ms
    # a fork from a 4 GB driver JVM on a 4-core host): 176 of the 266
    # forks of a q_stream_foreach_roundtrip call. Safe on two
    # conditions: (1) every checkpoint a query here writes is fresh,
    # local and single-writer (a key makes a new directory per call; a
    # restart resumes its own checkpoint with one writer), and (2) on
    # the local filesystem FileContext's "atomic no-overwrite" rename is
    # itself a destination check followed by rename(2), the same as
    # this manager's. A durable shared checkpoint (HDFS, concurrent
    # writers) keeps the default by not running under this scope.
    "spark.sql.streaming.checkpointFileManagerClass": (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    ),
}


def drain(
    spark: SparkSession,
    writer: DataStreamWriter,
    timeout_s: float = DRAIN_TIMEOUT_S,
) -> StreamingQuery:
    """Start ``writer`` under ``STREAM_CONFS`` and a shuffle width of
    min(8, task slots), and wait until its query terminates. A query
    still running after
    ``timeout_s`` seconds (or when ``timeout_s <= 0``) is stopped and
    ``TimeoutError`` raised; a query that failed re-raises its error.
    Returns the terminated query (for ``recentProgress``)."""
    width = min(8, spark.sparkContext.defaultParallelism)
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": str(width), **STREAM_CONFS}):
        q = writer.start()
        drained = False
        try:
            drained = timeout_s > 0 and q.awaitTermination(timeout_s)
        finally:
            if not drained:
                q.stop()
    if not drained:
        raise TimeoutError(f"streaming drain did not finish within {timeout_s}s")
    return q
