from __future__ import annotations

import tempfile

import pytest

from tests.conftest import SF_SMOKE
from zonal_datacube_spark.operators.streaming_batch import q_stream_tumbling
from zonal_datacube_spark.registry import all_queries
from zonal_datacube_spark.streaming import demo
from zonal_datacube_spark.streaming.demo import (
    events_stream,
    read_foreach_batch_result,
    read_sink,
    run_stream_foreach_batch,
    tumbling_counts,
)
from zonal_datacube_spark.streaming.drain import drain


def test_foreach_batch_parquet_sink(spark):
    with tempfile.TemporaryDirectory() as d:
        run_stream_foreach_batch(
            tumbling_counts(events_stream(spark, SF_SMOKE)), spark, d
        )
        # complete mode: the max-batch-id dir is the authoritative snapshot
        # (a batch=* union would double-count if availableNow ever split
        # the input into several micro-batches)
        back = read_foreach_batch_result(spark, d)
        want = sorted(map(tuple, q_stream_tumbling(spark, SF_SMOKE).collect()))
        got = sorted(map(tuple, back.select(*q_stream_tumbling(spark, SF_SMOKE).columns).collect()))
        assert got == want


def _jobs_started(spark, call) -> int:
    """Spark jobs ``call`` starts, from any thread (a stream runs its
    micro-batches on its own)."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    first = dag.nextJobId()
    call()
    return dag.nextJobId() - first


def test_stream_roundtrip_build_starts_only_the_micro_batch(spark):
    """A warm q_stream_foreach_roundtrip build starts one job, the
    micro-batch: the source schema comes from the memoized events
    relation and the read-back is typed by the stream, so the caller's
    thread (its own job group) starts no footer-probe or inference job."""
    key = all_queries()["q_stream_foreach_roundtrip"]
    key(spark, SF_SMOKE)
    tracker = spark.sparkContext.statusTracker()
    sc = spark.sparkContext
    sc.setJobGroup("zds-roundtrip-build", "warm build")
    try:
        n = _jobs_started(spark, lambda: key(spark, SF_SMOKE))
        caller_jobs = tracker.getJobIdsForGroup("zds-roundtrip-build")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert caller_jobs == []
    assert n == 1


def test_stream_state_runs_in_one_wave(spark, monkeypatch):
    """The stream's state stage is min(8, task slots) partitions wide,
    so its tasks never queue for a second wave."""
    runs = []
    monkeypatch.setattr(
        demo, "drain", lambda spark, writer: runs.append(drain(spark, writer))
    )
    all_queries()["q_stream_foreach_roundtrip"](spark, SF_SMOKE)
    (q,) = runs
    width = min(8, spark.sparkContext.defaultParallelism)
    assert q.recentProgress
    for progress in q.recentProgress:
        assert progress.stateOperators[0].numShufflePartitions == width


@pytest.mark.parametrize(
    "key",
    [
        "q_stream_foreach_roundtrip",
        "q_stream_stream_join",
        "q_stream_outer_join",
        "q_source_python_stream",
    ],
)
def test_sink_read_back_schema_equals_inferred(spark, monkeypatch, key):
    """The schema a stream key hands its sink's read-back (instead of
    inferring one) is the one the written parquet footers give."""
    reads = []

    def spy(spark, out_dir, schema):
        reads.append((out_dir, schema))
        return read_sink(spark, out_dir, schema)

    monkeypatch.setattr(demo, "read_sink", spy)
    all_queries()[key](spark, SF_SMOKE)
    (out_dir, schema), = reads
    inferred = spark.read.parquet(out_dir).schema
    assert [(f.name, f.dataType) for f in schema.fields] == [
        (f.name, f.dataType) for f in inferred.fields
    ]
