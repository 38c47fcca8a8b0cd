"""Tests for the custom Python DataSource connector, the worker daemon's
zip stat gate that its Python tasks start behind, and the SCD2
point-in-time join."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport
from collections import defaultdict

from pyspark.sql import functions as F
from pyspark.sql import types as T

from tests.conftest import SF_SMOKE
from zonal_datacube_spark import worker_daemon
from zonal_datacube_spark.operators.warehouse import q_scd2_build, q_scd2_pit_join
from zonal_datacube_spark.sources.loader import load_table
from zonal_datacube_spark.sources.raster_source import (
    RASTER_SOURCE_NAME,
    SyntheticRasterDataSource,
    register_raster_source,
)


def _raster(spark, n=64, band_rows=16):
    register_raster_source(spark)
    return (
        spark.read.format(RASTER_SOURCE_NAME)
        .option("n", n)
        .option("band_rows", band_rows)
        .load()
    )


def test_raster_source_values_and_count(spark):
    df = _raster(spark, n=64, band_rows=16)
    assert df.count() == 64 * 64
    rows = {(r.x, r.y): r.val for r in df.filter(F.col("y") < 2).collect()}
    for (x, y), val in rows.items():
        assert val == (x * 31 + y * 17) % 97


def test_raster_source_is_partition_parallel(spark):
    df = _raster(spark, n=64, band_rows=16)
    # one InputPartition per row band → 4 RDD partitions, read concurrently
    assert df.rdd.getNumPartitions() == 4
    # bands tile the raster exactly: each partition holds band_rows*n rows
    sizes = df.rdd.glom().map(len).collect()
    assert sorted(sizes) == [16 * 64] * 4


def test_raster_source_filters_apply(spark):
    df = _raster(spark, n=64, band_rows=16)
    got = df.filter((F.col("x") == 0) & (F.col("val") == 0)).count()
    want = sum(1 for y in range(64) if (y * 17) % 97 == 0)
    assert got == want


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_zip_stat_gate_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, ["zds_gate_probe_a"])
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon._invalidate_if_changed
    )
    monkeypatch.syspath_prepend(archive)
    reads = []
    real_read = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda path: reads.append(path) or real_read(path)
    )
    try:
        assert importlib.import_module("zds_gate_probe_a").NAME == "zds_gate_probe_a"
        base = reads.count(archive)  # the importer's own construction
        importlib.invalidate_caches()  # its first call re-reads
        assert reads.count(archive) == base + 1
        importlib.invalidate_caches()  # archive unchanged: no re-read
        assert reads.count(archive) == base + 1
        _write_zip(archive, ["zds_gate_probe_a", "zds_gate_probe_b"])
        importlib.invalidate_caches()  # rewritten: re-read
        assert reads.count(archive) == base + 2
        assert importlib.import_module("zds_gate_probe_b").NAME == "zds_gate_probe_b"
    finally:
        for name in ("zds_gate_probe_a", "zds_gate_probe_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


def _zip_directory_probe():
    """A function, pickled by value so that a worker can run it, giving
    (pid, archive, id of its cached directory) for every zip on the
    process's sys.path. Each directory seen is kept alive in the process,
    so a freed directory's id cannot come back as a new one's."""

    def zip_directories():
        import os
        import sys
        import zipimport

        pin = zipimport.__dict__.setdefault("_zds_test_pin", [])
        out = []
        for archive in sys.path:
            directory = zipimport._zip_directory_cache.get(archive)
            if directory is not None:
                pin.append(directory)
                out.append((os.getpid(), archive, id(directory)))
        return out

    return zip_directories


def _ids_after_first_task(observations):
    """{(pid, archive): ids} over every task but each process's first.
    ``observations`` is (task, monotonic ns, [(pid, archive, id)]) per task."""
    first: dict[int, tuple[int, int]] = {}
    for task, ns, dirs in observations:
        for pid, _, _ in dirs:
            first[pid] = min(first.get(pid, (ns, task)), (ns, task))
    ids = defaultdict(set)
    for task, ns, dirs in observations:
        for pid, archive, i in dirs:
            if (ns, task) != first[pid]:
                ids[(pid, archive)].add(i)
    return ids


def test_session_starts_workers_from_the_engine_daemon(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == "zonal_datacube_spark.worker_daemon"


def test_python_tasks_keep_their_zip_directories(spark):
    """A worker re-reads pyspark.zip's directory on its first task only."""
    n_tasks = 16
    zip_directories = _zip_directory_probe()

    def probe(task):
        import time

        return (task, time.monotonic_ns(), zip_directories())

    schema = T.StructType([
        T.StructField("task", T.LongType()),
        T.StructField("ns", T.LongType()),
        T.StructField("dirs", T.ArrayType(T.StructType([
            T.StructField("pid", T.LongType()),
            T.StructField("archive", T.StringType()),
            T.StructField("id", T.LongType()),
        ]))),
    ])
    rows = (
        spark.range(0, n_tasks, 1, n_tasks)
        .select(F.udf(probe, schema)("id").alias("o"))
        .select("o.*")
        .collect()
    )
    assert len(rows) == n_tasks
    assert all(any(a.endswith("pyspark.zip") for _, a, _ in r.dirs) for r in rows)
    ids = _ids_after_first_task([(r.task, r.ns, r.dirs) for r in rows])
    assert ids, "no worker ran a second task"
    assert {k: v for k, v in ids.items() if len(v) > 1} == {}


def test_planner_workers_keep_their_zip_directories(spark):
    """Data source planning runs in workers that Spark forks from
    pyspark.daemon; the sources package gates them once imported there,
    so from a planner worker's third call on its directories stay put."""

    zip_directories = _zip_directory_probe()

    class PlannerProbe(SyntheticRasterDataSource):
        @classmethod
        def name(cls):
            return "zds_planner_probe"

        def schema(self):
            return ", ".join(f"d_{pid}_{i} INT" for pid, archive, i in zip_directories()
                             if archive.endswith("pyspark.zip"))

    spark.dataSource.register(PlannerProbe)
    seen = defaultdict(list)
    for _ in range(6):
        for col in spark.read.format("zds_planner_probe").load().columns:
            _, pid, i = col.split("_")
            seen[pid].append(i)
    later = {pid: set(ids[2:]) for pid, ids in seen.items() if len(ids) > 2}
    assert later, "no planner worker ran a third call"
    assert all(len(ids) == 1 for ids in later.values()), later


def test_pit_join_covers_every_lineitem_exactly_once(spark):
    out = q_scd2_pit_join(spark, SF_SMOKE).collect()
    n_li = load_table(spark, SF_SMOKE, "lineitem").count()
    # LEFT join against a partitioning interval set: every shipment
    # surfaces exactly once (at most one matching interval; no-state rows
    # kept with NULL state, never dropped, never duplicated)
    assert sum(r.n_shipments for r in out) == n_li
    assert sum(r.n_no_state for r in out) > 0  # fixture ships pre-state
    for r in out:
        assert 0 <= r.n_on_current <= r.n_shipments
        assert 0 <= r.n_no_state <= r.n_shipments


def test_pit_join_never_sees_the_future(spark):
    """Spot-check temporal correctness: recompute a few shipments' states
    naively and compare against the interval the join would select."""
    intervals = q_scd2_build(spark, SF_SMOKE)
    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li_base = (
        load_table(spark, SF_SMOKE, "lineitem")
        .select("l_orderkey", "l_shipdate")
        .limit(50)
    )
    li = li_base.join(
        orders, li_base.l_orderkey == orders.o_orderkey
    ).collect()
    ivs = intervals.collect()
    by_cust: dict[int, list] = {}
    for r in ivs:
        by_cust.setdefault(r.o_custkey, []).append(r)
    for row in li:
        matches = [
            iv
            for iv in by_cust[row.o_custkey]
            if iv.valid_from <= row.l_shipdate
            and (iv.valid_to is None or row.l_shipdate < iv.valid_to)
        ]
        assert len(matches) <= 1  # at most one state visible at ship time
        if matches:
            assert matches[0].valid_from <= row.l_shipdate  # no future state
        else:
            # no state yet: shipment precedes the customer's first change
            first = min(iv.valid_from for iv in by_cust[row.o_custkey])
            assert row.l_shipdate < first
