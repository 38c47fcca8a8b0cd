"""streaming/drain.py — the one place a streaming query starts.

Pins: (1) a query that does not drain in time is stopped and raises, so
no key reads a partial result while the query still writes; (2) inside
the stream conf scope Spark commits checkpoints through the Hadoop
FileSystem manager, outside it through the default FileContext manager;
(3) both managers leave the same checkpoint files (checksums included)
and the same rows; (4) no package module starts or awaits a streaming
query itself, or makes a temp dir outside functions/tempdirs.py and
session.py."""

from __future__ import annotations

import ast
import glob
import os

import pytest

from tests.conftest import SF_SMOKE
from zonal_datacube_spark.session import scoped_conf
from zonal_datacube_spark.streaming.demo import (
    events_stream,
    read_foreach_batch_result,
    run_stream_foreach_batch,
    tumbling_counts,
)
from zonal_datacube_spark.streaming.drain import STREAM_CONFS, drain

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(REPO, "zonal_datacube_spark")
MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
_CHECKPOINTING = "org.apache.spark.sql.execution.streaming.checkpointing."
FILE_CONTEXT_MANAGER = _CHECKPOINTING + "FileContextBasedCheckpointFileManager"
FILE_SYSTEM_MANAGER = _CHECKPOINTING + "FileSystemBasedCheckpointFileManager"


def test_timed_out_drain_stops_the_query(spark):
    writer = (
        tumbling_counts(events_stream(spark, SF_SMOKE))
        .writeStream.format("memory")
        .queryName("zds_drain_timeout")
        .outputMode("complete")
        .trigger(availableNow=True)
    )
    with pytest.raises(TimeoutError):
        drain(spark, writer, timeout_s=0)
    assert spark.streams.active == []


def _manager_class(spark, path: str) -> str:
    jvm = spark._jvm
    managers = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    hpath = jvm.org.apache.hadoop.fs.Path("file:" + path)
    return managers.CheckpointFileManager.create(hpath, conf).getClass().getName()


def test_stream_scope_commits_through_filesystem(spark, tmp_path):
    assert _manager_class(spark, str(tmp_path)) == FILE_CONTEXT_MANAGER
    with scoped_conf(spark, STREAM_CONFS):
        assert _manager_class(spark, str(tmp_path)) == FILE_SYSTEM_MANAGER
    assert _manager_class(spark, str(tmp_path)) == FILE_CONTEXT_MANAGER


def _foreach_run(spark, root: str) -> tuple[set[str], list[tuple]]:
    out, ckpt = os.path.join(root, "out"), os.path.join(root, "ckpt")
    os.makedirs(out)
    run_stream_foreach_batch(
        tumbling_counts(events_stream(spark, SF_SMOKE)), spark, out, ckpt
    )
    files = {
        os.path.relpath(os.path.join(d, f), ckpt)
        for d, _, names in os.walk(ckpt)
        for f in names
    }
    return files, sorted(map(tuple, read_foreach_batch_result(spark, out).collect()))


def test_both_managers_write_the_same_checkpoint(spark, tmp_path, monkeypatch):
    fs_files, fs_rows = _foreach_run(spark, str(tmp_path / "fs"))
    monkeypatch.setitem(STREAM_CONFS, MANAGER_KEY, FILE_CONTEXT_MANAGER)
    fc_files, fc_rows = _foreach_run(spark, str(tmp_path / "fc"))
    assert fs_files == fc_files
    assert any(f.endswith(".crc") for f in fs_files)  # checksums compared too
    assert fs_rows == fc_rows
    assert fs_rows


def _calls(tree: ast.AST):
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            func = node.func
            name = func.attr if isinstance(func, ast.Attribute) else getattr(func, "id", None)
            yield node, name


def test_streams_start_and_temp_dirs_are_made_in_one_place():
    drain_module = os.path.join("streaming", "drain.py")
    mkdtemp_allowed = {os.path.join("functions", "tempdirs.py"), "session.py"}
    offences = []
    for path in sorted(glob.glob(os.path.join(PACKAGE, "**", "*.py"), recursive=True)):
        rel = os.path.relpath(path, PACKAGE)
        for node, name in _calls(ast.parse(open(path).read())):
            where = f"{rel}:{node.lineno}"
            if rel != drain_module and name == "awaitTermination":
                offences.append(f"{where}: awaitTermination (use streaming.drain.drain)")
            if (
                rel != drain_module
                and name == "start"
                and isinstance(node.func, ast.Attribute)
                and not node.args
            ):
                offences.append(f"{where}: .start() (use streaming.drain.drain)")
            if rel not in mkdtemp_allowed and name == "mkdtemp":
                offences.append(f"{where}: mkdtemp (use functions.tempdirs.fresh_dirs)")
    assert offences == []
