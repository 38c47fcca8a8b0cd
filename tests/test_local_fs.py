"""The session's fork-free local filesystem (jvm/NoForkLocalFileSystem.java).

Pins: (1) ``file:`` resolves to the engine's filesystem and its raw
layer; (2) it leaves the same files (``.crc`` sidecars and ``_SUCCESS``
included) with the same modes as stock ``LocalFileSystem``; (3) renaming
onto an existing file still returns false and overwrites nothing;
(4) a mode with the sticky bit is still applied; (5) a stream key and a
layout-building key fork no ``chmod``; (6) the committed jar was built
from the current source."""

from __future__ import annotations

import importlib.util
import os
import re
import subprocess
import sys
import zipfile

from tests.conftest import SF_SMOKE
from zonal_datacube_spark.session import JVM_JAR, LOCAL_FS_CLASS, scoped_conf

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STOCK_LOCAL_FS = "org.apache.hadoop.fs.LocalFileSystem"


def _tool(name: str):
    spec = importlib.util.spec_from_file_location(name, os.path.join(REPO, "tools", f"{name}.py"))
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def _local_fs(spark):
    jvm = spark._jvm
    return jvm.org.apache.hadoop.fs.FileSystem.getLocal(spark._jsc.hadoopConfiguration())


def _hpath(spark, path: str):
    return spark._jvm.org.apache.hadoop.fs.Path("file:" + str(path))


def test_file_scheme_resolves_to_the_fork_free_filesystem(spark):
    fs = _local_fs(spark)
    assert fs.getClass().getName() == LOCAL_FS_CLASS
    assert fs.getRaw().getClass().getName() == LOCAL_FS_CLASS + "$Raw"


# part-00000-<job uuid>-c000.snappy.parquet and its .crc
_JOB_UUID = re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}")


def _modes(root: str) -> dict[str, int]:
    out = {}
    for d, dirs, files in os.walk(root):
        for name in dirs + files:
            path = os.path.join(d, name)
            out[_JOB_UUID.sub("<uuid>", os.path.relpath(path, root))] = os.stat(path).st_mode
    return out


def _write_tree(spark, fs, root: str) -> None:
    spark.range(0, 300, numPartitions=3).write.parquet("file:" + os.path.join(root, "parquet"))
    assert fs.mkdirs(_hpath(spark, os.path.join(root, "a", "b", "c")))


def test_same_files_and_modes_as_stock_local_filesystem(spark, tmp_path):
    _write_tree(spark, _local_fs(spark), str(tmp_path / "fork_free"))
    # session confs reach every job's hadoop conf: naming the stock
    # filesystem, uncached, makes the parquet write use it
    stock_confs = {"fs.file.impl": STOCK_LOCAL_FS, "fs.file.impl.disable.cache": "true"}
    with scoped_conf(spark, stock_confs):
        write_conf = spark._jsparkSession.sessionState().newHadoopConf()
        stock = _hpath(spark, tmp_path).getFileSystem(write_conf)
        assert stock.getClass().getName() == STOCK_LOCAL_FS
        _write_tree(spark, stock, str(tmp_path / "stock"))

    fork_free, stock_modes = _modes(str(tmp_path / "fork_free")), _modes(str(tmp_path / "stock"))
    assert fork_free == stock_modes
    names = {os.path.basename(p) for p in fork_free}
    assert {"_SUCCESS", "._SUCCESS.crc", "c"} <= names
    assert sum(p.endswith(".parquet") for p in fork_free) == 3
    assert sum(p.endswith(".parquet.crc") for p in fork_free) == 3


def test_rename_onto_an_existing_file_is_refused(spark, tmp_path):
    fs = _local_fs(spark)
    src, dst = tmp_path / "src", tmp_path / "dst"
    src.write_text("new")
    dst.write_text("old")
    assert fs.rename(_hpath(spark, src), _hpath(spark, dst)) is False
    assert (src.read_text(), dst.read_text()) == ("new", "old")
    moved = tmp_path / "moved"
    assert fs.rename(_hpath(spark, src), _hpath(spark, moved)) is True
    assert moved.read_text() == "new" and not src.exists()


def test_set_permission_applies_plain_and_sticky_modes(spark, tmp_path):
    jvm = spark._jvm
    fs = _local_fs(spark)
    shared, private = tmp_path / "shared", tmp_path / "private"
    shared.mkdir()
    private.write_text("x")
    fs.setPermission(_hpath(spark, shared), jvm.org.apache.hadoop.fs.permission.FsPermission(0o1755))
    fs.setPermission(_hpath(spark, private), jvm.org.apache.hadoop.fs.permission.FsPermission(0o600))
    assert oct(shared.stat().st_mode & 0o7777) == oct(0o1755)
    assert oct(private.stat().st_mode & 0o7777) == oct(0o600)


_GUARD = """
import sys
from zonal_datacube_spark.registry import all_queries
from zonal_datacube_spark.session import get_spark
spark = get_spark("zds-fork-guard", cpus="2")
queries = all_queries()
for key in sys.argv[2:]:
    assert queries[key](spark, sys.argv[1]).collect(), key
spark.stop()
"""


def test_writing_keys_fork_no_chmod(tmp_path):
    """A fresh driver (so the ORC layout is built, not reused) with a
    logging ``chmod`` first on PATH."""
    census = _tool("fork_census")
    bin_dir, tmp = tmp_path / "bin", tmp_path / "tmp"
    bin_dir.mkdir()
    tmp.mkdir()
    log = str(tmp_path / "calls.log")
    env = census.wrapper_env(str(bin_dir), log, commands=("chmod",))
    env.update(PYTHONPATH=REPO, TMPDIR=str(tmp), SPARK_DRIVER_MEMORY="1g")
    keys = ["q_stream_foreach_roundtrip", "q_source_orc_roundtrip"]
    proc = subprocess.run(
        [sys.executable, "-c", _GUARD, SF_SMOKE, *keys],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert os.listdir(tmp / "zds_layouts")  # the ORC layout was built here
    assert census.tally(log) == {}


def test_committed_jar_matches_its_source():
    """The jar records the digest of the sources it was built from, so a
    source edit without a ``tools/build_jvm.py`` rebuild fails here."""
    build = _tool("build_jvm")
    with zipfile.ZipFile(JVM_JAR) as jar:
        recorded = jar.read(build.SOURCE_DIGEST_ENTRY).decode().strip()
        classes = {n for n in jar.namelist() if n.endswith(".class")}
    assert recorded == build.source_digest()
    assert LOCAL_FS_CLASS.replace(".", "/") + "$Raw.class" in classes
