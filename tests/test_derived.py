"""sources/derived.py — the one derived-state module.

Pins: (1) two processes sharing a temp dir that build the same layout at
the same time both read the complete copy and leave no temp copy behind;
(2) a failed build leaves nothing at the final path; (3) the in-process
cache caps, evicts with unpersist, counts, keys on the applicationId,
re-persists a hit whose storage was cleared and builds a key once under
concurrent callers; (4) relations are read once per content stamp: a
warm layout key starts no job, ``read_layout`` sees a layout rewritten
in place and raises on a deleted one; (5) no other package module
decides how derived state is identified, built, checked or evicted, and
every layout read goes through ``read_layout``."""

from __future__ import annotations

import ast
import glob
import os
import shutil
import subprocess
import sys
import threading
from types import SimpleNamespace

import pyarrow.parquet as pq
import pytest
from pyspark.storagelevel import StorageLevel

from tests.conftest import SF_SMOKE
from zonal_datacube_spark.registry import all_queries
from zonal_datacube_spark.sources import derived
from zonal_datacube_spark.sources.derived import DerivedCache
from zonal_datacube_spark.sources.loader import read_layout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(REPO, "zonal_datacube_spark")

# Each racer writes half of the layout, then waits until its peer is
# building too before writing the rest — so both processes are inside
# ``build`` at once, and exactly one of them loses the rename.
_RACER = r"""
import os, sys, time
import pyarrow.parquet as pq
from zonal_datacube_spark.sources import derived

sf_dir, gate, me = sys.argv[1:4]


def build(tmp):
    table = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    os.makedirs(tmp)
    half = table.num_rows // 2
    pq.write_table(table.slice(0, half), os.path.join(tmp, "part-0.parquet"))
    open(os.path.join(gate, me), "w").close()
    deadline = time.monotonic() + 60
    while len(os.listdir(gate)) < 2:
        if time.monotonic() > deadline:
            raise TimeoutError("peer never started building")
        time.sleep(0.01)
    pq.write_table(table.slice(half), os.path.join(tmp, "part-1.parquet"))


path = derived.layout(sf_dir, ("events",), "race", build)
print(path, pq.read_table(path).num_rows)
"""


def test_two_processes_build_one_layout(tmp_path):
    tmpdir = tmp_path / "tmp"
    gate = tmp_path / "gate"
    tmpdir.mkdir()
    gate.mkdir()
    env = {**os.environ, "TMPDIR": str(tmpdir), "PYTHONPATH": REPO}
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", _RACER, SF_SMOKE, str(gate), name],
            cwd=REPO, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
            text=True,
        )
        for name in ("a", "b")
    ]
    outs = []
    for p in procs:
        out, err = p.communicate(timeout=120)
        assert p.returncode == 0, err
        outs.append(out.split())
    want = pq.read_table(os.path.join(SF_SMOKE, "events.parquet")).num_rows
    (path_a, n_a), (path_b, n_b) = outs
    assert path_a == path_b
    assert path_a.startswith(os.path.join(str(tmpdir), "zds_layouts") + os.sep)
    assert int(n_a) == int(n_b) == want
    assert sorted(os.listdir(gate)) == ["a", "b"]  # both really built
    assert glob.glob(os.path.join(str(tmpdir), "zds_layouts", "**", "*.tmp-*"),
                     recursive=True) == []


def test_failed_build_leaves_nothing(tmp_path, monkeypatch):
    monkeypatch.setattr(derived, "LAYOUT_ROOT", str(tmp_path))

    def build(tmp: str) -> None:
        os.makedirs(tmp)
        raise RuntimeError("boom")

    with pytest.raises(RuntimeError, match="boom"):
        derived.layout(SF_SMOKE, ("events",), "broken", build)
    (tag_dir,) = os.listdir(tmp_path)
    assert os.listdir(tmp_path / tag_dir) == []


def _session(app_id: str) -> SimpleNamespace:
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


def test_cache_counts_and_keys_on_application_id():
    cache = DerivedCache("test_counts", 4)
    builds = []

    def build() -> int:
        builds.append(1)
        return len(builds)

    app1, app2 = _session("app-1"), _session("app-2")
    assert cache.get_or_build(app1, ("k",), build) == 1
    assert cache.get_or_build(app1, ("k",), build) == 1
    assert cache.get_or_build(app2, ("k",), build) == 2  # new app: a miss
    assert cache.stats == {"hits": 1, "misses": 2, "evictions": 0}
    assert derived.cache_stats()["test_counts"] == cache.stats


def test_cache_cap_evicts_and_unpersists(spark):
    cache = DerivedCache("test_evict", 2)
    frames = []
    for i in range(3):
        df = cache.get_or_build(
            spark, (i,), lambda i=i: spark.range(i + 100).persist()
        )
        df.count()
        frames.append(df)
    assert len(cache) == 2
    assert cache.stats["evictions"] == 1
    assert frames[0].storageLevel == StorageLevel.NONE  # evicted AND unpersisted
    assert frames[2].storageLevel.useMemory
    cache.clear()
    assert frames[2].storageLevel == StorageLevel.NONE


def test_cache_repersists_a_cleared_hit(spark):
    cache = DerivedCache("test_repersist", 2)
    df = cache.get_or_build(spark, ("r",), lambda: spark.range(117).persist())
    df.count()
    spark.range(117).unpersist()  # same plan: clears the storage under df
    assert df.storageLevel == StorageLevel.NONE
    assert cache.get_or_build(spark, ("r",), lambda: None) is df
    assert df.storageLevel.useMemory
    cache.clear()


def test_concurrent_callers_build_each_key_once():
    cache = DerivedCache("test_threads", 8)
    app = _session("app-threads")
    n_threads, n_keys, rounds = 16, 4, 50
    builds: dict[int, int] = {}
    barrier = threading.Barrier(n_threads)
    results: list[list[object]] = [[] for _ in range(n_threads)]

    def build(key: int) -> object:
        builds[key] = builds.get(key, 0) + 1
        return object()

    def worker(idx: int) -> None:
        barrier.wait(timeout=30)
        for r in range(rounds):
            key = (idx + r) % n_keys
            results[idx].append(
                (key, cache.get_or_build(app, (key,), lambda k=key: build(k)))
            )

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    assert builds == {k: 1 for k in range(n_keys)}
    by_key: dict[int, set[int]] = {}
    for res in results:
        for key, value in res:
            by_key.setdefault(key, set()).add(id(value))
    assert all(len(ids) == 1 for ids in by_key.values())
    assert cache.stats["misses"] == n_keys
    assert cache.stats["hits"] == n_threads * rounds - n_keys


# --- relations: resolved once per content stamp -----------------------------


def test_warm_mv_rewrite_starts_no_job(spark):
    """The MV layout's relation is memoized: a warm q_mv_rewrite build
    runs no schema-inference job before it returns."""
    key = all_queries()["q_mv_rewrite"]
    key(spark, SF_SMOKE)
    sc = spark.sparkContext
    sc.setJobGroup("zds-mv-warm", "warm build")
    try:
        key(spark, SF_SMOKE)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup("zds-mv-warm") == []


def test_read_layout_sees_a_rewrite_in_place(spark, tmp_path):
    path = str(tmp_path / "layout")
    spark.range(3).write.parquet(path)
    assert read_layout(spark, path).count() == 3
    assert read_layout(spark, path) is read_layout(spark, path)
    spark.range(5).write.mode("overwrite").parquet(path)
    assert read_layout(spark, path).count() == 5


def test_read_layout_of_a_deleted_layout_raises(spark, tmp_path):
    path = str(tmp_path / "layout")
    spark.range(3).write.parquet(path)
    assert read_layout(spark, path).count() == 3
    shutil.rmtree(path)
    with pytest.raises(FileNotFoundError):
        read_layout(spark, path)


# --- guard: derived state is decided in ONE module ------------------------

# Module-level mappings that hold something other than derived state.
_MAPPING_ALLOWED = {
    # staging dirs a key created last time, to delete on its next call
    ("functions/tempdirs.py", "_LAST"),
}


def _package_modules():
    for path in sorted(glob.glob(os.path.join(PACKAGE, "**", "*.py"), recursive=True)):
        rel = os.path.relpath(path, PACKAGE)
        if rel != os.path.join("sources", "derived.py"):
            yield rel, path


def _tool_modules():
    for path in sorted(glob.glob(os.path.join(REPO, "tools", "*.py"))):
        yield os.path.relpath(path, REPO), path


def _module_level_mappings(tree: ast.Module):
    for node in tree.body:
        if isinstance(node, ast.Assign):
            targets, value = node.targets, node.value
        elif isinstance(node, ast.AnnAssign) and node.value is not None:
            targets, value = [node.target], node.value
        else:
            continue
        empty_dict = isinstance(value, ast.Dict) and not value.keys
        ctor = (
            isinstance(value, ast.Call)
            and getattr(value.func, "id", getattr(value.func, "attr", None))
            in ("dict", "OrderedDict", "defaultdict")
        )
        if empty_dict or ctor:
            for t in targets:
                if isinstance(t, ast.Name):
                    yield t.id


def test_only_the_derived_module_decides_derived_state():
    offences = []
    for rel, path in _package_modules():
        src = open(path).read()
        if "'_SUCCESS'" in src or '"_SUCCESS"' in src:
            offences.append(f"{rel}: _SUCCESS completeness check")
        if "gettempdir(" in src:
            offences.append(f"{rel}: gettempdir() cache root")
        if "lru_cache" in src or "functools.cache" in src:
            offences.append(f"{rel}: functools cache")
        for name in _module_level_mappings(ast.parse(src)):
            if (rel, name) not in _MAPPING_ALLOWED:
                offences.append(f"{rel}: module-level mapping {name}")
    for rel, path in _tool_modules():
        src = open(path).read()
        if "'_SUCCESS'" in src or '"_SUCCESS"' in src:
            offences.append(f"{rel}: _SUCCESS completeness check")
        if "gettempdir(" in src:
            offences.append(f"{rel}: gettempdir() cache root")
        for node in ast.walk(ast.parse(src)):
            if isinstance(node, ast.Constant) and str(node.value).startswith("/tmp"):
                offences.append(f"{rel}:{node.lineno}: literal /tmp root")
    assert offences == []


def _layout_path_functions(trees) -> set[str]:
    """Names of the package functions that return ``layout(...)``."""
    names = set()
    for tree in trees:
        for fn in ast.walk(tree):
            if not isinstance(fn, ast.FunctionDef):
                continue
            for node in ast.walk(fn):
                if (
                    isinstance(node, ast.Return)
                    and isinstance(node.value, ast.Call)
                    and _called_name(node.value) == "layout"
                ):
                    names.add(fn.name)
    return names


def _called_name(call: ast.Call) -> str | None:
    func = call.func
    return func.attr if isinstance(func, ast.Attribute) else getattr(func, "id", None)


def _reader_chain(call: ast.Call) -> list[str] | None:
    """The attribute names of a ``<x>.read....<fmt>(...)`` call chain,
    outermost first, or None when the chain is not rooted at ``.read``."""
    names, node = [], call.func
    while True:
        if isinstance(node, ast.Call):
            node = node.func
        elif isinstance(node, ast.Attribute):
            names.append(node.attr)
            if node.attr == "read":
                return names
            node = node.value
        else:
            return None


def test_layout_reads_go_through_read_layout():
    """A layout read with ``spark.read`` infers its schema again on every
    call; ``loader.read_layout`` resolves it once per content stamp. A
    chain that declares ``.schema(...)`` infers nothing and is allowed."""
    trees = {
        path: ast.parse(open(path).read())
        for path in glob.glob(os.path.join(PACKAGE, "**", "*.py"), recursive=True)
    }
    layout_fns = _layout_path_functions(trees.values())
    assert "daily_events_mv_path" in layout_fns  # the scan sees the builders
    offences = []
    for path, tree in trees.items():
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            chain = _reader_chain(node)
            if chain is None or "schema" in chain:
                continue
            for arg in [*node.args, *(k.value for k in node.keywords)]:
                if isinstance(arg, ast.Call) and _called_name(arg) in layout_fns:
                    rel = os.path.relpath(path, PACKAGE)
                    offences.append(f"{rel}:{node.lineno}: {_called_name(arg)}")
    assert offences == []
