"""The benchmark's own checks: workload keys, output checks, declared names.

Run with ``python -m pytest perfbench/selftests -q`` from the checkout
root. None of these tests starts Spark.
"""

from __future__ import annotations

import os
import sys
from types import SimpleNamespace

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
# the benchmark's modules import each other by bare name, as run.py runs them
sys.path[:0] = [os.path.dirname(HERE), ROOT]

from checks import digest, digest_mismatch, rows_only_mismatch
from harness import Run, layout_builds
from polygons import CALL as POLYGONS, make_rings, numpy_zonal, ring_edges, zonal_mismatch
from tracing import EngineCounters, Tracer
from workloads import DATA_DIR, metric_units, workloads


def test_every_workload_key_is_registered():
    from zonal_datacube_spark.registry import all_queries

    queries = all_queries()
    for w in workloads().values():
        missing = [k for k in w.calls if k not in queries and k != POLYGONS]
        assert not missing, f"{w.name}: {missing}"


def fake_run() -> Run:
    """A finished two-pass run (one untraced, one traced) of one call,
    without Spark: what ``end_to_end`` and ``per_layer`` read."""
    run = Run.__new__(Run)
    run.args = SimpleNamespace(cpus=4)
    run.setup_s = run.session_start_s = run.registry_collect_s = 1.0
    plain = {"key": "k", "pass": 0, "wall": 1.0, "problem": None}
    traced = dict(
        plain,
        **{"pass": 1, "traced": True, "build_s": 0.2, "plan_s": 0.1, "exec_s": 0.7, "coverage": 1.0},
        **dict.fromkeys(("jobs", "build_jobs", "stages", "plan_rows", "python_bytes", "result_rows"), 1),
        stage=dict.fromkeys(EngineCounters.STAGE_FIELDS, 1),
        grain=dict.fromkeys(("hits", "misses", "evictions"), 0),
        stream=dict.fromkeys(("queries", "batches", "trigger_ms", "add_batch_ms", "commit_ms", "input_rows"), 0),
    )
    run.records = [plain, traced]
    run.passes = [{"traced": False, "wall_s": 1.0, "layout_builds": 0}, {"traced": True, "wall_s": 1.0, "layout_builds": 0}]
    return run


def test_reported_metrics_are_the_ones_benchmark_json_names():
    run = fake_run()
    assert set(run.end_to_end(heap_mb=1.0)) == set(metric_units("end_to_end"))
    host = {"steal_frac": 0.0, "loadavg1": 0.0}
    assert set(run.per_layer(host, storage=(0, 0.0), tmp_mb=0.0)) == set(metric_units("per_layer"))
    assert "setup_s" in metric_units("end_to_end")


def test_one_changed_value_is_caught():
    df = pd.DataFrame({"zone": [1, 2, 3], "mean": [0.5, 1.25, 2.0], "name": ["a", "b", "c"]})
    want = digest(df)
    assert digest_mismatch(digest(df.iloc[::-1].reset_index(drop=True)), want) is None
    changed = df.copy()
    changed.loc[1, "mean"] = 1.2500001
    assert digest_mismatch(digest(changed), want) == "values differ from the oracle"
    assert digest_mismatch(digest(df.rename(columns={"name": "label"})), want).startswith("columns")
    assert digest_mismatch(digest(df.iloc[:2]), want).startswith("rows")


def test_rows_only_check_flags_empty_and_drifting_results():
    a = digest(pd.DataFrame({"x": [1, 2]}))
    b = digest(pd.DataFrame({"x": [1, 3]}))
    empty = digest(pd.DataFrame({"x": pd.Series([], dtype="int64")}))
    assert rows_only_mismatch([a, a, a]) == [None, None, None]
    assert rows_only_mismatch([a, b, empty]) == [None, "result changed between passes", "no rows"]


def _brute_force_inside(x: float, y: float, ring: np.ndarray) -> bool:
    inside = False
    for i in range(len(ring)):
        (x1, y1), (x2, y2) = ring[i], ring[(i + 1) % len(ring)]
        if (y1 > y) != (y2 > y) and x < x1 + (x2 - x1) * (y - y1) / (y2 - y1):
            inside = not inside
    return inside


def test_numpy_ray_cast_matches_a_point_by_point_loop():
    rings = make_rings(seed=7)
    rng = np.random.default_rng(3)
    px, py = rng.uniform(0, 200, 200), rng.integers(0, 200, 200).astype(float)
    value = rng.uniform(0, 10, 200)
    got = numpy_zonal(px, py, value, rings)
    rows = []
    for zid, ring in enumerate(rings):
        mask = np.array([_brute_force_inside(x, y, ring) for x, y in zip(px, py)])
        if mask.any():
            rows.append((zid, int(mask.sum()), float(value[mask].sum())))
    want = pd.DataFrame(rows, columns=["zone_id", "n_points", "sum_value"])
    assert zonal_mismatch(got, want) is None


def test_zonal_check_catches_one_changed_value():
    want = pd.DataFrame({"zone_id": [0, 1], "n_points": [10, 20], "sum_value": [5.5, 7.25]})
    assert zonal_mismatch(want.iloc[::-1], want) is None
    bad_count = want.assign(n_points=[10, 21])
    assert "n_points" in zonal_mismatch(bad_count, want)
    bad_sum = want.assign(sum_value=[5.5, 7.26])
    assert "sum_value" in zonal_mismatch(bad_sum, want)


def test_rings_follow_the_seed_and_close():
    a, b = make_rings(1), make_rings(1)
    assert all(np.array_equal(x, y) for x, y in zip(a, b))
    assert not np.array_equal(make_rings(2)[0], a[0])
    edges = ring_edges(a)
    assert len(edges) == sum(len(r) for r in a)
    assert edges[len(a[0]) - 1][3:] == tuple(a[0][0])


def test_self_time_subtracts_covered_child_time():
    t = Tracer("r")
    call = t.add("call", 0.0, 10.0)
    t.add("build", 0.0, 4.0, parent=call)
    t.add("exec", 3.0, 9.0, parent=call)  # overlaps build by 1 s
    assert t.self_times()[call] == pytest.approx(1.0)


def test_layout_builds_counts_rewrites_in_persistent_roots_only():
    root = os.path.join(os.sep, "t")
    orc = os.path.join(root, "zds_orc_cache", "tag", "orders_orc", "_SUCCESS")
    stage = os.path.join(root, "zds_upsert_abc", "_SUCCESS")
    before = {orc: 1}
    assert layout_builds(before, {orc: 1, stage: 5}, {"zds_orc_cache"}) == 0
    assert layout_builds(before, {orc: 2}, {"zds_orc_cache"}) == 1


def test_fixture_copy_is_complete():
    from zonal_datacube_spark.sources.loader import TABLES

    assert sorted(f"{t}.parquet" for t in TABLES) == sorted(
        f for f in os.listdir(DATA_DIR) if f.endswith(".parquet")
    )
