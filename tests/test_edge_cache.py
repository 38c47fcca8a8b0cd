"""operators/graph.trade_edges_cached — the shared trade-edge rollup.

r13: seven graph keys (pagerank, sssp, 2hop, assortativity, kcore,
link_jaccard, reciprocity) derive the SAME schema-bounded (src, dst, w)
nation-pair rollup; the cache gives them one persisted fact scan per
process instead of seven. Pinned here: (1) the cached rollup's rows are
exactly ``_trade_edges``'s; (2) repeat calls return the SAME persisted
DataFrame (a cache hit, no new persist); (3) the cache key folds the
source tables' content stamps, so a rewritten corpus — same paths —
misses instead of serving stale edges (the ADVICE-r12 aliasing class);
(4) LRU eviction unpersists the evicted entry."""

from __future__ import annotations

import os
import shutil

import pytest

from tests.conftest import SF_SMOKE
from zonal_datacube_spark.operators.graph import (
    _EDGES,
    _trade_edges,
    trade_edges_cached,
)
from zonal_datacube_spark.sources.loader import load_table


@pytest.fixture()
def edge_twin(spark, tmp_path):
    """A second corpus (subset of the fixture) with all four edge-source
    tables, to exercise stamp-keyed identity."""
    root = tmp_path / "twin_sf"
    root.mkdir()
    for t, n in (("lineitem", 200), ("orders", 100), ("customer", 50), ("supplier", 10)):
        load_table(spark, SF_SMOKE, t).limit(n).write.parquet(
            str(root / f"{t}.parquet")
        )
    yield str(root)
    shutil.rmtree(str(root), ignore_errors=True)


def test_cached_rollup_matches_uncached(spark):
    cached = {
        (r.src, r.dst): r.w for r in trade_edges_cached(spark, SF_SMOKE).collect()
    }
    fresh = {
        (r.src, r.dst): r.w for r in _trade_edges(spark, SF_SMOKE).collect()
    }
    assert cached == fresh and len(cached) > 0


def test_repeat_call_is_a_hit_same_object(spark):
    a = trade_edges_cached(spark, SF_SMOKE)
    n_entries = len(_EDGES)
    b = trade_edges_cached(spark, SF_SMOKE)
    assert a is b
    assert len(_EDGES) == n_entries
    assert a.storageLevel.useMemory  # really persisted


def test_content_stamp_misses_on_rewrite(spark, edge_twin):
    first = trade_edges_cached(spark, edge_twin)
    n_first = first.count()
    # rewrite lineitem IN PLACE (same path): stamp must change -> miss
    li = load_table(spark, edge_twin, "lineitem").limit(50)
    tmp = os.path.join(edge_twin, "lineitem_new.parquet")
    li.write.parquet(tmp)
    dst = os.path.join(edge_twin, "lineitem.parquet")
    shutil.rmtree(dst)
    os.rename(tmp, dst)
    second = trade_edges_cached(spark, edge_twin)
    assert second is not first
    assert second.count() <= n_first


def test_lru_eviction_unpersists(spark, edge_twin, tmp_path):
    from zonal_datacube_spark.operators.graph import _EDGE_CACHE_CAP

    filler_roots = []
    for i in range(_EDGE_CACHE_CAP + 1):
        root = tmp_path / f"fill{i}"
        root.mkdir()
        for t, n in (("lineitem", 20 + i), ("orders", 20), ("customer", 10), ("supplier", 5)):
            load_table(spark, SF_SMOKE, t).limit(n).write.parquet(
                str(root / f"{t}.parquet")
            )
        filler_roots.append(str(root))
    victim = trade_edges_cached(spark, filler_roots[0])
    for r in filler_roots[1:]:
        trade_edges_cached(spark, r)
    assert len(_EDGES) <= _EDGE_CACHE_CAP
    assert not victim.storageLevel.useMemory  # evicted AND unpersisted
