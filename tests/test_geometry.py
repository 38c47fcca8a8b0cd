"""Polygon containment: the scanline-interval pipeline agrees with an
independent Python ray-casting reference over a dense probe grid, a
~1000-vertex concave ring, probes on crossings and null coordinates; an
unclosed ring raises; the polygon keys join on the row, not on pid; and
that join emits one row per (point, containing zone)."""

from __future__ import annotations

import math
import random
import re

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from zonal_datacube_spark.functions.local_rel import local_relation
from zonal_datacube_spark.operators.geometry import (
    POLYGONS,
    edges_df,
    points_in_polygons,
    polygon_edges,
    q_zonal_polygon,
)
from zonal_datacube_spark.plans.diagnostics import formatted_plan

_EDGE_SCHEMA = "zone_id INT, x1 DOUBLE, y1 DOUBLE, x2 DOUBLE, y2 DOUBLE"
_POINT_SCHEMA = "pid INT, px DOUBLE, py DOUBLE"


def _pip_ref(px: float, py: float, ring: list[tuple[float, float]]) -> bool:
    inside = False
    n = len(ring)
    for i in range(n):
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % n]
        if (y1 > py) != (y2 > py) and px < x1 + (x2 - x1) * (py - y1) / (y2 - y1):
            inside = not inside
    return inside


def _concave_ring(seed: int, n: int = 1000) -> list[tuple[float, float]]:
    """A seeded star-shaped ring of ``n`` vertices with seven deep lobes
    centred in the empty lower-right of the POLYGONS space."""
    rng = random.Random(seed)
    ring = []
    for i in range(n):
        t = (i + rng.uniform(0.1, 0.9)) * 2 * math.pi / n
        r = 35.0 * (1.0 + 0.4 * math.sin(7 * t)) * rng.uniform(0.98, 1.02)
        ring.append((150.0 + r * math.cos(t), 160.0 + r * math.sin(t)))
    return ring


def _crossings(py: float, ring: list[tuple[float, float]]) -> list[float]:
    """Sorted crossing x of ``ring`` with row ``py``, by the engine's formula."""
    out = []
    for i in range(len(ring)):
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % len(ring)]
        if (y1 > py) != (y2 > py):
            out.append(x1 + (x2 - x1) * (py - y1) / (y2 - y1))
    return sorted(out)


def test_ray_casting_matches_python_reference(spark):
    big = _concave_ring(seed=11)
    rings = {**POLYGONS, 3: big}
    edges = polygon_edges() + [
        (3, x1, y1, *big[(i + 1) % len(big)]) for i, (x1, y1) in enumerate(big)
    ]
    # 21x21 probe grid over the whole space, off-lattice offsets
    probes = [
        (i * 21 + j, 0.25 + i * 10.0, 0.75 + j * 10.0)
        for i in range(21)
        for j in range(21)
    ]
    # seeded probes with non-integer py, dense over the concave ring
    rng = random.Random(5)
    probes += [
        (1000 + k, rng.uniform(105.0, 195.0), rng.uniform(110.0, 210.0))
        for k in range(2000)
    ]
    # probes exactly on crossings: inside on lo = c[2k], outside on
    # hi = c[2k+1], as `px < c` counts them
    on_lo, on_hi = [], []
    for zid, ring, py in [(0, POLYGONS[0], 60.25), (2, POLYGONS[2], 140.0), (3, big, 160.5)]:
        cs = _crossings(py, ring)
        assert len(cs) >= 2 and len(cs) % 2 == 0
        for k in range(0, len(cs), 2):
            on_lo.append((zid, (5000 + len(on_lo) * 2, cs[k], py)))
            on_hi.append((zid, (5001 + len(on_hi) * 2, cs[k + 1], py)))
    probes += [p for _, p in on_lo + on_hi]
    # null coordinates match no zone
    nulls = [(9000, None, 50.0), (9001, 50.0, None), (9002, None, None)]

    pts = spark.createDataFrame(probes + nulls, _POINT_SCHEMA)
    got = {
        (r.pid, r.zone_id)
        for r in points_in_polygons(pts, local_relation(spark, edges, _EDGE_SCHEMA)).collect()
    }
    want = {
        (pid, zid)
        for pid, px, py in probes
        for zid, ring in rings.items()
        if _pip_ref(px, py, ring)
    }
    assert got == want
    assert {z for _, z in want} == set(rings), "every ring should hold a probe"
    for zid, (pid, _, _) in on_lo:
        assert (pid, zid) in got, f"probe {pid} on lo of zone {zid}"
    for zid, (pid, _, _) in on_hi:
        assert (pid, zid) not in got, f"probe {pid} on hi of zone {zid}"
    assert not {pid for pid, _ in got} & {pid for pid, _, _ in nulls}


def test_unclosed_ring_raises(spark):
    # drop P1's closing edge: rows between its endpoints cross it once
    edges = [e for e in polygon_edges() if e[0] != 1] + [
        e for e in polygon_edges() if e[0] == 1
    ][:-1]
    pts = spark.createDataFrame([(0, 150.0, 60.0)], _POINT_SCHEMA)
    with pytest.raises(Exception, match="unclosed ring"):
        points_in_polygons(pts, local_relation(spark, edges, _EDGE_SCHEMA)).collect()


def test_zonal_polygon_joins_points_on_the_row(spark):
    plan = formatted_plan(q_zonal_polygon(spark, SF_SMOKE))
    # no fact-scaled per-point aggregate or re-join
    assert "hashpartitioning(pid" not in plan, plan
    keys = re.findall(
        r"\) BroadcastHashJoin[^\n]*\nLeft keys \[\d+\]: \[(.*?)\]\nRight keys \[\d+\]: \[(.*?)\]",
        plan,
    )
    assert any("py#" in left and "row#" in right for left, right in keys), plan


def _final_plan_nodes(node):
    """Every node of an executed plan, through adaptive and query-stage
    wrappers."""
    todo, out = [node], []
    while todo:
        node = todo.pop()
        kind = node.getClass().getSimpleName()
        out.append((kind, node))
        if kind == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
        elif kind.endswith("QueryStageExec"):
            todo.append(node.plan())
        else:
            children = node.children()
            todo.extend(children.apply(i) for i in range(children.size()))
    return out


def test_zonal_polygon_join_rows_equal_contained_points(spark):
    """Cost linear in points: the row-interval join emits exactly one row
    per (point, containing zone), with no per-edge fan-out."""
    df = q_zonal_polygon(spark, SF_SMOKE)
    n_inside = sum(r.n_points for r in df.collect())
    nodes = _final_plan_nodes(df._jdf.queryExecution().executedPlan())
    joins = [node for kind, node in nodes if kind == "BroadcastHashJoinExec"]
    assert len(joins) == 1, [kind for kind, _ in nodes]
    assert n_inside > 0
    assert joins[0].metrics().get("numOutputRows").get().value() == n_inside


def test_concave_notch_is_outside(spark):
    # (40.25, 165.75) sits in the concave notch of P2: inside the bbox,
    # outside the polygon — bbox containment would get this wrong
    ring = POLYGONS[2]
    xs, ys = [p[0] for p in ring], [p[1] for p in ring]
    px, py = 40.25, 165.75
    assert min(xs) < px < max(xs) and min(ys) < py < max(ys)  # inside bbox
    assert not _pip_ref(px, py, ring)  # outside polygon (reference)
    pts = spark.createDataFrame([(0, px, py)], _POINT_SCHEMA)
    hits = points_in_polygons(pts, edges_df(spark)).filter(F.col("zone_id") == 2)
    assert hits.count() == 0  # engine agrees
