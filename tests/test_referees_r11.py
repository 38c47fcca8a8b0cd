"""Third-referee tests (VERDICT r10 next-round #5) for the keys whose
DuckDB oracles deliberately MIRROR the Spark formulation — ray-casting
zonal containment, pagerank's unrolled CTEs, changepoint's prefix
algebra, the SCD2 interval join, the IVM delta-join identity, and
kendall's pair fold. Differential testing shares bugs when both sides
encode the same algebra; each referee here recomputes the statistic from
the RAW fixture rows with an INDEPENDENT algorithm (winding number
instead of ray casting, a dict-based power iteration instead of join
algebra, per-row interval search instead of a range join, a single full
recompute instead of the four-term delta identity), so a shared
formulation bug cannot survive all three.

Exact-integer outputs compare exactly; double outputs that both engines
build from order-sensitive FP sums compare within 1e-9 of the referee's
math.fsum value (the keys round at 2/6 dp, far coarser)."""

from __future__ import annotations

import math
from collections import defaultdict
from datetime import date

import pytest

from tests.conftest import SF_SMOKE
from zonal_datacube_spark.sources.loader import load_table

EPOCH = date(1970, 1, 1)


def _cents(x: float) -> int:
    return int(math.floor(x * 100 + 0.5))


def _g6(x: float) -> float:
    return math.floor(x * 1_000_000 + 0.5) / 1_000_000


# --------------------------------------------------------------------------
# q_zonal_polygon — winding number vs ray-casting parity
# --------------------------------------------------------------------------


def _winding_inside(px: float, py: float, ring) -> bool:
    """Nonzero winding number — a DIFFERENT containment algorithm from the
    key's even-odd ray cast (cross-product side tests, no division); the
    two agree on simple polygons, which all fixture zones are."""
    wn = 0
    n = len(ring)
    for i in range(n):
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % n]
        cross = (x2 - x1) * (py - y1) - (px - x1) * (y2 - y1)
        if y1 <= py:
            if y2 > py and cross > 0:
                wn += 1
        elif y2 <= py and cross < 0:
            wn -= 1
    return wn != 0


def test_zonal_polygon_matches_winding_number_referee(spark):
    from zonal_datacube_spark.operators.geometry import (
        POLYGONS,
        q_zonal_polygon,
    )

    got = {r.zone_id: r for r in q_zonal_polygon(spark, SF_SMOKE).collect()}
    ev = (
        load_table(spark, SF_SMOKE, "events")
        .select("event_id", "value")
        .collect()
    )
    ref: dict[int, list[float]] = defaultdict(list)
    for r in ev:
        px, py = float(r.value), float(r.event_id % 200)
        for zid, ring in POLYGONS.items():
            if _winding_inside(px, py, ring):
                ref[zid].append(px)
    assert set(got) == {z for z, vals in ref.items() if vals}
    for zid, vals in ref.items():
        if not vals:
            continue
        g = got[zid]
        assert g.n_points == len(vals), zid
        s = math.fsum(vals)
        assert abs(g.sum_value - round(s, 2)) < 1e-6, zid
        assert abs(g.mean_value - s / len(vals)) < 1e-6, zid
    # the referee actually saw points both inside and outside
    n_inside = sum(len(v) for v in ref.values())
    assert 0 < n_inside < len(ev)


# --------------------------------------------------------------------------
# q_graph_pagerank — dict-based fixed-point power iteration
# --------------------------------------------------------------------------


def test_pagerank_matches_python_power_iteration(spark):
    from zonal_datacube_spark.operators.graph import (
        DAMP_DEN,
        DAMP_NUM,
        N_ITER,
        UNIT,
        _trade_edges,
        q_graph_pagerank,
    )

    got = {r.nationkey: r for r in q_graph_pagerank(spark, SF_SMOKE).collect()}
    edges = [
        (r.src, r.dst, r.w) for r in _trade_edges(spark, SF_SMOKE).collect()
    ]
    nodes = sorted({s for s, _, _ in edges} | {d for _, d, _ in edges})
    n = len(nodes)
    out_w: dict[int, int] = defaultdict(int)
    for s, _, w in edges:
        out_w[s] += w
    base = (DAMP_DEN - DAMP_NUM) * UNIT // (DAMP_DEN * n)
    rank = {v: UNIT // n for v in nodes}
    for _ in range(N_ITER):
        in_sum: dict[int, int] = defaultdict(int)
        for s, d, w in edges:
            # all quantities non-negative, so Python floor-div == Spark's
            # truncating BIGINT `div`
            in_sum[d] += rank[s] * w // out_w[s]
        rank = {v: base + DAMP_NUM * in_sum[v] // DAMP_DEN for v in nodes}
    assert set(got) == set(nodes)
    for v in nodes:
        assert got[v].rank_e12 == rank[v], v
    # sanity: ranks differ across nations (the graph is not symmetric)
    assert len({r.rank_e12 for r in got.values()}) > 1


# --------------------------------------------------------------------------
# q_ts_changepoint — per-type argmax over an explicit segment scan
# --------------------------------------------------------------------------


def _daily_grain(spark):
    ev = (
        load_table(spark, SF_SMOKE, "events")
        .select("event_type", "ts", "value")
        .collect()
    )
    daily: dict[tuple[str, int], list] = defaultdict(lambda: [0, 0])
    for r in ev:
        d = (r.ts.date() - EPOCH).days
        cell = daily[(r.event_type, d)]
        cell[0] += 1
        cell[1] += _cents(r.value)
    return daily


def test_changepoint_matches_python_segment_scan(spark):
    from zonal_datacube_spark.operators.timeseries_forecast import q_ts_changepoint

    got = {
        r.event_type: r for r in q_ts_changepoint(spark, SF_SMOKE).collect()
    }
    daily = _daily_grain(spark)
    by_type: dict[str, list[tuple[int, int, int]]] = defaultdict(list)
    for (t, d), (nd, sd) in daily.items():
        by_type[t].append((d, nd, sd))
    assert set(got) == set(by_type)
    for t, rows in by_type.items():
        rows.sort()
        nt = sum(nd for _, nd, _ in rows)
        st = sum(sd for _, _, sd in rows)
        best = None
        nl = sl = 0
        for d, nd, sd in rows[:-1]:  # right segment stays non-empty
            nl, sl = nl + nd, sl + sd
            nr, sr = nt - nl, st - sl
            # the same fixed IEEE chain as the key: exact int squares,
            # one division each, left + right - total
            gain = (
                float(sl * sl) / float(nl)
                + float(sr * sr) / float(nr)
                - float(st * st) / float(nt)
            )
            cand = (gain, -d, nl, sl, nr, sr)
            if best is None or cand > best:
                best = cand
        gain, negd, nl, sl, nr, sr = best
        g = got[t]
        split = date.fromordinal(EPOCH.toordinal() - negd)
        assert g.split_day == split.isoformat(), t
        assert (g.n_left, g.n_right) == (nl, nr), t
        assert abs(g.mean_left - _g6(sl / nl / 100)) < 1e-9, t
        assert abs(g.mean_right - _g6(sr / nr / 100)) < 1e-9, t
        assert abs(g.gain_usd2 - _g6(gain / 10000)) < 1e-6, t


# --------------------------------------------------------------------------
# q_stats_kendall — O(n²) pair scan referee
# --------------------------------------------------------------------------


def test_kendall_matches_python_pair_scan(spark):
    from zonal_datacube_spark.operators.stats_tests import q_stats_kendall

    got = {r.event_type: r for r in q_stats_kendall(spark, SF_SMOKE).collect()}
    daily = _daily_grain(spark)
    by_type: dict[str, list[tuple[int, int, int]]] = defaultdict(list)
    for (t, d), (nd, sd) in daily.items():
        by_type[t].append((d, nd, sd))
    for t, rows in by_type.items():
        rows.sort()
        conc = disc = tx = ty = npairs = 0
        for i in range(len(rows)):
            for j in range(i + 1, len(rows)):
                dx = rows[j][1] - rows[i][1]
                dy = rows[j][2] - rows[i][2]
                npairs += 1
                if dx == 0:
                    tx += 1
                if dy == 0:
                    ty += 1
                if (dx > 0 and dy > 0) or (dx < 0 and dy < 0):
                    conc += 1
                elif (dx > 0 and dy < 0) or (dx < 0 and dy > 0):
                    disc += 1
        g = got[t]
        assert (g.n_pairs, g.concordant, g.discordant) == (
            npairs,
            conc,
            disc,
        ), t
        if npairs > tx and npairs > ty:
            tau = (conc - disc) / (
                math.sqrt(npairs - tx) * math.sqrt(npairs - ty)
            )
            assert abs(g.tau_b - _g6(tau)) < 1e-9, t
        else:
            assert g.tau_b is None, t


# --------------------------------------------------------------------------
# q_scd2_pit_join — per-row interval search referee
# --------------------------------------------------------------------------


def test_scd2_pit_join_matches_python_interval_search(spark):
    from zonal_datacube_spark.operators.warehouse import q_scd2_pit_join

    got = {r.ship_year: r for r in q_scd2_pit_join(spark, SF_SMOKE).collect()}
    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    ).collect()
    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_shipdate"
    ).collect()
    by_cust: dict[int, list] = defaultdict(list)
    for r in orders:
        by_cust[r.o_custkey].append(r)
    intervals: dict[int, list] = {}
    for c, rows in by_cust.items():
        rows.sort(key=lambda r: (r.o_orderdate, r.o_orderkey))
        iv = []
        for i, r in enumerate(rows):
            vto = rows[i + 1].o_orderdate if i + 1 < len(rows) else None
            price = math.floor(r.o_totalprice * 100 + 0.5) / 100
            iv.append((r.o_orderdate, vto, price))
        intervals[c] = iv
    cust_of = {r.o_orderkey: r.o_custkey for r in orders}
    agg: dict[int, list] = defaultdict(lambda: [0, [], 0, 0])
    for r in li:
        y = r.l_shipdate.year
        cell = agg[y]
        cell[0] += 1
        ship = r.l_shipdate
        hit = None
        for vfrom, vto, price in intervals[cust_of[r.l_orderkey]]:
            if vfrom <= ship and (vto is None or ship < vto):
                hit = (vto, price)
                break
        if hit is None:
            cell[3] += 1  # shipped before the first state: NULL row
        else:
            cell[1].append(hit[1])
            if hit[0] is None:
                cell[2] += 1  # matched the open current interval
    assert set(got) == set(agg)
    for y, (n, prices, on_cur, no_state) in agg.items():
        g = got[y]
        assert g.n_shipments == n, y
        assert g.n_on_current == on_cur, y
        assert g.n_no_state == no_state, y
        assert abs(g.sum_state_price - round(math.fsum(prices), 2)) < 1e-4, y
    assert sum(a[3] for a in agg.values()) > 0  # the NULL path is exercised


# --------------------------------------------------------------------------
# q_view_ivm_join — single full recompute vs the 4-term delta identity
# --------------------------------------------------------------------------


def test_view_ivm_join_matches_single_full_recompute(spark):
    from zonal_datacube_spark.operators.scale_ops import q_view_ivm_join

    got = {r.o_orderstatus: r for r in q_view_ivm_join(spark, SF_SMOKE).collect()}
    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_orderstatus"
    ).collect()
    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    ).collect()
    status_of = {r.o_orderkey: r.o_orderstatus for r in orders}
    agg: dict[str, list] = defaultdict(lambda: [0, []])
    for r in li:
        st = status_of.get(r.l_orderkey)
        if st is None:
            continue
        cell = agg[st]
        cell[0] += 1
        cell[1].append(r.l_extendedprice * (1 - r.l_discount))
    assert set(got) == set(agg)
    for st, (n, revs) in agg.items():
        assert got[st].n_items == n, st
        assert abs(got[st].revenue - round(math.fsum(revs), 2)) < 1e-4, st
    # the delta identity was actually exercised: both sides of the cutoff
    # are non-empty in the fixture (all four union terms contribute)
    from zonal_datacube_spark.operators.scale_ops import INCR_CUTOFF

    cut = date.fromisoformat(INCR_CUTOFF)
    odates = [
        r.o_orderdate.date() for r in
        load_table(spark, SF_SMOKE, "orders").select("o_orderdate").collect()
    ]
    assert any(d < cut for d in odates) and any(d >= cut for d in odates)


if __name__ == "__main__":  # pragma: no cover
    raise SystemExit(pytest.main([__file__, "-x", "-q"]))


# --------------------------------------------------------------------------
# q_zonal_polygon_categorical — same winding referee, categorical fold
# --------------------------------------------------------------------------


def test_zonal_polygon_categorical_matches_winding_referee(spark):
    from zonal_datacube_spark.operators.geometry import (
        POLYGONS,
        q_zonal_polygon_categorical,
    )

    got = {
        (r.zone_id, r.event_type): r.n_points
        for r in q_zonal_polygon_categorical(spark, SF_SMOKE).collect()
    }
    ev = (
        load_table(spark, SF_SMOKE, "events")
        .select("event_id", "value", "event_type")
        .collect()
    )
    ref: dict[tuple[int, str], int] = defaultdict(int)
    for r in ev:
        px, py = float(r.value), float(r.event_id % 200)
        for zid, ring in POLYGONS.items():
            if _winding_inside(px, py, ring):
                ref[(zid, r.event_type)] += 1
    assert got == dict(ref)


# --------------------------------------------------------------------------
# q_geo_polygon_metrics — triangle-fan area / vertex-walk perimeter referee
# --------------------------------------------------------------------------


def test_geo_polygon_metrics_matches_triangle_fan_referee(spark):
    from zonal_datacube_spark.operators.geometry import (
        POLYGONS,
        q_geo_polygon_metrics,
    )

    got = {r.zone_id: r for r in q_geo_polygon_metrics(spark, SF_SMOKE).collect()}
    assert set(got) == set(POLYGONS)
    for zid, ring in POLYGONS.items():
        n = len(ring)
        # signed area via a triangle fan anchored at the FIRST VERTEX —
        # a different decomposition from the key's edge-wise shoelace sum
        x0, y0 = ring[0]
        a2 = math.fsum(
            (ring[i][0] - x0) * (ring[i + 1][1] - y0)
            - (ring[i + 1][0] - x0) * (ring[i][1] - y0)
            for i in range(1, n - 1)
        )
        perim = math.fsum(
            math.dist(ring[i], ring[(i + 1) % n]) for i in range(n)
        )
        # centroid from the triangle-fan weights
        cx = math.fsum(
            (x0 + ring[i][0] + ring[i + 1][0])
            / 3
            * (
                (ring[i][0] - x0) * (ring[i + 1][1] - y0)
                - (ring[i + 1][0] - x0) * (ring[i][1] - y0)
            )
            for i in range(1, n - 1)
        ) / a2
        cy = math.fsum(
            (y0 + ring[i][1] + ring[i + 1][1])
            / 3
            * (
                (ring[i][0] - x0) * (ring[i + 1][1] - y0)
                - (ring[i + 1][0] - x0) * (ring[i][1] - y0)
            )
            for i in range(1, n - 1)
        ) / a2
        g = got[zid]
        assert g.n_edges == n, zid
        assert abs(g.area - abs(a2) / 2) < 1e-3, zid
        assert abs(g.perimeter - perim) < 1e-3, zid
        assert abs(g.centroid_x - cx) < 1e-3, zid
        assert abs(g.centroid_y - cy) < 1e-3, zid


# --------------------------------------------------------------------------
# q_agg_gini — direct sorted rank-sum formula vs the grain sweep
# --------------------------------------------------------------------------


def test_gini_matches_direct_rank_formula(spark):
    from zonal_datacube_spark.operators.stats_ext import q_agg_gini

    got = {r.o_orderpriority: r for r in q_agg_gini(spark, SF_SMOKE).collect()}
    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderpriority", "o_totalprice"
    ).collect()
    by_prio: dict[str, list[float]] = defaultdict(list)
    for r in orders:
        by_prio[r.o_orderpriority].append(float(r.o_totalprice))
    assert set(got) == set(by_prio)
    for prio, vals in by_prio.items():
        vals.sort()  # ties contiguous — rank sum is order-invariant there
        n = len(vals)
        rank_sum = math.fsum((i + 1) * x for i, x in enumerate(vals))
        gini = 2 * rank_sum / (n * math.fsum(vals)) - (n + 1) / n
        g = got[prio]
        assert g.n_orders == n, prio
        assert abs(g.gini - gini) < 1e-5, (prio, g.gini, gini)


# --------------------------------------------------------------------------
# q_ts_theil_sen — O(n²) pair-slope scan vs the prefix-sweep rank
# --------------------------------------------------------------------------


def test_theil_sen_matches_pair_scan(spark):
    from zonal_datacube_spark.operators.timeseries_forecast import q_ts_theil_sen

    got = {r.event_type: r for r in q_ts_theil_sen(spark, SF_SMOKE).collect()}
    daily = _daily_grain(spark)
    by_type: dict[str, list[tuple[int, float]]] = defaultdict(list)
    for (t, d), (nd, sd) in daily.items():
        by_type[t].append((d, sd / nd))  # same single IEEE division
    assert set(got) == set(by_type)
    for t, rows in by_type.items():
        rows.sort()
        slopes = [
            ((v2 - v1) / (d2 - d1), d1, d2)
            for i, (d1, v1) in enumerate(rows)
            for d2, v2 in rows[i + 1 :]
        ]
        slopes.sort()  # total order (slope, d1, d2) — the key's tiebreak
        m = len(slopes)
        lower_median = slopes[(m + 1) // 2 - 1][0]  # 1-based k=(m+1)÷2
        g = got[t]
        assert g.n_days == len(rows), t
        assert g.n_pairs == m, t
        assert abs(g.median_slope - _g6(lower_median / 100)) < 1e-9, t
