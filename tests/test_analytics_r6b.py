"""Operator invariants (timeseries_forecast, embedding_eval and graph
keys) beyond the
driver's oracle hash: python referees for the changepoint gain argmax,
the STL trend/seasonal arithmetic, the ANN recall eval's set algebra,
and the k-core peeling fixpoint."""

from __future__ import annotations

import collections
import math

import numpy as np
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from zonal_datacube_spark.operators.embedding_eval import (
    ANN_EVAL_K,
    q_sim_ann_recall_eval,
)
from zonal_datacube_spark.operators.graph import KCORE_K, q_graph_kcore
from zonal_datacube_spark.operators.timeseries_forecast import (
    STL_HALF_WINDOW,
    daily_grain,
    q_ts_changepoint,
    q_ts_stl_decompose,
)


def _daily_series(spark):
    rows = daily_grain(spark, SF_SMOKE).collect()
    series: dict[str, list] = collections.defaultdict(list)
    for r in rows:
        series[r.event_type].append((r.d, r.nd, r.sd))
    for s in series.values():
        s.sort()
    return series


def test_changepoint_matches_python_referee(spark):
    out = {r.event_type: r for r in q_ts_changepoint(spark, SF_SMOKE).collect()}
    for et, s in _daily_series(spark).items():
        nt = sum(nd for _, nd, _ in s)
        st = sum(sd for _, _, sd in s)
        best = None
        nl = sl = 0
        for d, nd, sd in s[:-1]:  # right segment stays non-empty
            nl, sl = nl + nd, sl + sd
            nr, sr = nt - nl, st - sl
            gain = sl * sl / nl + sr * sr / nr - st * st / nt
            if best is None or gain > best[0]:
                best = (gain, d, nl, nr, sl, sr)
        gain, d, nl, nr, sl, sr = best
        r = out[et]
        assert r.n_left == nl and r.n_right == nr
        import datetime

        expected_day = (
            datetime.date(1970, 1, 1) + datetime.timedelta(days=d)
        ).isoformat()
        assert r.split_day == expected_day
        assert abs(r.gain_usd2 - math.floor(gain / 1e4 * 1e6 + 0.5) / 1e6) < 1e-6
        assert abs(r.mean_left - math.floor(sl / nl / 100 * 1e6 + 0.5) / 1e6) < 1e-12


def test_changepoint_gain_is_nonnegative_and_beats_no_split(spark):
    # between-segment SSE gain is >= 0 by convexity; equality only if the
    # series is constant — which the fixture's event values are not
    for r in q_ts_changepoint(spark, SF_SMOKE).collect():
        assert r.gain_usd2 > 0


def test_stl_matches_python_referee(spark):
    out = {
        (r.event_type, r.dow): r
        for r in q_ts_stl_decompose(spark, SF_SMOKE).collect()
    }
    for et, s in _daily_series(spark).items():
        n = len(s)
        cells: dict[int, list[int]] = collections.defaultdict(list)
        for i, (d, nd, sd) in enumerate(s):
            lo, hi = max(0, i - STL_HALF_WINDOW), min(n, i + STL_HALF_WINDOW + 1)
            tn = sum(x[1] for x in s[lo:hi])
            ts = sum(x[2] for x in s[lo:hi])
            dt = sd / nd - ts / tn
            cells[d % 7].append(math.floor(dt * 1e6 + 0.5))
        for dow, micro in cells.items():
            r = out[(et, dow)]
            assert r.n_days == len(micro)
            expected = math.floor(
                sum(micro) / len(micro) / 1e6 / 100 * 1e6 + 0.5
            ) / 1e6
            assert abs(r.seasonal_usd - expected) < 1e-9
            expected_abs = math.floor(
                sum(abs(m) for m in micro) / len(micro) / 1e6 / 100 * 1e6 + 0.5
            ) / 1e6
            assert abs(r.mean_abs_resid_usd - expected_abs) < 1e-9


def test_ann_recall_eval_bounds_and_candidate_consistency(spark):
    rows = q_sim_ann_recall_eval(spark, SF_SMOKE).collect()
    assert len(rows) == 5
    for r in rows:
        assert 0 <= r.n_hits <= ANN_EVAL_K
        assert 0.0 <= r.recall_at_k <= 1.0
        assert abs(r.recall_at_k - math.floor(r.n_hits / ANN_EVAL_K * 1e6 + 0.5) / 1e6) < 1e-12
        # LSH can't return more neighbors than its candidate set holds
        assert r.n_hits <= max(r.n_candidates, 0)


def test_kcore_matches_python_peeling_referee(spark):
    from zonal_datacube_spark.operators.graph import _trade_edges
    from pyspark.sql import Window

    out = {r.nation: r for r in q_graph_kcore(spark, SF_SMOKE).collect()}
    edges = _trade_edges(spark, SF_SMOKE).filter(F.col("src") != F.col("dst"))
    w_rank = Window.orderBy(
        F.col("w").desc(), F.col("src").asc(), F.col("dst").asc()
    )
    cnt = Window.partitionBy()
    cut = (
        edges.select(
            "src",
            "dst",
            F.row_number().over(w_rank).alias("rnk"),
            F.count("*").over(cnt).alias("n_e"),
        )
        .filter(F.col("rnk") * 4 <= F.col("n_e"))
        .select("src", "dst")
        .collect()
    )
    adj: dict[int, set] = collections.defaultdict(set)
    for r in cut:
        adj[r.src].add(r.dst)
        adj[r.dst].add(r.src)
    changed = True
    while changed:
        changed = False
        for node in list(adj):
            if len(adj[node]) < KCORE_K:
                for m in adj[node]:
                    adj[m].discard(node)
                del adj[node]
                changed = True
    from zonal_datacube_spark.sources.loader import load_table

    names = {
        r.n_nationkey: r.n_name
        for r in load_table(spark, SF_SMOKE, "nation").collect()
    }
    expected = {names[n]: len(neigh) for n, neigh in adj.items()}
    assert {k: v.core_degree for k, v in out.items()} == expected
    # every survivor satisfies the core property
    for v in out.values():
        assert v.core_degree >= KCORE_K
