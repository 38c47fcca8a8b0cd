"""Third-referee tests, round 3 (VERDICT r11 next-round #6) — for the
most-mirrored survivors without an independent check:

- q_stream_outer_join: the engine and the oracle share the SAME
  deterministic-region cutoff algebra (max_ts − join bound − watermark −
  margin), so a shared off-by-one would survive both. The referee
  enumerates the expected left-outer rows from the RAW fixture events
  with a per-view python interval scan and its own cutoff arithmetic —
  no Spark joins, no streaming engine.
- q_behavior_window_funnel: the oracle mirrors the three conditional-min
  windows; the referee replays each user's event list imperatively.
- q_agg_ols_multi: engine and oracle both spell the closed-form normal
  equations; the referee fits with numpy's SVD-based lstsq — a different
  algorithm entirely.
- q_sim_ivfpq (rows-only key): exact brute-force referee — returned
  scores must equal exact numpy dots, ranking must follow them, and
  recall is floored both against the FULL corpus and against the
  probed-cell candidate set derived by an independent numpy
  re-implementation of the deterministic coarse-quantizer spec.

Exact-integer outputs compare exactly; 6dp doubles compare against the
referee's value within 1.1e-6 (the key's rounding half-step plus FP
dust)."""

from __future__ import annotations

import math
from collections import defaultdict
from datetime import timedelta

import numpy as np
import pytest

from tests.conftest import SF_SMOKE
from zonal_datacube_spark.registry import all_queries
from zonal_datacube_spark.sources.loader import load_table


def _g6(x: float) -> float:
    return math.floor(x * 1_000_000 + 0.5) / 1_000_000


# --------------------------------------------------------------------------
# q_stream_outer_join — python interval scan with independent cutoff
# --------------------------------------------------------------------------


def test_stream_outer_join_matches_python_interval_scan(spark):
    ev = load_table(spark, SF_SMOKE, "events").select(
        "user_id", "event_id", "event_type", "ts"
    ).collect()
    views = [(r.user_id, r.event_id, r.ts) for r in ev if r.event_type == "view"]
    purch = defaultdict(list)
    for r in ev:
        if r.event_type == "purchase":
            purch[r.user_id].append(r.ts)
    # deterministic region: strictly before max_ts − (1h join bound +
    # 1h watermark + 1s margin) — recomputed here from raw rows
    cut = max(r.ts for r in ev) - timedelta(hours=2, seconds=1)
    exp = defaultdict(lambda: [0, set(), 0])  # day -> [n_rows, views, unmatched]
    for user, view_id, v_ts in views:
        if not v_ts < cut:
            continue
        matches = [
            p for p in purch.get(user, ())
            if v_ts <= p < v_ts + timedelta(hours=1)
        ]
        day = v_ts.strftime("%Y-%m-%d")
        exp[day][0] += max(1, len(matches))
        exp[day][1].add(view_id)
        if not matches:
            exp[day][2] += 1
    got = {
        r.day: (r.n_rows, r.n_views, r.n_unmatched)
        for r in all_queries()["q_stream_outer_join"](spark, SF_SMOKE).collect()
    }
    want = {d: (v[0], len(v[1]), v[2]) for d, v in exp.items()}
    assert got == want


# --------------------------------------------------------------------------
# q_behavior_window_funnel — imperative per-user replay
# --------------------------------------------------------------------------


def test_window_funnel_matches_python_replay(spark):
    from zonal_datacube_spark.operators.behavior import FUNNEL_STEPS, FUNNEL_WINDOW_US

    ev = load_table(spark, SF_SMOKE, "events").selectExpr(
        "user_id",
        "event_type",
        "timestampdiff(MICROSECOND, TIMESTAMP '1970-01-01 00:00:00', ts) AS us",
    ).collect()
    by_user = defaultdict(list)
    for r in ev:
        by_user[r.user_id].append((r.event_type, r.us))
    s1, s2, s3 = FUNNEL_STEPS
    depth_census: dict[int, int] = defaultdict(int)
    for user, events in by_user.items():
        t1 = min((us for et, us in events if et == s1), default=None)
        t2 = (
            min(
                (
                    us
                    for et, us in events
                    if et == s2 and t1 < us <= t1 + FUNNEL_WINDOW_US
                ),
                default=None,
            )
            if t1 is not None
            else None
        )
        t3 = (
            min(
                (
                    us
                    for et, us in events
                    if et == s3 and t2 < us <= t1 + FUNNEL_WINDOW_US
                ),
                default=None,
            )
            if t2 is not None
            else None
        )
        depth = 3 if t3 is not None else 2 if t2 is not None else 1 if t1 is not None else 0
        depth_census[depth] += 1
    total = sum(depth_census.values())
    got = all_queries()["q_behavior_window_funnel"](spark, SF_SMOKE).collect()
    assert {r.depth: r.n_users for r in got} == dict(depth_census)
    for r in got:
        assert abs(r.user_share - _g6(depth_census[r.depth] / total)) <= 1.1e-6


# --------------------------------------------------------------------------
# q_agg_ols_multi — numpy SVD lstsq vs closed-form normal equations
# --------------------------------------------------------------------------


def test_ols_multi_matches_numpy_lstsq(spark):
    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_quantity", "l_discount"
    ).collect()
    groups = defaultdict(list)
    for r in li:
        groups[r.l_returnflag].append(
            (float(r.l_extendedprice), float(r.l_quantity), float(r.l_discount))
        )
    got = {
        r.l_returnflag: r
        for r in all_queries()["q_agg_ols_multi"](spark, SF_SMOKE).collect()
    }
    assert set(got) == set(groups)
    for flag, rows in groups.items():
        y = np.array([t[0] for t in rows])
        X = np.column_stack(
            [np.ones(len(rows)), [t[1] for t in rows], [t[2] for t in rows]]
        )
        beta, *_ = np.linalg.lstsq(X, y, rcond=None)
        resid = y - X @ beta
        syy = float(((y - y.mean()) ** 2).sum())
        r2 = 1 - float((resid**2).sum()) / syy
        g = got[flag]
        assert g.n_rows == len(rows)
        assert abs(g.intercept - beta[0]) <= 1.1e-6
        assert abs(g.beta_qty - beta[1]) <= 1.1e-6
        assert abs(g.beta_disc - beta[2]) <= 1.1e-6
        assert abs(g.r2 - r2) <= 1.1e-6


# --------------------------------------------------------------------------
# q_sim_ivfpq — exact brute-force recall + score/ordering referee
# --------------------------------------------------------------------------

FULL_RECALL_FLOOR = 0.6  # measured 0.73 on the fixture (3-of-8-cell probe)
PROBED_RECALL_FLOOR = 0.6  # measured 0.80 (ADC shortlist is approximate)


def _normalize(M: np.ndarray) -> np.ndarray:
    n = np.sqrt((M * M).sum(-1, keepdims=True))
    n[n == 0] = 1
    return M / n


def test_ivfpq_scores_ordering_and_bruteforce_recall(spark):
    res = all_queries()["q_sim_ivfpq"](spark, SF_SMOKE).collect()
    rows = sorted(
        load_table(spark, SF_SMOKE, "embeddings").collect(),
        key=lambda r: r.vec_id,
    )
    ids = [r.vec_id for r in rows]
    X = np.array([list(r.embedding) for r in rows])
    id2idx = {v: i for i, v in enumerate(ids)}

    by_probe = defaultdict(list)
    for r in res:
        by_probe[r.probe_id].append(r)
    assert by_probe, "ivfpq returned no rows"

    # independent numpy re-derivation of the coarse quantizer spec
    # (seeds = first 8 by vec_id, ONE Lloyd iteration, spherical
    # normalization, first-argmax tie-break) — same spec as
    # functions/kmeans.kmeans_fit, different implementation
    k, n_probe = 8, 3
    seeds = X[:k].copy()
    sims = X @ _normalize(seeds).T
    assign0 = sims.argmax(1)
    cent = np.array(
        [
            X[assign0 == c].mean(0) if (assign0 == c).any() else seeds[c]
            for c in range(k)
        ]
    )
    cent = _normalize(cent)
    final_assign = (X @ cent.T).argmax(1)

    full_recalls, probed_recalls = [], []
    for pid, rws in by_probe.items():
        q = X[id2idx[pid]]
        kk = len(rws)
        # (a) exact score column + ranking by it, no self-match
        for r in sorted(rws, key=lambda r: r.rn):
            assert r.neighbor_id != pid
            exact = float(q @ X[id2idx[r.neighbor_id]])
            assert abs(round(exact, 6) - r.score) < 1e-9
        ordered = sorted(rws, key=lambda r: r.rn)
        assert [r.rn for r in ordered] == list(range(1, kk + 1))
        assert all(
            (a.score, -a.neighbor_id) >= (b.score, -b.neighbor_id)
            for a, b in zip(ordered, ordered[1:])
        )
        # (b) recall vs the full-corpus exact top-k
        exact_all = sorted(
            ((float(q @ X[i]), ids[i]) for i in range(len(ids)) if ids[i] != pid),
            key=lambda t: (-t[0], t[1]),
        )
        true_full = {v for _, v in exact_all[:kk]}
        got_ids = {r.neighbor_id for r in rws}
        full_recalls.append(len(true_full & got_ids) / kk)
        # (c) recall vs the probed-cell exact top-k (the IVF contract:
        # quality inside the probed cells is the index's to deliver)
        c_scores = np.floor((cent @ q) * 1e9 + 0.5) / 1e9
        probed = sorted(range(k), key=lambda c: (-c_scores[c], c))[:n_probe]
        members = [
            i
            for i in range(len(ids))
            if final_assign[i] in probed and ids[i] != pid
        ]
        exact_probed = sorted(
            ((float(q @ X[i]), ids[i]) for i in members),
            key=lambda t: (-t[0], t[1]),
        )
        true_probed = {v for _, v in exact_probed[:kk]}
        probed_recalls.append(len(true_probed & got_ids) / kk)

    assert sum(full_recalls) / len(full_recalls) >= FULL_RECALL_FLOOR
    assert sum(probed_recalls) / len(probed_recalls) >= PROBED_RECALL_FLOOR
