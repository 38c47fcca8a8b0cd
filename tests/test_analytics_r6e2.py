"""Round-6 fifth wave: referees for the tolerance as-of join, the
sketch error eval (cross-run determinism + exact-side pin), and
RAKE-lite keyword extraction, with plan gates."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import numpy as np
import pandas as pd

from tests.conftest import SF_SMOKE
from zonal_datacube_spark.plans.diagnostics import formatted_plan
from zonal_datacube_spark.registry import all_queries

Q = all_queries()

TOL_US = 48 * 3600 * 1_000_000


def _g6(x: float) -> float:
    return math.floor(x * 1_000_000 + 0.5) / 1_000_000


def test_asof_tolerance_matches_bruteforce(spark):
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    ev["us"] = (
        (ev["ts"] - pd.Timestamp("1970-01-01")) // pd.Timedelta("1us")
    ).astype("int64")
    want = {}
    for _, grp in ev.groupby("user_id"):
        signups = sorted(grp.loc[grp["event_type"] == "signup", "us"])
        for _, r in grp[grp["event_type"] != "signup"].iterrows():
            anchors = [s for s in signups if s <= r["us"]]
            if anchors and r["us"] - anchors[-1] <= TOL_US:
                want[int(r["event_id"])] = int(r["us"] - anchors[-1])
    rows = Q["q_join_asof_tolerance"](spark, SF_SMOKE).collect()
    got = {r["event_id"]: r["lag_us"] for r in rows}
    assert got == want


def test_asof_tolerance_is_window_carry_not_self_join(spark):
    plan = formatted_plan(Q["q_join_asof_tolerance"](spark, SF_SMOKE))
    assert plan.count("hashpartitioning(user_id") == 1, plan
    for join_node in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert join_node not in plan, join_node


def test_sketch_eval_exact_side_and_determinism(spark):
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    rows1 = Q["q_agg_sketch_error_eval"](spark, SF_SMOKE).collect()
    rows2 = Q["q_agg_sketch_error_eval"](spark, SF_SMOKE).collect()
    # HLL/KLL merges commute: the estimates are deterministic run-to-run
    assert sorted(map(tuple, rows1)) == sorted(map(tuple, rows2))
    got = {r["event_type"]: r for r in rows1}
    for et, grp in ev.groupby("event_type"):
        r = got[et]
        exact = grp["user_id"].nunique()
        assert r["distinct_exact"] == exact
        assert abs(r["distinct_approx"] - exact) / exact <= 0.2
        assert r["distinct_rel_err"] == _g6(
            abs(r["distinct_approx"] - exact) / exact
        )
        p50 = float(
            np.quantile(grp["value"].to_numpy(), 0.5, method="linear")
        )
        assert abs(r["p50_exact"] - p50) <= 1e-6
        # the KLL-style sketch at accuracy 10k is exact at fixture scale
        lo, hi = grp["value"].min(), grp["value"].max()
        assert lo <= r["p50_approx"] <= hi


def test_keyword_rake_matches_bruteforce(spark):
    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")
    counts: Counter = Counter()
    doc_toks = []
    for _, r in docs.iterrows():
        toks = r["text"].lower().split(" ")
        counts.update(toks)
        doc_toks.append(toks)
    stop = {
        t
        for t, _ in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[
            :10
        ]
    }
    freq: Counter = Counter()
    degree: defaultdict = defaultdict(int)
    for toks in doc_toks:
        phrase: list[str] = []
        for tok in toks + ["\x00stop"]:
            if tok in stop or tok == "\x00stop":
                for w in phrase:
                    freq[w] += 1
                    degree[w] += len(phrase)
                phrase = []
            else:
                phrase.append(tok)
    scored = sorted(
        ((degree[w] / freq[w], w) for w in freq),
        key=lambda t: (-t[0], t[1]),
    )[:15]
    rows = Q["q_text_keyword_rake"](spark, SF_SMOKE).collect()
    assert len(rows) == 15
    for r, (score, w) in zip(rows, scored):
        assert r["tok"] == w
        assert r["freq"] == freq[w]
        assert r["degree"] == degree[w]
        assert r["rake_score"] == _g6(score)


def test_keyword_rake_rankings_are_heaps(spark):
    plan = formatted_plan(Q["q_text_keyword_rake"](spark, SF_SMOKE))
    # stopword selection AND the final top-15 are TakeOrdered heaps
    assert plan.count("TakeOrderedAndProject") >= 2, plan
    assert "CartesianProduct" not in plan
