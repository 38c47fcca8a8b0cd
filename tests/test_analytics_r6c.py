"""Round-6 third wave: independent referees (pure numpy/pandas, no
Spark, no shared code path) for the rank-correlation statistics, the
distributed PCA spectrum, the windowFunnel, and Holt smoothing — plus
physical-plan gates locking the scale shapes the docstrings claim."""

from __future__ import annotations

import math
import re

import numpy as np
import pandas as pd
import pytest

from tests.conftest import SF_SMOKE
from zonal_datacube_spark.plans.diagnostics import formatted_plan
from zonal_datacube_spark.registry import all_queries

Q = all_queries()


def _events(sf_dir: str = SF_SMOKE) -> pd.DataFrame:
    return pd.read_parquet(f"{sf_dir}/events.parquet")


def _daily_ref(sf_dir: str = SF_SMOKE) -> pd.DataFrame:
    ev = _events(sf_dir)
    d = (ev["ts"].dt.floor("D") - pd.Timestamp("1970-01-01")).dt.days
    cents = np.floor(ev["value"].to_numpy() * 100 + 0.5).astype(np.int64)
    g = (
        pd.DataFrame(
            {"event_type": ev["event_type"], "d": d, "c": cents}
        )
        .groupby(["event_type", "d"], as_index=False)
        .agg(nd=("c", "size"), sd=("c", "sum"))
    )
    return g


def _g6(x: float) -> float:
    return math.floor(x * 1_000_000 + 0.5) / 1_000_000


# --------------------------------------------------------------------------
# Spearman
# --------------------------------------------------------------------------


def test_spearman_matches_pandas_average_ranks(spark):
    li = pd.read_parquet(f"{SF_SMOKE}/lineitem.parquet")[
        ["l_returnflag", "l_quantity", "l_extendedprice"]
    ]
    got = {
        r["l_returnflag"]: r
        for r in Q["q_stats_spearman"](spark, SF_SMOKE).collect()
    }
    for flag, grp in li.groupby("l_returnflag"):
        rx = grp["l_quantity"].rank(method="average").to_numpy()
        ry = grp["l_extendedprice"].rank(method="average").to_numpy()
        rho = np.corrcoef(rx, ry)[0, 1]
        assert got[flag]["n_rows"] == len(grp)
        assert abs(got[flag]["spearman_rho"] - rho) <= 1e-6, flag


def test_spearman_rank_attachment_rides_the_prefix_sweep(spark):
    plan = formatted_plan(Q["q_stats_spearman"](spark, SF_SMOKE))
    assert "_zds_ps_bucket" in plan
    # no enum-partition window over a data-scaled table: every
    # windowspec on the rank path is (flag, bucket)-keyed
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs
    for s in specs:
        assert "_zds_ps_bucket" in s, s
    assert "CartesianProduct" not in plan


def test_spearman_single_stacked_sweep(spark):
    """Round-10 rewrite (VERDICT r09 next-round #3), re-shaped r13: both
    variables' ranks come from ONE stacked prefix sweep behind a
    persisted intermediate, and since r13 the sweep's INPUT is the union
    of the two cached canonical grains (functions/grain_cache.py) rather
    than a stack() over the fact table — the rank path is entirely
    grain-side, so the plan must show the shared InMemoryTableScans and
    NO stack() grain re-scan, and the only row-level fact access is the
    moment fold's price-grain partial aggregate."""
    from zonal_datacube_spark.functions import grain_cache

    grain_cache._GRAINS.clear()
    df = Q["q_stats_spearman"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "stack" not in plan, "rank sweep re-scans the fact table"
    assert "InMemoryTableScan" in plan, "cached grains / sweep not shared"
    # exactly three rows out, exact integer moments upstream
    assert [r["l_returnflag"] for r in df.orderBy("l_returnflag").collect()] == [
        "A", "N", "R"
    ]


# --------------------------------------------------------------------------
# Kendall
# --------------------------------------------------------------------------


def test_kendall_matches_bruteforce_pairs(spark):
    daily = _daily_ref()
    got = {
        r["event_type"]: r
        for r in Q["q_stats_kendall"](spark, SF_SMOKE).collect()
    }
    for et, grp in daily.groupby("event_type"):
        x = grp.sort_values("d")["nd"].to_numpy()
        y = grp.sort_values("d")["sd"].to_numpy()
        n = len(x)
        c = d = tx = ty = 0
        for i in range(n):
            for j in range(i + 1, n):
                dx, dy = x[j] - x[i], y[j] - y[i]
                if dx == 0:
                    tx += 1
                if dy == 0:
                    ty += 1
                if dx * dy > 0:
                    c += 1
                elif dx * dy < 0 and dx != 0 and dy != 0:
                    d += 1
        n0 = n * (n - 1) // 2
        row = got[et]
        assert row["n_pairs"] == n0
        assert row["concordant"] == c
        assert row["discordant"] == d
        tau = (c - d) / (math.sqrt(n0 - tx) * math.sqrt(n0 - ty))
        assert abs(row["tau_b"] - tau) <= 1e-6, et


def test_kendall_pairs_broadcast_the_bounded_day_grain(spark):
    plan = formatted_plan(Q["q_stats_kendall"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


# --------------------------------------------------------------------------
# PCA spectrum
# --------------------------------------------------------------------------


def test_pca_var_matches_direct_numpy_spectrum(spark):
    emb = pd.read_parquet(f"{SF_SMOKE}/embeddings.parquet")
    x = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    q = np.floor(x * 1_000_000 + 0.5).astype(np.int64)
    n = len(q)
    gram = (q.T @ q).astype(np.float64)
    mu = q.sum(axis=0).astype(np.float64) / n
    cov = gram / n - np.outer(mu, mu)
    evals = np.linalg.eigvalsh(cov)[::-1]
    total = float(evals.sum())
    rows = sorted(
        Q["q_embed_pca_var"](spark, SF_SMOKE).collect(), key=lambda r: r["component"]
    )
    assert [r["component"] for r in rows] == list(range(1, 9))
    cum = 0.0
    for r in rows:
        share = float(evals[r["component"] - 1]) / total
        cum += share
        assert r["n_vectors"] == n and r["dim"] == 64
        # identical integer Gram → identical covariance matrix → the
        # same eigvalsh call: shares agree to the rounding grid
        assert abs(r["var_share"] - _g6(share)) <= 1e-9
        assert abs(r["cum_share"] - _g6(cum)) <= 1e-9


def test_pca_var_shares_are_a_valid_spectrum(spark):
    rows = sorted(
        Q["q_embed_pca_var"](spark, SF_SMOKE).collect(), key=lambda r: r["component"]
    )
    shares = [r["var_share"] for r in rows]
    assert all(s >= -1e-9 for s in shares)
    assert all(shares[i] >= shares[i + 1] - 1e-9 for i in range(7))
    assert 0 < sum(shares) <= 1 + 1e-6


# --------------------------------------------------------------------------
# windowFunnel
# --------------------------------------------------------------------------


def _funnel_ref(sf_dir: str = SF_SMOKE) -> dict[int, int]:
    ev = _events(sf_dir)
    us = (
        (ev["ts"] - pd.Timestamp("1970-01-01")) // pd.Timedelta("1us")
    ).astype("int64")
    w = 72 * 3600 * 1_000_000
    depths: dict[int, int] = {}
    df = pd.DataFrame(
        {"u": ev["user_id"], "t": ev["event_type"], "us": us}
    )
    for _, grp in df.groupby("u"):
        views = grp.loc[grp["t"] == "view", "us"]
        t1 = views.min() if len(views) else None
        depth = 0
        t2 = t3 = None
        if t1 is not None:
            depth = 1
            clicks = grp.loc[
                (grp["t"] == "click")
                & (grp["us"] > t1)
                & (grp["us"] <= t1 + w),
                "us",
            ]
            t2 = clicks.min() if len(clicks) else None
        if t2 is not None:
            depth = 2
            buys = grp.loc[
                (grp["t"] == "purchase")
                & (grp["us"] > t2)
                & (grp["us"] <= t1 + w),
                "us",
            ]
            t3 = buys.min() if len(buys) else None
        if t3 is not None:
            depth = 3
        depths[depth] = depths.get(depth, 0) + 1
    return depths


def test_window_funnel_matches_bruteforce(spark):
    want = _funnel_ref()
    rows = Q["q_behavior_window_funnel"](spark, SF_SMOKE).collect()
    got = {r["depth"]: r["n_users"] for r in rows}
    assert got == want
    total = sum(want.values())
    for r in rows:
        assert abs(r["user_share"] - _g6(r["n_users"] / total)) <= 1e-9


def test_window_funnel_windows_are_user_keyed_single_exchange(spark):
    plan = formatted_plan(Q["q_behavior_window_funnel"](spark, SF_SMOKE))
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    user_specs = [s for s in specs if "user_id" in s]
    assert len(user_specs) >= 3  # the three conditional-min windows
    # the three stacked windows + the per-user rollup share ONE
    # user_id hash partitioning: exactly one exchange carries user_id
    assert plan.count("hashpartitioning(user_id") == 1, plan
    assert "CartesianProduct" not in plan


# --------------------------------------------------------------------------
# Holt
# --------------------------------------------------------------------------


def test_holt_matches_sequential_reference(spark):
    daily = _daily_ref()
    got = {
        r["event_type"]: r
        for r in Q["q_ts_holt"](spark, SF_SMOKE).collect()
    }
    for et, grp in daily.groupby("event_type"):
        x = grp.sort_values("d")["sd"].to_numpy().astype(np.float64)
        s, b, aem = float(x[0]), 0.0, 0
        for t in range(1, len(x)):
            xt = float(x[t])
            err = xt - (s + b)
            aem += int(math.floor(abs(err) * 1_000_000 + 0.5))
            s_new = 0.5 * (xt + (s + b))
            b = 0.5 * ((s_new - s) + b)
            s = s_new
        row = got[et]
        assert row["n_days"] == len(x)
        assert row["level_usd"] == _g6(s / 100)
        assert row["trend_usd"] == _g6(b / 100)
        assert row["forecast_usd"] == _g6((s + b) / 100)
        assert row["mae_usd"] == _g6(
            aem / (len(x) - 1) / 1_000_000 / 100
        )


def test_holt_is_a_deliberate_grouped_pandas_plan(spark):
    plan = formatted_plan(Q["q_ts_holt"](spark, SF_SMOKE))
    assert "FlatMapGroupsInPandas" in plan


# --------------------------------------------------------------------------
# named WINDOW clause
# --------------------------------------------------------------------------


def test_named_window_top2_and_integer_columns(spark):
    rows = Q["q_sql_named_window"](spark, SF_SMOKE).collect()
    assert rows
    per_cust: dict[int, list] = {}
    for r in rows:
        assert r["price_rank"] in (1, 2)
        per_cust.setdefault(r["o_custkey"], []).append(r)
    orders = pd.read_parquet(f"{SF_SMOKE}/orders.parquet")
    with_2plus = (
        orders.groupby("o_custkey").size().loc[lambda s: s >= 2].index
    )
    for c in with_2plus:
        assert len(per_cust[c]) == 2, c


def test_named_window_partitions_on_the_data_scaled_key(spark):
    plan = formatted_plan(Q["q_sql_named_window"](spark, SF_SMOKE))
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs
    for s in specs:
        assert "o_custkey" in s, s
    assert "CartesianProduct" not in plan


def test_spearman_fold_with_nulls_matches_pandas(spark):
    """The fixture has no NULLs, so this engineers them: rows with a
    NULL quantity or price must drop out of the statistic's row
    universe (the oracle's double inner join) while still shaping the
    OTHER variable's tie-averaged ranks exactly as the single-column
    grain sees them. Referee = pandas average ranks over the non-null
    row universe."""
    from zonal_datacube_spark.operators.stats_tests import _spearman_fold

    rows = []
    rng_vals = [
        (1.0, 10.0), (2.0, 20.0), (2.0, 30.0), (3.0, 30.0), (4.0, 5.0),
        (5.0, 50.0), (1.0, 10.0), (None, 40.0), (6.0, None), (None, None),
        (7.0, 25.0), (2.0, 20.0),
    ]
    for flag in ("A", "B"):
        for q, p in rng_vals:
            rows.append((flag, q, p))
    li = spark.createDataFrame(
        rows, "l_returnflag string, l_quantity double, l_extendedprice double"
    )
    got = {
        r["l_returnflag"]: r for r in _spearman_fold(li).collect()
    }
    pdf = pd.DataFrame(
        rows, columns=["l_returnflag", "l_quantity", "l_extendedprice"]
    ).dropna()
    for flag, grp in pdf.groupby("l_returnflag"):
        # IMPORTANT: pandas ranks computed over the JOINED universe would
        # be wrong — the grain ranks come from each column's full
        # non-null population. Reproduce that: rank within the per-column
        # non-null sets, then restrict to the joined rows.
        full = pd.DataFrame(
            [r for r in rows if r[0] == flag],
            columns=["f", "q", "p"],
        )
        qr = full["q"].dropna().rank(method="average")
        pr = full["p"].dropna().rank(method="average")
        sub = full.dropna()
        rx = qr.loc[sub.index].to_numpy()
        ry = pr.loc[sub.index].to_numpy()
        rho = np.corrcoef(rx, ry)[0, 1]
        assert got[flag]["n_rows"] == len(sub)
        assert abs(got[flag]["spearman_rho"] - rho) <= 1e-6, flag
