"""Operator invariants (timeseries, stats_ext, aggregations, behavior,
reports and joins keys) beyond the
driver's oracle hash: algebraic identities, numpy differentials for the
moment statistics, and plan shape for the prefix-sweep consumers."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from zonal_datacube_spark.operators.aggregations import q_agg_boolean
from zonal_datacube_spark.operators.behavior import RFM_TILES, q_behavior_rfm
from zonal_datacube_spark.operators.joins import q_join_nearest_event
from zonal_datacube_spark.operators.reports import (
    q_report_order_gap_stats,
    q_report_yoy_growth,
)
from zonal_datacube_spark.operators.stats_ext import (
    q_agg_skew_kurt,
    q_agg_winsorized_mean,
)
from zonal_datacube_spark.operators.timeseries import (
    q_ts_autocorr,
    q_ts_cusum,
    q_ts_sessionize,
)
from zonal_datacube_spark.plans.diagnostics import formatted_plan
from zonal_datacube_spark.sources.loader import load_table


def test_sessionize_accounting(spark):
    row = q_ts_sessionize(spark, SF_SMOKE).first()
    total_events = load_table(spark, SF_SMOKE, "events").count()
    assert row.n_sessions >= row.n_users
    # avg_events * n_sessions reconstructs the event total (6dp rounding)
    assert abs(row.avg_events_per_session * row.n_sessions - total_events) < 0.5
    assert row.max_session_events >= row.avg_events_per_session
    assert row.max_session_seconds >= row.avg_session_seconds


def test_autocorr_in_bounds(spark):
    rows = q_ts_autocorr(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert -1.0 <= r.autocorr_lag1 <= 1.0
        assert r.n_pairs > 0


def test_cusum_brackets_zero(spark):
    # deviations sum to ~0 over the full series, so the cusum path ends
    # near zero: the max excursion is >= ~0 and the min <= ~0
    for r in q_ts_cusum(spark, SF_SMOKE).collect():
        assert r.max_cusum >= -1e-3
        assert r.min_cusum <= 1e-3
        assert r.n_minutes > 0


def test_skew_kurt_matches_numpy(spark):
    got = {r.l_returnflag: r for r in q_agg_skew_kurt(spark, SF_SMOKE).collect()}
    pdf = (
        load_table(spark, SF_SMOKE, "lineitem")
        .select("l_returnflag", "l_extendedprice")
        .toPandas()
    )
    for flag, grp in pdf.groupby("l_returnflag"):
        x = grp["l_extendedprice"].to_numpy()
        d = x - x.mean()
        m2, m3, m4 = (d**2).mean(), (d**3).mean(), (d**4).mean()
        assert abs(got[flag].skewness_g1 - m3 / m2**1.5) < 1e-4
        assert abs(got[flag].excess_kurtosis_g2 - (m4 / m2**2 - 3)) < 1e-4


def test_boolean_counts_bounded(spark):
    for r in q_agg_boolean(spark, SF_SMOKE).collect():
        assert 0 <= r.n_finished <= r.n_orders
        assert isinstance(r.all_priced, bool) and isinstance(r.any_whale, bool)


def test_winsorized_mean_matches_numpy(spark):
    got = {
        r.l_returnflag: r
        for r in q_agg_winsorized_mean(spark, SF_SMOKE).collect()
    }
    pdf = (
        load_table(spark, SF_SMOKE, "lineitem")
        .select("l_returnflag", "l_extendedprice")
        .toPandas()
    )
    for flag, grp in pdf.groupby("l_returnflag"):
        x = grp["l_extendedprice"].to_numpy()
        lo, hi = np.quantile(x, [0.05, 0.95])
        w = np.clip(x, lo, hi)
        assert abs(got[flag].winsorized_mean - w.mean()) < 1e-4
        assert got[flag].n_clipped == int(((x < lo) | (x > hi)).sum())
        # winsorizing a heavy-tail-free uniform barely moves the mean
        assert abs(got[flag].winsorized_mean - got[flag].raw_mean) < 0.05 * abs(
            got[flag].raw_mean
        )


def test_rfm_census_and_marginals(spark):
    rows = q_behavior_rfm(spark, SF_SMOKE).collect()
    n_cust = (
        load_table(spark, SF_SMOKE, "orders")
        .select("o_custkey")
        .distinct()
        .count()
    )
    assert sum(r.n_customers for r in rows) == n_cust
    for dim in ("r_score", "f_score", "m_score"):
        marg = {}
        for r in rows:
            marg[r[dim]] = marg.get(r[dim], 0) + r.n_customers
        assert set(marg) <= set(range(1, RFM_TILES + 1))
        # ANSI ntile: tile populations differ by at most 1
        assert max(marg.values()) - min(marg.values()) <= 1


def test_rfm_plan_has_no_global_ntile(spark):
    plan = formatted_plan(q_behavior_rfm(spark, SF_SMOKE))
    import re

    # the ntile WINDOW FUNCTION must be gone; percentile_approx from
    # the r09 quantile-boundary sweep contains "ntile" as a substring
    assert not re.search(r"\bntile\(", plan.lower())
    assert "_zds_ps_bucket" in plan


def test_yoy_ratio_reconstructs(spark):
    for r in q_report_yoy_growth(spark, SF_SMOKE).collect():
        assert abs(r.yoy_pct - round((r.rev - r.prev_rev) / r.prev_rev, 6)) < 1e-9
        assert r.prev_rev > 0


def test_order_gap_percentile_order(spark):
    for r in q_report_order_gap_stats(spark, SF_SMOKE).collect():
        assert r.median_gap_d <= r.p90_gap_d
        assert r.n_gaps > 0
        assert r.mean_gap_d > 0


def test_nearest_event_distances_positive_and_counts_bounded(spark):
    rows = q_join_nearest_event(spark, SF_SMOKE).collect()
    ev = load_table(spark, SF_SMOKE, "events")
    n_purch = ev.filter(F.col("event_type") == "purchase").count()
    assert rows
    assert sum(r.n_purchases for r in rows) <= n_purch
    for r in rows:
        assert r.nearest_type != "purchase"
        assert r.side in ("before", "after")
        assert r.avg_dist_s >= 0
        assert r.max_dist_s >= r.avg_dist_s


def test_nearest_event_matches_bruteforce_sample(spark):
    """Exhaustive per-purchase check on one user slice: the chosen
    neighbor really is the closest non-purchase, ties to 'before'."""
    ev = (
        load_table(spark, SF_SMOKE, "events")
        .withColumn(
            "eps",
            F.expr(
                "timestampdiff(SECOND,"
                " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
            ),
        )
        .toPandas()
    )
    # recompute globally in pandas, then compare the rollup
    out = {}
    for _, grp in ev.groupby("user_id"):
        g = grp.sort_values(["eps", "event_id"]).reset_index(drop=True)
        for i, row in g.iterrows():
            if row.event_type != "purchase":
                continue
            prev = g.iloc[:i]
            prev = prev[prev.event_type != "purchase"]
            nxt = g.iloc[i + 1:]
            nxt = nxt[nxt.event_type != "purchase"]
            cand = []
            if len(prev):
                p = prev.iloc[-1]
                cand.append((row.eps - p.eps, 0, p.event_type, "before"))
            if len(nxt):
                n = nxt.iloc[0]
                cand.append((n.eps - row.eps, 1, n.event_type, "after"))
            if not cand:
                continue
            d, _, ty, side = min(cand)
            out[(ty, side)] = out.get((ty, side), 0) + 1
    got = {
        (r.nearest_type, r.side): r.n_purchases
        for r in q_join_nearest_event(spark, SF_SMOKE).collect()
    }
    assert got == out


def test_ols_multi_matches_numpy(spark):
    from zonal_datacube_spark.operators.stats_ext import q_agg_ols_multi

    got = {r.l_returnflag: r for r in q_agg_ols_multi(spark, SF_SMOKE).collect()}
    pdf = (
        load_table(spark, SF_SMOKE, "lineitem")
        .select("l_returnflag", "l_extendedprice", "l_quantity", "l_discount")
        .toPandas()
    )
    for flag, grp in pdf.groupby("l_returnflag"):
        X = np.column_stack(
            [np.ones(len(grp)), grp["l_quantity"], grp["l_discount"]]
        )
        y = grp["l_extendedprice"].to_numpy()
        beta, *_ = np.linalg.lstsq(X, y, rcond=None)
        pred = X @ beta
        r2 = 1 - ((y - pred) ** 2).sum() / ((y - y.mean()) ** 2).sum()
        assert abs(got[flag].intercept - beta[0]) < 1e-3
        assert abs(got[flag].beta_qty - beta[1]) < 1e-5
        assert abs(got[flag].beta_disc - beta[2]) < 1e-2  # disc scale ~0.1
        assert abs(got[flag].r2 - r2) < 1e-6


def test_percentile_disc_returns_actual_values(spark):
    from zonal_datacube_spark.operators.aggregations import q_agg_percentile_disc

    rows = q_agg_percentile_disc(spark, SF_SMOKE).collect()
    vals = {
        r.l_returnflag: set()
        for r in rows
    }
    pdf = (
        load_table(spark, SF_SMOKE, "lineitem")
        .select("l_returnflag", "l_quantity")
        .toPandas()
    )
    for flag, grp in pdf.groupby("l_returnflag"):
        vals[flag] = set(grp["l_quantity"])
    for r in rows:
        assert r.p25 <= r.p50 <= r.p75
        for p in (r.p25, r.p50, r.p75):
            assert p in vals[r.l_returnflag]  # discrete: actual data values
