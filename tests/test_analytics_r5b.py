"""Operator invariants (stats_tests, timeseries, geometry, dedup,
behavior, sql_surface and windows keys) beyond the
driver's oracle hash: numpy differentials for the hypothesis tests, a
brute-force python referee for the interval merge and the grid-blocked
nearest-neighbor join, and plan-shape guards for the join strategies."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from zonal_datacube_spark.operators.behavior import q_behavior_stickiness
from zonal_datacube_spark.operators.dedup import q_dedup_cross_source
from zonal_datacube_spark.operators.geometry import NN_CELL_SQ, q_geo_nearest_neighbor
from zonal_datacube_spark.operators.sql_surface import q_sql_pipe_syntax
from zonal_datacube_spark.operators.stats_tests import (
    q_stats_chi2,
    q_stats_mannwhitney,
    q_stats_ttest,
)
from zonal_datacube_spark.operators.timeseries import (
    CORR_WINDOW_MIN,
    q_ts_interval_merge,
    q_ts_rolling_corr,
)
from zonal_datacube_spark.operators.windows import q_window_percent_rank
from zonal_datacube_spark.plans.diagnostics import formatted_plan
from zonal_datacube_spark.sources.loader import load_table


def test_pipe_syntax_matches_dataframe_plan(spark):
    got = {
        (r.l_returnflag, r.l_linestatus): r
        for r in q_sql_pipe_syntax(spark, SF_SMOKE).collect()
    }
    ref = (
        load_table(spark, SF_SMOKE, "lineitem")
        .filter(F.col("l_quantity") > 5)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            (
                F.floor(
                    F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
                    * 10000
                    + F.lit(0.5)
                )
                / 10000
            ).alias("revenue"),
            F.count("*").alias("n_rows"),
        )
        .collect()
    )
    assert len(got) == len(ref) > 0
    for r in ref:
        g = got[(r.l_returnflag, r.l_linestatus)]
        assert g.revenue == r.revenue
        assert g.n_rows == r.n_rows


def _merge_intervals(iv: list[tuple[int, int]]) -> list[tuple[int, int]]:
    out: list[list[int]] = []
    for s, e in sorted(iv):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [(s, e) for s, e in out]


def test_interval_merge_matches_python_referee(spark):
    rows = q_ts_interval_merge(spark, SF_SMOKE).collect()
    assert rows
    pdf = (
        load_table(spark, SF_SMOKE, "events")
        .select(
            "user_id",
            F.expr(
                "timestampdiff(MICROSECOND,"
                " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
            ).alias("s"),
            (60 + 60 * F.expr("event_id % 7")).alias("dur_s"),
        )
        .toPandas()
    )
    pdf["e"] = pdf["s"] + pdf["dur_s"] * 1_000_000
    for r in rows:
        grp = pdf[pdf.user_id == r.user_id]
        merged = _merge_intervals(list(zip(grp["s"], grp["e"])))
        assert r.n_islands == len(merged)
        covered = sum(e - s for s, e in merged) / 1e6
        assert abs(r.covered_s - covered) < 1e-6


def test_ttest_matches_numpy(spark):
    got = {r.event_type: r for r in q_stats_ttest(spark, SF_SMOKE).collect()}
    pdf = (
        load_table(spark, SF_SMOKE, "events")
        .select("event_type", "value")
        .toPandas()
    )
    for ty, r in got.items():
        x = pdf.loc[pdf.event_type == ty, "value"].to_numpy()
        y = pdf.loc[pdf.event_type != ty, "value"].to_numpy()
        v1, v2 = x.var(ddof=1), y.var(ddof=1)
        a, b = v1 / len(x), v2 / len(y)
        t = (x.mean() - y.mean()) / np.sqrt(a + b)
        df = (a + b) ** 2 / (a * a / (len(x) - 1) + b * b / (len(y) - 1))
        assert abs(r.t_stat - t) < 1e-4
        assert abs(r.welch_df - df) < 1e-2
        assert r.n_rows == len(x)


def test_chi2_matches_numpy(spark):
    r = q_stats_chi2(spark, SF_SMOKE).first()
    pdf = (
        load_table(spark, SF_SMOKE, "customer")
        .join(
            load_table(spark, SF_SMOKE, "nation"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_mktsegment", "n_regionkey")
        .toPandas()
    )
    obs = pdf.groupby(["c_mktsegment", "n_regionkey"]).size().unstack(
        fill_value=0
    )
    o = obs.to_numpy().astype(float)
    e = o.sum(1, keepdims=True) * o.sum(0, keepdims=True) / o.sum()
    chi2 = ((o - e) ** 2 / e).sum()
    assert abs(r.chi2 - chi2) < 1e-4
    assert r.dof == (o.shape[0] - 1) * (o.shape[1] - 1)
    v = np.sqrt(chi2 / (o.sum() * min(o.shape[0] - 1, o.shape[1] - 1)))
    assert abs(r.cramers_v - v) < 1e-6
    assert r.n_cells == o.size


def test_mannwhitney_matches_numpy(spark):
    r = q_stats_mannwhitney(spark, SF_SMOKE).first()
    pdf = (
        load_table(spark, SF_SMOKE, "events")
        .filter(F.col("event_type").isin("click", "view"))
        .select("event_type", "value")
        .toPandas()
    )
    x = pdf.loc[pdf.event_type == "click", "value"].to_numpy()
    y = pdf.loc[pdf.event_type == "view", "value"].to_numpy()
    allv = np.concatenate([x, y])
    order = np.argsort(allv, kind="stable")
    ranks = np.empty(len(allv))
    # average ranks over tied runs (scipy.stats.rankdata equivalent)
    sv = allv[order]
    i = 0
    while i < len(sv):
        j = i
        while j < len(sv) and sv[j] == sv[i]:
            j += 1
        ranks[order[i:j]] = (i + j + 1) / 2.0
        i = j
    r1 = ranks[: len(x)].sum()
    u1 = r1 - len(x) * (len(x) + 1) / 2.0
    assert abs(r.u_stat - u1) < 0.51
    n1, n2 = len(x), len(y)
    n = n1 + n2
    _, counts = np.unique(allv, return_counts=True)
    tie = (counts**3 - counts).sum()
    sig = np.sqrt(n1 * n2 / 12.0 * ((n + 1) - tie / (n * (n - 1.0))))
    z = (u1 - n1 * n2 / 2.0) / sig
    assert abs(r.z_stat - z) < 1e-4
    assert r.n_click == n1 and r.n_view == n2


def test_rolling_corr_bounds_and_coverage(spark):
    rows = q_ts_rolling_corr(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert -1.0 <= r.min_corr <= r.avg_corr <= r.max_corr <= 1.0
        assert 0 < r.n_windows <= 1440


def test_stickiness_is_a_ratio(spark):
    rows = q_behavior_stickiness(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 0 < r.stickiness <= 1.0
        assert 1 <= r.n_days <= 7
        # every weekly-active user appears on >= 1 day, so the day-grain
        # distinct counts sum to at least the weekly distinct count
        assert r.wau <= r.sum_dau
        assert r.sum_dau <= r.n_days * r.wau  # dau <= wau per day


def test_cross_source_pairs_ordered_and_positive(spark):
    rows = q_dedup_cross_source(spark, SF_SMOKE).collect()
    assert rows
    last = None
    for r in rows:
        assert r.src_a < r.src_b
        assert r.n_shared > 0
        if last is not None:
            assert r.n_shared <= last
        last = r.n_shared


def test_nearest_neighbor_matches_numpy_bruteforce(spark):
    got = {
        r.a_label: r for r in q_geo_nearest_neighbor(spark, SF_SMOKE).collect()
    }
    pdf = (
        load_table(spark, SF_SMOKE, "embeddings")
        .select(
            "vec_id",
            "label",
            F.element_at("embedding", 1).cast("double").alias("x"),
            F.element_at("embedding", 2).cast("double").alias("y"),
        )
        .toPandas()
    )
    pr = pdf[pdf.label <= 4]
    ba = pdf[pdf.label >= 5]
    d = np.sqrt(
        (pr.x.to_numpy()[:, None] - ba.x.to_numpy()[None, :]) ** 2
        + (pr.y.to_numpy()[:, None] - ba.y.to_numpy()[None, :]) ** 2
    )
    nn = d.min(axis=1)
    for label, r in got.items():
        mask = (pr.label == label).to_numpy()
        assert r.n_probes == int(mask.sum())
        assert abs(r.avg_nn_dist - nn[mask].mean()) < 1e-5
        assert abs(r.max_nn_dist - nn[mask].max()) < 1e-6
    # the grid certifies (nearly) every probe at fixture density — the
    # brute-force fallback is the exactness escape hatch, not the hot path
    assert (nn**2 < NN_CELL_SQ).mean() > 0.95


def test_percent_rank_monotone_within_nation(spark):
    rows = q_window_percent_rank(spark, SF_SMOKE).collect()
    assert rows
    by_nation: dict[str, list] = {}
    for r in rows:
        assert 0.0 <= r.pct_rank <= 1.0
        assert 0.0 < r.cume_dist <= 1.0
        by_nation.setdefault(r.n_name, []).append(r)
    # both functions rank over the SAME (acctbal, suppkey) order, so
    # sorting by one must leave the other non-decreasing — and with the
    # unique suppkey tiebreak all pct_rank values are distinct
    for nation, rs in by_nation.items():
        rs.sort(key=lambda r: r.pct_rank)
        cds = [r.cume_dist for r in rs]
        assert cds == sorted(cds), nation
        prs = [r.pct_rank for r in rs]
        assert len(set(prs)) == len(prs), nation


def test_nn_and_cross_source_plans_avoid_cartesian(spark):
    for fn in (q_geo_nearest_neighbor, q_dedup_cross_source):
        plan = formatted_plan(fn(spark, SF_SMOKE))
        assert "CartesianProduct" not in plan, fn.__name__


def test_rolling_corr_window_constant():
    assert CORR_WINDOW_MIN == 60


def test_ttest_degenerate_single_type_yields_null_not_crash(spark, tmp_path):
    """A single-type corpus makes the complement group empty (n2 = 0) —
    the nullif guards must yield NULL statistics, not an ANSI
    DIVIDE_BY_ZERO crash (and the oracle's identical nullif placement
    keeps the engines aligned)."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "event_id": [1, 2, 3],
            "ts": pd.to_datetime(["2024-01-01", "2024-01-02", "2024-01-03"]),
            "user_id": [1, 2, 1],
            "event_type": ["click", "click", "click"],
            "value": [1.0, 2.0, 4.0],
            "props": ['{"k": 1}'] * 3,
        }
    )
    pdf.to_parquet(tmp_path / "events.parquet")
    rows = q_stats_ttest(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.n_rows == 3
    assert r.mean_v is not None
    assert r.rest_mean is None and r.t_stat is None and r.welch_df is None
