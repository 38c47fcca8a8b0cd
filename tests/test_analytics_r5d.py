"""Operator invariants (warehouse, timeseries and graph keys) beyond the
driver's oracle hash: python referees for time-travel version states and
LOCF carry-forward, the WAP all-audits-pass contract, numpy
assortativity/ACF differentials, and the ACF single-scan plan guard."""

from __future__ import annotations

import re

import numpy as np
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from zonal_datacube_spark.operators.graph import q_graph_assortativity
from zonal_datacube_spark.operators.timeseries import (
    ACF_MAX_LAG,
    LOCF_MOD,
    LOCF_RESIDUE,
    q_ts_acf_multi,
    q_ts_locf_repair,
)
from zonal_datacube_spark.operators.warehouse import (
    TT_PURGE_CUT,
    TT_V1_CUT,
    TT_V2_CUT,
    q_sink_write_audit_publish,
    q_warehouse_time_travel,
)
from zonal_datacube_spark.plans.diagnostics import formatted_plan
from zonal_datacube_spark.sources.loader import load_table


def _cents(x):
    return int(np.floor(x * 100 + 0.5))


def test_time_travel_versions_match_python_referee(spark):
    rows = {r.version: r for r in q_warehouse_time_travel(spark, SF_SMOKE).collect()}
    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderstatus", "o_totalprice"
    ).collect()
    v1c, v2c, purge = (
        np.datetime64(TT_V1_CUT),
        np.datetime64(TT_V2_CUT),
        np.datetime64(TT_PURGE_CUT),
    )
    def d64(r):
        return np.datetime64(r.o_orderdate)

    v0 = [r for r in orders if d64(r) < v1c]
    v1 = [r for r in orders if d64(r) < v2c]
    tomb = {
        r.o_orderkey
        for r in orders
        if r.o_orderstatus == "F" and d64(r) < purge
    }
    v2 = [r for r in orders if r.o_orderkey not in tomb]
    for v, ref, gone in ((0, v0, 0), (1, v1, 0), (2, v2, len(tomb))):
        got = rows[v]
        assert got.n_rows == len(ref), v
        assert got.sum_price_c == sum(_cents(r.o_totalprice) for r in ref), v
        assert got.n_tombstoned == gone, v
    # versions are strictly growing appends until the purge
    assert rows[0].n_rows < rows[1].n_rows
    assert len(tomb) > 0  # the purge actually tombstoned something


def test_wap_publishes_with_clean_ledger(spark):
    rows = {r.check_name: r for r in q_sink_write_audit_publish(spark, SF_SMOKE).collect()}
    assert set(rows) == {
        "1_row_count",
        "2_null_keys",
        "3_nonpos_counts",
        "4_reconcile_total",
        "5_published_rows",
    }
    assert all(r.passed for r in rows.values())
    assert rows["2_null_keys"].observed == 0
    assert rows["3_nonpos_counts"].observed == 0
    assert rows["4_reconcile_total"].observed == 0  # staged total == source
    # published row count equals the staged candidate row count
    assert rows["5_published_rows"].observed == rows["1_row_count"].observed
    ev = load_table(spark, SF_SMOKE, "events")
    n_cells = (
        ev.select(F.date_trunc("day", "ts").alias("d"), "event_type")
        .distinct()
        .count()
    )
    assert rows["1_row_count"].observed == n_cells


def test_locf_matches_python_referee(spark):
    got = {r.event_type: r for r in q_ts_locf_repair(spark, SF_SMOKE).collect()}
    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_type", "user_id", "event_id", "ts", "value"
    ).collect()
    by_user: dict[int, list] = {}
    for r in ev:
        by_user.setdefault(r.user_id, []).append(r)
    ref: dict[str, list[int]] = {}
    for rs in by_user.values():
        rs.sort(key=lambda r: (r.ts, r.event_id))
        carry = None
        for r in rs:
            miss = r.event_id % LOCF_MOD == LOCF_RESIDUE
            v = None if miss else _cents(r.value)
            if v is not None:
                carry = v
            e = ref.setdefault(r.event_type, [0, 0, 0, 0, 0, 0])
            e[0] += 1
            if miss:
                e[1] += 1
                if carry is not None:
                    e[2] += 1
                else:
                    e[3] += 1
            else:
                e[4] += v
            if carry is not None:
                e[5] += carry
    for t, (n, miss, repaired, unrep, sobs, srep) in ref.items():
        g = got[t]
        assert (
            g.n_rows,
            g.n_missing,
            g.n_repaired,
            g.n_unrepairable,
            g.sum_observed_c,
            g.sum_repaired_c,
        ) == (n, miss, repaired, unrep, sobs, srep), t
    # the mask actually bites and most holes are repairable
    assert sum(v[1] for v in ref.values()) > 0
    assert sum(v[2] for v in ref.values()) >= sum(v[3] for v in ref.values())


def test_assortativity_matches_numpy(spark):
    row = q_graph_assortativity(spark, SF_SMOKE).collect()[0]
    li = load_table(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, SF_SMOKE, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, SF_SMOKE, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, SF_SMOKE, "supplier").select("s_suppkey", "s_nationkey")
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .groupBy(cust.c_nationkey.alias("src"), supp.s_nationkey.alias("dst"))
        .agg(F.count("*").alias("w"))
        .collect()
    )
    outw: dict[int, int] = {}
    inw: dict[int, int] = {}
    for e in edges:
        outw[e.src] = outw.get(e.src, 0) + e.w
        inw[e.dst] = inw.get(e.dst, 0) + e.w
    x = np.array([outw[e.src] for e in edges], dtype=float)
    y = np.array([inw[e.dst] for e in edges], dtype=float)
    w = np.array([e.w for e in edges], dtype=float)

    def wpearson(x, y, w):
        W = w.sum()
        cov = W * (w * x * y).sum() - (w * x).sum() * (w * y).sum()
        vx = W * (w * x * x).sum() - (w * x).sum() ** 2
        vy = W * (w * y * y).sum() - (w * y).sum() ** 2
        return cov / np.sqrt(vx * vy)

    assert row.n_edges == len(edges)
    assert row.n_nodes == len(set(outw) | set(inw))
    assert row.w_tot == int(w.sum())
    assert abs(row.r_weighted - wpearson(x, y, w)) < 2e-6
    assert abs(row.r_unweighted - np.corrcoef(x, y)[0, 1]) < 2e-6


def test_acf_matches_numpy_and_scans_once(spark):
    df = q_ts_acf_multi(spark, SF_SMOKE)
    got = {(r.event_type, r.lag): r for r in df.collect()}
    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_type", "ts", "value"
    ).collect()
    series: dict[str, dict[int, list[float]]] = {}
    epoch = np.datetime64("1970-01-01T00:00:00")
    for r in ev:
        epm = int((np.datetime64(r.ts) - epoch) / np.timedelta64(1, "m"))
        series.setdefault(r.event_type, {}).setdefault(epm, []).append(r.value)
    for t, grain in series.items():
        mv = np.array(
            [
                round(float(np.mean(vs)), 6)
                for _, vs in sorted(grain.items())
            ]
        )
        mvi = np.round(mv * 1e6).astype(np.int64).astype(float)
        for k in range(1, ACF_MAX_LAG + 1):
            cur, prev = mvi[k:], mvi[:-k]
            g = got[(t, k)]
            assert g.n_pairs == len(cur), (t, k)
            ref = np.corrcoef(cur, prev)[0, 1]
            assert abs(g.acf - ref) < 2e-6, (t, k, g.acf, ref)
    assert len(got) == len(series) * ACF_MAX_LAG
    # all K lags from one pass over the grain: a single events scan
    plan = formatted_plan(df)
    scan_ids = set(re.findall(r"Scan parquet\s+\((\d+)\)", plan))
    assert len(scan_ids) == 1, plan[:2000]


def test_wap_failing_audit_publishes_nothing(spark, tmp_path):
    """The WAP contract's other half (the fixture always passes, so the
    declared key never exercises it): a batch that fails an audit must
    leave NO manifest and NO published data — consumer-invisible — while
    the ledger records exactly which audit failed."""
    import os

    from zonal_datacube_spark.operators.warehouse import _audit_and_publish

    # poisoned candidate: one null day key (audit 2) and a count of 0
    # (audit 3); totals also fail reconciliation against n_src=999
    cand = spark.createDataFrame(
        [("2024-01-01", "click", 5, 100), (None, "view", 0, 0)],
        "day string, event_type string, n bigint, sum_v_c bigint",
    )
    root = str(tmp_path / "wap")
    os.makedirs(root)
    ledger = {
        r.check_name: (r.observed, r.passed)
        for r in _audit_and_publish(spark, cand, 999, root).collect()
    }
    assert ledger["2_null_keys"] == (1, False)
    assert ledger["3_nonpos_counts"] == (1, False)
    assert ledger["4_reconcile_total"] == (5 - 999, False)
    assert ledger["5_published_rows"] == (0, False)
    # the contract: nothing consumer-visible exists
    assert not os.path.exists(os.path.join(root, "manifest.json"))
    assert not os.path.exists(os.path.join(root, "published"))
    # staging exists (the batch is parked for debugging, not published)
    assert os.path.exists(os.path.join(root, "staging"))


def test_wap_empty_batch_emits_failed_ledger(spark, tmp_path):
    """ADVICE r10: an EMPTY candidate batch used to crash the ledger
    build — F.sum over zero rows returns NULL and int(None) raises —
    instead of emitting a failed ledger. The aggregates are now
    coalesced to 0, so the empty batch reconciles at 0 != n_src, fails
    audit 4, and publishes nothing."""
    import os

    from zonal_datacube_spark.operators.warehouse import _audit_and_publish

    cand = spark.createDataFrame(
        [],
        "day string, event_type string, n bigint, sum_v_c bigint",
    )
    root = str(tmp_path / "wap_empty")
    os.makedirs(root)
    ledger = {
        r.check_name: (r.observed, r.passed)
        for r in _audit_and_publish(spark, cand, 999, root).collect()
    }
    assert ledger["1_row_count"] == (0, True)  # 0 rows >= 0 days
    assert ledger["2_null_keys"] == (0, True)
    assert ledger["3_nonpos_counts"] == (0, True)
    assert ledger["4_reconcile_total"] == (0 - 999, False)
    assert ledger["5_published_rows"] == (0, False)
    assert not os.path.exists(os.path.join(root, "manifest.json"))
    assert not os.path.exists(os.path.join(root, "published"))
