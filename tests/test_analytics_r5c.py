"""Operator invariants (stats_tests, stats_ext, text and pipeline_ext
keys) beyond the
driver's oracle hash: numpy differentials for KS / ANOVA / the
correlation matrix, python referees for the funnel classification and
tokenizer fertility, conservation laws for the mixture allocation, and a
single-scan plan guard for the one-pass correlation matrix."""

from __future__ import annotations

import re

import numpy as np
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from zonal_datacube_spark.operators.pipeline_ext import q_data_mixture_weights
from zonal_datacube_spark.operators.stats_ext import q_stats_corr_matrix
from zonal_datacube_spark.operators.stats_tests import (
    KS_A,
    KS_B,
    q_stats_anova,
    q_stats_ks_test,
)
from zonal_datacube_spark.operators.text import (
    FUNNEL_MIN_TOKENS,
    q_text_filter_funnel,
    q_tokenizer_fertility,
)
from zonal_datacube_spark.plans.diagnostics import formatted_plan
from zonal_datacube_spark.sources.loader import load_table


def _cents(values):
    return np.floor(np.asarray(values, dtype=float) * 100 + 0.5).astype(
        np.int64
    )


def test_ks_matches_numpy_ecdf(spark):
    row = q_stats_ks_test(spark, SF_SMOKE).collect()[0]
    ev = (
        load_table(spark, SF_SMOKE, "events")
        .filter(F.col("event_type").isin(KS_A, KS_B))
        .select("event_type", "value")
        .collect()
    )
    a = np.sort(_cents([r.value for r in ev if r.event_type == KS_A]))
    b = np.sort(_cents([r.value for r in ev if r.event_type == KS_B]))
    grid = np.unique(np.concatenate([a, b]))
    ca = np.searchsorted(a, grid, side="right")
    cb = np.searchsorted(b, grid, side="right")
    ds = np.abs(ca * len(b) - cb * len(a))
    assert row.n1 == len(a) and row.n2 == len(b)
    assert row.d_scaled == ds.max()
    assert abs(row.d_stat - ds.max() / (len(a) * len(b))) < 2e-6
    # argmax location: the smallest grain value attaining the max
    assert abs(row.ks_at_value - grid[np.argmax(ds)] / 100.0) < 1e-9


def test_anova_matches_numpy_closed_form(spark):
    row = q_stats_anova(spark, SF_SMOKE).collect()[0]
    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_type", "value"
    ).collect()
    groups = {}
    for r in ev:
        groups.setdefault(r.event_type, []).append(r.value)
    arrs = [_cents(v).astype(float) for v in groups.values()]
    allv = np.concatenate(arrs)
    grand = allv.mean()
    ssb = sum(len(g) * (g.mean() - grand) ** 2 for g in arrs)
    ssw = sum(((g - g.mean()) ** 2).sum() for g in arrs)
    k, n = len(arrs), len(allv)
    f_ref = (ssb / (k - 1)) / (ssw / (n - k))
    assert row.k == k and row.n_total == n
    assert abs(row.f_stat - f_ref) < 1e-4 * max(1.0, abs(f_ref))
    assert abs(row.eta_sq - ssb / (ssb + ssw)) < 1e-6


def test_corr_matrix_matches_numpy_and_scans_once(spark):
    df = q_stats_corr_matrix(spark, SF_SMOKE)
    rows = {(r.m_x, r.m_y): r.pearson_r for r in df.collect()}
    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_quantity", "l_extendedprice", "l_discount", "l_tax"
    ).collect()
    cols = {
        "quantity": _cents([r.l_quantity for r in li]) // 100,
        "price": _cents([r.l_extendedprice for r in li]),
        "discount": _cents([r.l_discount for r in li]),
        "tax": _cents([r.l_tax for r in li]),
    }
    # quantity grid-scale is 1, not 100 — recompute directly
    cols["quantity"] = np.floor(
        np.array([r.l_quantity for r in li]) + 0.5
    ).astype(np.int64)
    assert len(rows) == 6
    for (a, b), got in rows.items():
        ref = np.corrcoef(cols[a].astype(float), cols[b].astype(float))[0, 1]
        assert abs(got - ref) < 2e-6, (a, b, got, ref)
    # the one-pass promise: however many pairs, lineitem is scanned once.
    # AQE's formatted output prints each node in the final tree, the
    # initial tree, and the detail list — count distinct node ids.
    plan = formatted_plan(df)
    scan_ids = set(re.findall(r"Scan parquet\s+\((\d+)\)", plan))
    assert len(scan_ids) == 1, plan[:2000]


def test_mixture_weights_conservation(spark):
    rows = q_data_mixture_weights(spark, SF_SMOKE).collect()
    assert len(rows) == 20
    assert abs(sum(r.samp_share for r in rows) - 1.0) < 1e-4
    assert abs(sum(r.nat_share for r in rows) - 1.0) < 1e-4
    total = sum(r.tokens for r in rows)
    # allocated tokens (epochs_s * tokens_s) must re-sum to the budget
    assert abs(sum(r.epochs * r.tokens for r in rows) - total // 2) < 1.0
    # τ = 0.5 temperature flattens: the smallest source trains for MORE
    # epochs than the largest (upsample tail, downsample head)
    smallest = min(rows, key=lambda r: r.tokens)
    largest = max(rows, key=lambda r: r.tokens)
    assert smallest.epochs > largest.epochs


def test_funnel_matches_python_referee(spark):
    got = {
        r.stage: r.n_docs for r in q_text_filter_funnel(spark, SF_SMOKE).collect()
    }
    docs = load_table(spark, SF_SMOKE, "documents").select(
        "lang", "text"
    ).collect()
    ref: dict[str, int] = {}
    for r in docs:
        toks = r.text.lower().split(" ")
        n = len(toks)
        stop = sum(1 for t in toks if t in ("the", "a"))
        maxc = max(toks.count(t) for t in set(toks))
        if r.lang != "en":
            stage = "1_lang"
        elif n < FUNNEL_MIN_TOKENS:
            stage = "2_too_short"
        elif stop * 7 > n:
            stage = "3_stopword_ratio"
        elif maxc * 6 > n:
            stage = "4_repetition"
        else:
            stage = "5_pass"
        ref[stage] = ref.get(stage, 0) + 1
    assert got == ref
    assert sum(got.values()) == len(docs)
    # the funnel must actually funnel: survivors exist, and so do drops
    assert got.get("5_pass", 0) > 0
    assert sum(v for k, v in got.items() if k != "5_pass") > 0


def test_fertility_matches_python_regex(spark):
    rows = {r.lang: r for r in q_tokenizer_fertility(spark, SF_SMOKE).collect()}
    docs = load_table(spark, SF_SMOKE, "documents").select(
        "lang", "text"
    ).collect()
    pat = re.compile(r"[a-z]+|[0-9]+|[^a-z0-9 ]")
    agg: dict[str, list[int]] = {}
    for r in docs:
        low = r.text.lower()
        w, b, c = len(low.split(" ")), len(pat.findall(low)), len(r.text)
        e = agg.setdefault(r.lang, [0, 0, 0, 0])
        e[0] += 1
        e[1] += w
        e[2] += b
        e[3] += c
    for lang, (nd, w, b, c) in agg.items():
        row = rows[lang]
        assert (row.n_docs, row.n_words, row.n_bpe_tokens, row.n_chars) == (
            nd,
            w,
            b,
            c,
        )
        assert abs(row.fertility - b / w) < 2e-6
        assert abs(row.chars_per_token - c / b) < 2e-6
