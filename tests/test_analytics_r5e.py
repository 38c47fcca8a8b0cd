"""Operator invariants (privacy, text_retrieval, warehouse and
timeseries_forecast keys) beyond the
driver's oracle hash: python referees for the k-anonymity census, the
randomized-response mechanism (exact coin replay + debias accuracy),
the control-chart decision rule, BM25 ranking vs a straight float
implementation, and Theil–Sen vs numpy's pairwise-median."""

from __future__ import annotations

import hashlib
import math

import numpy as np
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from zonal_datacube_spark.operators.privacy import (
    K_ANON_K,
    RR_FLIP_NUM,
    RR_TYPES,
    q_privacy_k_anon,
    q_privacy_rr_count,
)
from zonal_datacube_spark.operators.text_retrieval import (
    BM25_TERMS,
    BM25_TOPK,
    q_text_bm25,
)
from zonal_datacube_spark.operators.timeseries_forecast import q_ts_theil_sen
from zonal_datacube_spark.operators.warehouse import q_dq_control_chart
from zonal_datacube_spark.sources.loader import load_table


def _cents(x):
    return int(np.floor(x * 100 + 0.5))


def test_k_anon_matches_python_referee(spark):
    row = q_privacy_k_anon(spark, SF_SMOKE).collect()[0]
    cust = load_table(spark, SF_SMOKE, "customer").select(
        "c_nationkey", "c_mktsegment", "c_acctbal"
    ).collect()
    classes: dict[tuple, int] = {}
    for r in cust:
        k = (r.c_nationkey, r.c_mktsegment, math.floor(r.c_acctbal / 1000))
        classes[k] = classes.get(k, 0) + 1
    sizes = list(classes.values())
    risky = sum(s for s in sizes if s < K_ANON_K)
    assert row.n_rows == len(cust)
    assert row.n_classes == len(sizes)
    assert row.min_class_size == min(sizes)
    assert row.n_singleton_classes == sum(1 for s in sizes if s == 1)
    assert row.n_rows_risky == risky
    assert abs(row.risky_share - risky / len(cust)) < 2e-6
    # the audit must have teeth on this fixture: some risk exists
    assert row.n_rows_risky > 0


def test_rr_count_replays_coins_and_debiases(spark):
    rows = {r.t: r for r in q_privacy_rr_count(spark, SF_SMOKE).collect()}
    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_id", "event_type"
    ).collect()
    obs: dict[str, int] = {t: 0 for t in RR_TYPES}
    true: dict[str, int] = {t: 0 for t in RR_TYPES}
    for r in ev:
        h = hashlib.md5(str(r.event_id).encode()).hexdigest()
        bucket = int(h[0], 16) * 16 + int(h[1], 16)
        reported = (
            RR_TYPES[int(h[2], 16) % len(RR_TYPES)]
            if bucket < RR_FLIP_NUM
            else r.event_type
        )
        obs[reported] += 1
        true[r.event_type] += 1
    n = len(ev)
    for t in RR_TYPES:
        g = rows[t]
        assert g.observed == obs[t], t
        assert g.true_count == true[t], t
        est = (obs[t] * 20 - n) / 15
        assert abs(g.estimated - est) < 2e-6
        assert abs(g.est_error - (est - true[t])) < 2e-6
    # the mechanism actually perturbed something, and the debiased
    # estimates conserve mass exactly: Σ est = Σ (20·obs − n)/15
    #                                        = (20n − 5n)/15 = n
    assert any(obs[t] != true[t] for t in RR_TYPES)
    assert abs(sum(rows[t].estimated for t in RR_TYPES) - n) < 1e-3


def test_control_chart_matches_numpy(spark):
    got = {r.event_type: r for r in q_dq_control_chart(spark, SF_SMOKE).collect()}
    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_type", F.date_trunc("day", "ts").alias("d"), "value"
    ).collect()
    per_type: dict[str, dict] = {}
    for r in ev:
        per_type.setdefault(r.event_type, {}).setdefault(r.d, []).append(
            _cents(r.value)
        )
    for t, days in per_type.items():
        allv = np.array([v for vs in days.values() for v in vs], dtype=float)
        center = allv.mean()
        var = allv.var()  # population
        n_ooc = 0
        max_dev = 0.0
        for vs in days.values():
            xbar = float(np.mean(vs))
            dev_sq = (xbar - center) ** 2
            max_dev = max(max_dev, dev_sq)
            if dev_sq * len(vs) > 9 * var:
                n_ooc += 1
        g = got[t]
        assert g.n_days == len(days)
        assert g.n_ooc_days == n_ooc, t
        assert abs(g.center_line - center / 100) < 1e-4
        assert abs(g.sigma - math.sqrt(var) / 100) < 1e-4
        assert abs(g.max_day_dev - math.sqrt(max_dev) / 100) < 1e-4


def test_bm25_matches_float_reference(spark):
    got = q_text_bm25(spark, SF_SMOKE).collect()
    docs = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "text"
    ).collect()
    toks = {r.doc_id: r.text.lower().split(" ") for r in docs}
    n = len(docs)
    s = sum(len(v) for v in toks.values())
    avgdl = s / n
    k1, b = 1.2, 0.75
    for term in BM25_TERMS:
        tfs = {d: v.count(term) for d, v in toks.items() if term in v}
        df = len(tfs)
        idf = math.log((n - df + 0.5) / (df + 0.5) + 1)

        def score(d):
            tf, dl = tfs[d], len(toks[d])
            return idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

        ref = sorted(tfs, key=lambda d: (-score(d), d))[:BM25_TOPK]
        mine = [r for r in got if r.term == term]
        assert [r.doc_id for r in sorted(mine, key=lambda r: r.rank)] == ref
        for r in mine:
            assert abs(r.bm25 - score(r.doc_id)) < 1e-4
            assert r.tf == tfs[r.doc_id]
            assert r.dl == len(toks[r.doc_id])
    assert len(got) == len(BM25_TERMS) * BM25_TOPK


def test_theil_sen_matches_numpy(spark):
    got = {r.event_type: r for r in q_ts_theil_sen(spark, SF_SMOKE).collect()}
    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_type", F.date_trunc("day", "ts").alias("d"), "value"
    ).collect()
    per_type: dict[str, dict] = {}
    for r in ev:
        per_type.setdefault(r.event_type, {}).setdefault(r.d, []).append(
            _cents(r.value)
        )
    epoch = np.datetime64("1970-01-01")
    for t, days in per_type.items():
        pts = sorted(
            (int((np.datetime64(d) - epoch) / np.timedelta64(1, "D")),
             float(np.mean(vs)))
            for d, vs in days.items()
        )
        slopes = sorted(
            (v2 - v1) / (d2 - d1)
            for i, (d1, v1) in enumerate(pts)
            for (d2, v2) in pts[i + 1:]
        )
        m = len(slopes)
        lower_median = slopes[(m + 1) // 2 - 1]
        g = got[t]
        assert g.n_days == len(pts)
        assert g.n_pairs == m
        assert abs(g.median_slope - lower_median / 100) < 2e-6, t


def test_bm25_wand_prune_is_lossless_and_actually_prunes(spark):
    """The WAND tier must (a) return exactly the unpruned full-scoring
    answer — the θ/upper-bound prune is lossless by the strict integer
    inequality 3·floor((θ−1)/3) < θ — and (b) actually shrink the
    rescored doc set versus naive all-matching-docs scoring."""
    from pyspark.sql import functions as F

    from zonal_datacube_spark.operators.text_retrieval import (
        _W_IDF,
        _W_LEN,
        _W_SAT,
        BM25_TERMS,
        WAND_TOPK,
        q_text_bm25_wand,
    )
    from zonal_datacube_spark.sources.loader import load_table

    got = sorted(q_text_bm25_wand(spark, SF_SMOKE).collect(), key=lambda r: r.rank)
    assert [r.rank for r in got] == list(range(1, len(got) + 1))

    # naive referee: score EVERY matching doc, no pruning
    docs = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", F.split(F.lower(F.col("text")), " ").alias("toks")
    )
    per_doc = docs.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("dl"),
        *[
            F.size(F.filter("toks", lambda y: y == F.lit(t)))
            .cast("bigint")
            .alias(f"tf_{t}")
            for t in BM25_TERMS
        ],
    ).collect()
    n = len(per_doc)
    s = sum(r.dl for r in per_doc)
    dfs = {
        t: sum(1 for r in per_doc if r[f"tf_{t}"] > 0) for t in BM25_TERMS
    }
    scores = {}
    matching = 0
    for r in per_doc:
        total, hit = 0, 0
        for t in BM25_TERMS:
            tf = r[f"tf_{t}"]
            if tf == 0:
                continue
            hit = 1
            l_norm = (9 * n * r.dl * _W_LEN) // s
            sat = (tf * 10_000_000 * _W_SAT) // (
                tf * 10_000_000 + 3_000_000 + l_norm
            )
            w = ((2 * n - 2 * dfs[t] + 1) * _W_IDF) // (2 * dfs[t] + 1)
            total += w * sat
        if hit:
            scores[r.doc_id] = total
            matching += 1
    want = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:WAND_TOPK]
    assert [(r.doc_id, r.score) for r in got] == want

    # pruning effectiveness: replay the operator's own seed-threshold +
    # max-impact filter and count the docs that actually get rescored —
    # it must be a strict subset of the matching-doc set
    impacts: dict[str, list[tuple[int, int]]] = {t: [] for t in BM25_TERMS}
    per_doc_imp: dict[int, list[int]] = {}
    for r in per_doc:
        for t in BM25_TERMS:
            tf = r[f"tf_{t}"]
            if tf == 0:
                continue
            l_norm = (9 * n * r.dl * _W_LEN) // s
            sat = (tf * 10_000_000 * _W_SAT) // (
                tf * 10_000_000 + 3_000_000 + l_norm
            )
            w = ((2 * n - 2 * dfs[t] + 1) * _W_IDF) // (2 * dfs[t] + 1)
            impacts[t].append((w * sat, r.doc_id))
            per_doc_imp.setdefault(r.doc_id, []).append(w * sat)
    seed_lb: dict[int, int] = {}
    for t in BM25_TERMS:
        for imp, d in sorted(impacts[t], key=lambda x: (-x[0], x[1]))[:WAND_TOPK]:
            seed_lb[d] = seed_lb.get(d, 0) + imp
    theta = sorted(seed_lb.values(), reverse=True)[: WAND_TOPK][-1]
    survivors = {
        d for d, imps in per_doc_imp.items()
        if max(imps) * len(BM25_TERMS) >= theta
    }
    assert matching > 5 * WAND_TOPK, "fixture too small to demonstrate pruning"
    assert len(survivors) < matching, (
        f"prune removed nothing: {len(survivors)} of {matching} docs rescored"
    )
    assert {d for d, _ in want} <= survivors  # lossless: answer inside
