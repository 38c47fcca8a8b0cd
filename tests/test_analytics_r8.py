"""Round-8 surface keys: role/threshold invariants and a full-recompute
equivalence referee for q_dedup_incremental, an independent pure-Python
recompute for q_text_retrieval_eval, and plan gates for both."""

from __future__ import annotations

import re

import pandas as pd

from tests.conftest import SF_SMOKE
from zonal_datacube_spark.operators.dedup import INC_BATCH_MOD, q_dedup_incremental
from zonal_datacube_spark.operators.text_retrieval import (
    PROBE_MOD,
    PROBE_START,
    QUERY_TERMS,
    RETR_TOPK,
    q_text_retrieval_eval,
)
from zonal_datacube_spark.operators.text_retrieval import CHUNK_SIZE, CHUNK_STRIDE
from zonal_datacube_spark.operators.dedup import NEAR_DUP_TAU, q_dedup_minhash
from zonal_datacube_spark.plans.diagnostics import formatted_plan


def test_incremental_roles_and_threshold(spark):
    rows = q_dedup_incremental(spark, SF_SMOKE).collect()
    assert rows, "fixture plants near-dups; the probe must find some"
    for r in rows:
        assert r["batch_id"] % INC_BATCH_MOD == 0
        assert r["base_id"] % INC_BATCH_MOD != 0
        assert 0.0 < r["jaccard"] <= 1.0
        assert r["is_dup"] == (r["jaccard"] >= NEAR_DUP_TAU)


def test_incremental_equals_full_recompute_restriction(spark):
    """The maintenance contract: probing the batch against the existing
    band index returns EXACTLY the blended-corpus recompute's
    (batch, base) pairs — nothing missed, nothing extra."""
    inc = {
        (r["batch_id"], r["base_id"], r["jaccard"])
        for r in q_dedup_incremental(spark, SF_SMOKE).collect()
    }
    full = q_dedup_minhash(spark, SF_SMOKE).collect()  # a_id < b_id pairs
    want = set()
    for r in full:
        a, b = r["a_id"], r["b_id"]
        if a % INC_BATCH_MOD == 0 and b % INC_BATCH_MOD != 0:
            want.add((a, b, r["jaccard"]))
        elif b % INC_BATCH_MOD == 0 and a % INC_BATCH_MOD != 0:
            want.add((b, a, r["jaccard"]))
    assert inc == want


def _py_retrieval_eval(sf_dir: str) -> dict:
    """Independent pure-Python recompute (third implementation next to
    Spark and the DuckDB oracle)."""
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    chunks = []  # (doc_id, start, frozenset terms)
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        toks = text.lower().split(" ")
        n = len(toks)
        k = 0
        while k * CHUNK_STRIDE < n or k == 0:
            start = k * CHUNK_STRIDE
            if start >= n and k > 0:
                break
            chunk = toks[start : start + CHUNK_SIZE]
            chunks.append((int(doc_id), start, frozenset(chunk)))
            k += 1
    df: dict[str, int] = {}
    for _, _, cts in chunks:
        for t in cts:
            df[t] = df.get(t, 0) + 1
    probes = [
        c for c in chunks if c[0] % PROBE_MOD == 0 and c[1] == PROBE_START
    ]
    n_hit1 = n_hit3 = rr6 = 0
    for pid, pstart, cts in probes:
        q = set(sorted(cts, key=lambda t: (df[t], t))[:QUERY_TERMS])
        scored = [
            (len(q & c[2]), c[0], c[1]) for c in chunks if q & c[2]
        ]
        scored.sort(key=lambda x: (-x[0], x[1], x[2]))
        for rn, (_, did, st) in enumerate(scored[:RETR_TOPK], start=1):
            if did == pid and st == pstart:
                n_hit3 += 1
                rr6 += 6 // rn
                if rn == 1:
                    n_hit1 += 1
    return {
        "n_probes": len(probes),
        "n_hit1": n_hit1,
        "n_hit3": n_hit3,
        "mrr_at_3": round(rr6 / (6 * len(probes)), 6),
    }


def test_retrieval_eval_matches_pure_python(spark):
    got = q_text_retrieval_eval(spark, SF_SMOKE).collect()
    assert len(got) == 1
    g = got[0]
    want = _py_retrieval_eval(SF_SMOKE)
    assert g["n_probes"] == want["n_probes"] > 0
    assert g["n_hit1"] == want["n_hit1"]
    assert g["n_hit3"] == want["n_hit3"]
    assert abs(g["mrr_at_3"] - want["mrr_at_3"]) < 1e-9
    assert g["recall_at_1"] <= g["recall_at_3"] <= 1.0


def test_r8_plans_stay_joined_not_cartesian(spark):
    for fn in (q_dedup_incremental, q_text_retrieval_eval):
        plan = formatted_plan(fn(spark, SF_SMOKE))
        assert "CartesianProduct" not in plan, fn.__name__
    # the incremental probe must be pure equi-joins end to end; the
    # retrieval verdict is allowed exactly ONE nested-loop join — the
    # deliberate 1-row × 1-row scored × n_probes broadcast stitch
    inc = formatted_plan(q_dedup_incremental(spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" not in inc
    ret = formatted_plan(q_text_retrieval_eval(spark, SF_SMOKE))
    # count tree edges only — the formatted details section repeats names
    assert len(re.findall(r"[+:]- BroadcastNestedLoopJoin", ret)) <= 1


def test_retrieval_topk_window_is_probe_keyed(spark):
    plan = formatted_plan(q_text_retrieval_eval(spark, SF_SMOKE))
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    ranked = [s for s in specs if "overlap" in s]
    assert ranked and all("probe_id" in s for s in ranked), specs


def _py_padding_eval(sf_dir: str) -> dict:
    from zonal_datacube_spark.operators.pipeline_ext import BATCH_SIZE

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    lens = {
        int(d): len(t.lower().split(" "))
        for d, t in zip(docs["doc_id"], docs["text"])
    }
    out = {}
    for strategy, order in (
        ("natural", sorted(lens)),
        ("length_sorted", sorted(lens, key=lambda d: (lens[d], d))),
    ):
        pad = grid = batches = 0
        for i in range(0, len(order), BATCH_SIZE):
            chunk = [lens[d] for d in order[i : i + BATCH_SIZE]]
            batches += 1
            grid += max(chunk) * len(chunk)
            pad += max(chunk) * len(chunk) - sum(chunk)
        out[strategy] = (batches, pad, round(pad / grid, 6))
    return out


def test_padding_eval_matches_pure_python(spark):
    from zonal_datacube_spark.operators.pipeline_ext import q_batch_padding_eval

    rows = {r["strategy"]: r for r in q_batch_padding_eval(spark, SF_SMOKE).collect()}
    want = _py_padding_eval(SF_SMOKE)
    assert set(rows) == set(want)
    for strat, (nb, pad, share) in want.items():
        r = rows[strat]
        assert (r["n_batches"], r["padded_tokens"]) == (nb, pad), strat
        assert abs(r["pad_share"] - share) < 1e-9, strat
    # sorting by length can never pad MORE than natural order overall
    assert (
        rows["length_sorted"]["padded_tokens"]
        <= rows["natural"]["padded_tokens"]
    )


def test_padding_eval_rides_the_prefix_sweep(spark):
    from zonal_datacube_spark.operators.pipeline_ext import q_batch_padding_eval

    plan = formatted_plan(q_batch_padding_eval(spark, SF_SMOKE))
    assert "_zds_ps_bucket" in plan  # no global sort anywhere
    assert "CartesianProduct" not in plan


def _py_slope_classes() -> dict:
    import numpy as np

    from zonal_datacube_spark.operators.zonal import SLOPE_CLASS_W, SLOPE_N

    n = SLOPE_N
    xs, ys = np.meshgrid(np.arange(n), np.arange(n), indexing="xy")
    z = (xs * 31 + ys * 17) % 97
    # Horn gradients on interior cells (z indexed [y, x])
    gx = (
        2 * z[1:-1, 2:] + z[:-2, 2:] + z[2:, 2:]
        - 2 * z[1:-1, :-2] - z[:-2, :-2] - z[2:, :-2]
    )
    gy = (
        2 * z[2:, 1:-1] + z[2:, :-2] + z[2:, 2:]
        - 2 * z[:-2, 1:-1] - z[:-2, :-2] - z[:-2, 2:]
    )
    ss = gx.astype(np.int64) ** 2 + gy.astype(np.int64) ** 2
    cls = np.minimum(9, ss // SLOPE_CLASS_W)
    out = {}
    for c in np.unique(cls):
        v = ss[cls == c]
        out[int(c)] = (len(v), int(v.min()), int(v.max()), round(float(v.mean()), 6))
    return out


def test_raster_slope_matches_numpy_referee(spark):
    from zonal_datacube_spark.operators.zonal import q_raster_slope

    rows = {
        r["steep_class"]: (
            r["n_cells"], r["min_slope_sq"], r["max_slope_sq"], r["avg_slope_sq"]
        )
        for r in q_raster_slope(spark, SF_SMOKE).collect()
    }
    assert rows == _py_slope_classes()


def test_psi_drift_bins_are_complete_and_consistent(spark):
    from zonal_datacube_spark.operators.pipeline_ext import PSI_BINS, q_dq_psi_drift

    rows = q_dq_psi_drift(spark, SF_SMOKE).collect()
    assert sorted(r["bin"] for r in rows) == list(range(PSI_BINS))
    t_ref = sum(r["n_ref"] for r in rows)
    t_cur = sum(r["n_cur"] for r in rows)
    assert t_ref > 0 and t_cur > 0
    for r in rows:
        # Laplace smoothing keeps every p/q defined and in (0, 1)
        assert 0.0 < r["p_ref"] < 1.0 and 0.0 < r["p_cur"] < 1.0
        # each term of PSI is non-negative: (p-q) and ln(p/q) share sign
        assert r["psi_term"] >= 0.0
    # identical distributions would give PSI 0; the split periods differ,
    # but fixture order values are stationary — PSI must stay small
    assert sum(r["psi_term"] for r in rows) < 0.25


def test_slope_and_psi_plans(spark):
    from zonal_datacube_spark.operators.pipeline_ext import q_dq_psi_drift
    from zonal_datacube_spark.operators.zonal import q_raster_slope

    slope = formatted_plan(q_raster_slope(spark, SF_SMOKE))
    assert "CartesianProduct" not in slope
    assert "windowspecdefinition" not in slope  # pure scatter-gather aggs
    psi = formatted_plan(q_dq_psi_drift(spark, SF_SMOKE))
    assert "CartesianProduct" not in psi
    assert "windowspecdefinition" not in psi  # spine join + broadcast totals
