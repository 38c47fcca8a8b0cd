"""Round-10 data-selection keys: DSIR importance weights and the
token-budgeted quality curriculum — pure-Python referees over the
sf0.001 fixture (the same IEEE chains both engines run)."""

from __future__ import annotations

import math
from collections import Counter

import pandas as pd

from tests.conftest import SF_SMOKE
from zonal_datacube_spark.operators.pipeline_ext import (
    CURRICULUM_BUDGET_DIV,
    DSIR_TARGET_LANG,
    q_data_curriculum_tokens,
    q_data_dsir_weights,
)

STOPWORDS = ("the", "a")


def _docs():
    return pd.read_parquet(f"{SF_SMOKE}/documents.parquet")


def test_dsir_weights_match_referee(spark):
    """Every per-doc weight equals the add-1-smoothed bigram
    log-likelihood ratio computed independently in pure Python (within
    half the 6dp rounding grid)."""
    docs = _docs()
    raw: Counter = Counter()
    tgt: Counter = Counter()
    doc_bis = {}
    for r in docs.itertuples():
        toks = r.text.lower().split(" ")
        if len(toks) < 2:
            continue
        bis = list(zip(toks, toks[1:]))
        doc_bis[r.doc_id] = (r.source, bis)
        raw.update(bis)
        if r.lang == DSIR_TARGET_LANG:
            tgt.update(bis)
    v = len(raw)
    n_raw = sum(raw.values())
    n_tgt = sum(tgt.values())
    assert n_tgt > 0, "fixture must contain target-language docs"

    rows = q_data_dsir_weights(spark, SF_SMOKE).collect()
    assert len(rows) == len(doc_bis)
    for r in rows:
        src, bis = doc_bis[r.doc_id]
        assert r.source == src
        assert r.n_bigrams == len(bis)
        lrs = [
            math.log((tgt.get(b, 0) + 1.0) / (n_tgt + v))
            - math.log((raw[b] + 1.0) / (n_raw + v))
            for b in bis
        ]
        true = sum(lrs) / len(lrs)
        # the declared value is round(true, 6); half-grid tolerance
        assert abs(true - r.dsir_logratio) < 6e-7, r.doc_id


def test_dsir_ratio_sign_tracks_target_evidence(spark):
    """A bigram table built ONLY from target docs must push its hosting
    docs positive relative to target-absent bigrams: the max weight doc
    set must contain at least one target-language doc at fixture scale
    (the ratio model was fit on that slice), and weights must not be
    constant (the ratio actually discriminates)."""
    rows = q_data_dsir_weights(spark, SF_SMOKE).collect()
    weights = sorted(r.dsir_logratio for r in rows)
    assert weights[0] < weights[-1]


def _curriculum_referee():
    docs = _docs()
    per = []
    for r in docs.itertuples():
        toks = r.text.lower().split(" ")
        n = len(toks)
        ttr = len(set(toks)) / n
        stop = sum(1 for x in toks if x in STOPWORDS) / n
        q = min(1.0, n / 101.0) * (1.0 - stop) * ttr
        per.append((math.floor(q * 1e6 + 0.5), r.doc_id, r.source, n))
    total = sum(p[3] for p in per)
    budget = total // CURRICULUM_BUDGET_DIV
    per.sort(key=lambda x: (-x[0], x[1]))
    sel: dict[str, list] = {}
    cum = 0
    for q_e6, _doc_id, src, n in per:
        if cum < budget:
            d = sel.setdefault(src, [0, 0, q_e6])
            d[0] += 1
            d[1] += n
            d[2] = min(d[2], q_e6)
        cum += n
    return sel, budget, total


def test_curriculum_matches_referee(spark):
    sel, budget, _total = _curriculum_referee()
    rows = q_data_curriculum_tokens(spark, SF_SMOKE).collect()
    assert {r.source for r in rows} == set(sel)
    for r in rows:
        n_docs, n_toks, min_q = sel[r.source]
        assert r.n_docs_selected == n_docs
        assert r.tokens_selected == n_toks
        assert r.min_q_e6 == min_q
        assert r.budget_tokens == budget


def test_edge_corpus_semantics(spark, tmp_path):
    """Handcrafted 4-doc corpus pinning the edge semantics the fixture
    can't reach: a 1-token doc hosts no bigram (DSIR drops it; the
    curriculum still counts its token), an all-stopword doc scores
    quality 0, and the budget cut keeps exactly the crossing doc."""
    docs = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3],
            "text": [
                "solo",  # 1 token -> no bigram
                "the the the a",  # all stopwords -> quality 0
                "alpha beta alpha",  # ttr 2/3
                "v w x y z",  # ttr 1 -> best quality
            ],
            "lang": ["en", "en", "fr", "zh"],
            "source": ["s0", "s0", "s1", "s1"],
            "n_chars": [4, 13, 16, 9],
        }
    )
    docs.to_parquet(tmp_path / "documents.parquet")
    sf = str(tmp_path)

    dsir = {r.doc_id: r for r in q_data_dsir_weights(spark, sf).collect()}
    assert set(dsir) == {1, 2, 3}
    assert dsir[1].n_bigrams == 3 and dsir[2].n_bigrams == 2
    # doc 1 is the only target(en) doc with bigrams: its bigrams carry
    # ALL target evidence, so its weight must exceed the target-absent
    # docs' weights
    assert dsir[1].dsir_logratio > dsir[2].dsir_logratio
    assert dsir[1].dsir_logratio > dsir[3].dsir_logratio

    # total tokens 1+4+3+5 = 13, budget = 3; quality order: doc3
    # (49505e-6 grid), doc2 (19802), doc0 (9901), doc1 (0). Tokens
    # before doc3 = 0 < 3 -> selected; before doc2 = 5 >= 3 -> cut.
    cur = {r.source: r for r in q_data_curriculum_tokens(spark, sf).collect()}
    assert set(cur) == {"s1"}
    r = cur["s1"]
    assert r.n_docs_selected == 1
    assert r.tokens_selected == 5
    assert r.min_q_e6 == 49505
    assert r.budget_tokens == 3


def test_curriculum_covers_budget_exactly_once(spark):
    """The selected slice must cover the budget (the crossing doc is
    kept) but dropping its worst doc must fall back under it — i.e. the
    cut is the minimal budget-covering quality prefix."""
    sel, budget, total = _curriculum_referee()
    picked_tokens = sum(v[1] for v in sel.values())
    assert picked_tokens >= budget
    assert 0 < picked_tokens < total
    rows = q_data_curriculum_tokens(spark, SF_SMOKE).collect()
    assert sum(r.tokens_selected for r in rows) == picked_tokens
