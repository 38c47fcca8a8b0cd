"""Operator invariants (text_retrieval and embedding_eval keys) beyond the
driver's oracle hash: a python referee for the chunk geometry, md5
chunk-fingerprint spot checks, RRF sentinel/score semantics, and the OPQ
rotation's orthogonality / inner-product-preservation / determinism
properties plus a sanity pin on the recall eval output."""

from __future__ import annotations

import hashlib
import math

import numpy as np
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from zonal_datacube_spark.operators.embedding_eval import (
    OPQ_DIM,
    OPQ_K,
    OPQ_PROBE_IDS,
    _rotation_rows,
    q_sim_opq_eval,
)
from zonal_datacube_spark.operators.text_retrieval import (
    CHUNK_SIZE,
    CHUNK_STRIDE,
    RRF_C,
    RRF_OUT,
    RRF_TERM,
    RRF_TOPN,
    q_rag_chunk_dedup,
    q_text_chunking,
    q_text_rrf_fusion,
)
from zonal_datacube_spark.sources.loader import load_table


def _py_chunks(n_tokens: int) -> list[tuple[int, int]]:
    """(start, chunk_len) pairs the sliding-window rule produces."""
    out = []
    k = 0
    while k == 0 or k * CHUNK_STRIDE < n_tokens:
        start = k * CHUNK_STRIDE
        out.append((start, min(CHUNK_SIZE, n_tokens - start)))
        k += 1
    return out


def test_chunking_matches_python_referee(spark):
    rows = q_text_chunking(spark, SF_SMOKE).collect()
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text").collect()
    census: dict[int, list] = {}
    for r in docs:
        n = len(r.text.lower().split(" "))
        for start, clen in _py_chunks(n):
            e = census.setdefault(clen, [0, set(), 0])
            e[0] += 1
            e[1].add(r.doc_id)
            e[2] += start
    assert {r.chunk_len for r in rows} == set(census)
    for r in rows:
        n_chunks, doc_ids, sum_start = census[r.chunk_len]
        assert r.n_chunks == n_chunks
        assert r.n_docs == len(doc_ids)
        assert r.sum_start == sum_start


def test_chunking_covers_every_token_once_per_window(spark):
    # every document's chunks cover [0, n) with the final chunk ending
    # exactly at n — the boundary rule a one-off error would break
    docs = load_table(spark, SF_SMOKE, "documents").select("text").collect()
    for r in docs[:50]:
        n = len(r.text.lower().split(" "))
        chunks = _py_chunks(n)
        assert chunks[0][0] == 0
        assert chunks[-1][0] + chunks[-1][1] == n
        for (s1, l1), (s2, _) in zip(chunks, chunks[1:]):
            assert s2 - s1 == CHUNK_STRIDE
            assert s2 < s1 + l1 or l1 == CHUNK_SIZE  # overlap unless clipped


def test_chunk_dedup_digest_matches_hashlib(spark):
    out = {r.source: r for r in q_rag_chunk_dedup(spark, SF_SMOKE).collect()}
    docs = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "source", "text"
    ).collect()
    per_source: dict[str, dict[str, int]] = {}
    for r in docs:
        toks = r.text.lower().split(" ")
        for start, clen in _py_chunks(len(toks)):
            digest = hashlib.md5(
                " ".join(toks[start : start + clen]).encode()
            ).hexdigest()
            per_source.setdefault(r.source, {})
            per_source[r.source][digest] = per_source[r.source].get(digest, 0) + 1
    assert set(out) == set(per_source)
    for src, counts in per_source.items():
        row = out[src]
        n_chunks = sum(counts.values())
        assert row.n_chunks == n_chunks
        assert row.n_unique == len(counts)
        assert row.max_copies == max(counts.values())
        expected_share = math.floor(
            (n_chunks - len(counts)) / n_chunks * 1e6 + 0.5
        ) / 1e6
        assert abs(row.dup_share - expected_share) < 1e-12


def test_rrf_sentinels_and_scores(spark):
    rows = q_text_rrf_fusion(spark, SF_SMOKE).collect()
    assert len(rows) == RRF_OUT
    for r in rows:
        assert 0 <= r.lex_rank <= RRF_TOPN
        assert 0 <= r.sem_rank <= RRF_TOPN
        expected = (1.0 / (RRF_C + r.lex_rank) if r.lex_rank else 0.0) + (
            1.0 / (RRF_C + r.sem_rank) if r.sem_rank else 0.0
        )
        assert abs(r.rrf - math.floor(expected * 1e6 + 0.5) / 1e6) < 1e-12
        assert r.lex_rank or r.sem_rank  # a fused doc came from some ranker
    # descending fused order with doc_id tiebreak
    keys = [(-r.rrf, r.doc_id) for r in rows]
    assert keys == sorted(keys)


def test_rrf_lexical_ranker_is_tf_then_length(spark):
    rows = q_text_rrf_fusion(spark, SF_SMOKE).collect()
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text").collect()
    scored = []
    for d in docs:
        toks = d.text.lower().split(" ")
        tf = sum(1 for t in toks if t == RRF_TERM)
        if tf > 0:
            scored.append((-tf, len(toks), d.doc_id))
    scored.sort()
    expected_rank = {
        doc_id: i + 1 for i, (_, _, doc_id) in enumerate(scored[:RRF_TOPN])
    }
    for r in rows:
        if r.lex_rank:
            assert expected_rank[r.doc_id] == r.lex_rank


def test_rotation_is_orthogonal_and_deterministic():
    rows = _rotation_rows()
    again = _rotation_rows()
    assert rows == again  # seeded QR with sign fix is unique
    r = np.array([v for _, v in rows])
    assert r.shape == (OPQ_DIM, OPQ_DIM)
    np.testing.assert_allclose(r @ r.T, np.eye(OPQ_DIM), atol=1e-10)


def test_rotation_preserves_inner_products(spark):
    emb = (
        load_table(spark, SF_SMOKE, "embeddings")
        .orderBy("vec_id")
        .limit(10)
        .collect()
    )
    r = np.array([v for _, v in _rotation_rows()])
    vecs = np.array([e.embedding for e in emb], dtype=np.float64)
    rotated = vecs @ r.T
    np.testing.assert_allclose(rotated @ rotated.T, vecs @ vecs.T, atol=1e-9)


def test_opq_eval_shape_and_bounds(spark):
    rows = {r.variant: r for r in q_sim_opq_eval(spark, SF_SMOKE).collect()}
    assert set(rows) == {"raw", "opq"}
    for r in rows.values():
        assert r.n_probes == len(OPQ_PROBE_IDS)
        assert r.k == OPQ_K
        assert 0.0 <= r.recall_at_k <= 1.0
        # recall is a multiple of 1/(probes*k) on the g6 grid
        steps = r.recall_at_k * len(OPQ_PROBE_IDS) * OPQ_K
        assert abs(steps - round(steps)) < 1e-3
