"""PQ ANN: codebook/code shapes, compression invariants, and recall of the
ADC ranking against exact brute-force cosine on the fixture embeddings."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from zonal_datacube_spark.functions.exact import dot
from zonal_datacube_spark.functions.pq import (
    PQ_K,
    PQ_M,
    pq_ann,
    pq_encode,
    pq_fit,
    pq_train,
)
from zonal_datacube_spark.sources.loader import load_table

PROBES = [0, 1, 2, 3, 4]
K = 5


def _brute_topk(emb, k):
    probes = emb.filter(F.col("vec_id").isin(PROBES)).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("score").desc(), F.col("vec_id").asc())
    return (
        probes.crossJoin(emb.select("vec_id", "embedding"))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .withColumn("score", dot("probe_vec", "embedding"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("probe_id", F.col("vec_id").alias("neighbor_id"))
    )


def test_pq_shapes_and_compression(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    codebook = pq_train(emb, iters=2)
    assert codebook.count() == PQ_M * PQ_K
    dim = len(emb.select("embedding").first()[0])
    assert all(len(r.cvec) == dim // PQ_M for r in codebook.collect())
    codes = pq_encode(emb, codebook)
    assert codes.count() == emb.count()
    sample = codes.limit(20).collect()
    for r in sample:
        assert len(r.codes) == PQ_M
        assert all(0 <= c < PQ_K for c in r.codes)


def test_pq_ann_recall_vs_brute_force(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    exact = {
        (r.probe_id, r.neighbor_id) for r in _brute_topk(emb, K).collect()
    }
    approx = {
        (r.probe_id, r.neighbor_id)
        for r in pq_ann(emb, PROBES, k=K, iters=2).collect()
    }
    recall = len(exact & approx) / len(exact)
    # 32x compression (64 floats -> 16 nibble codes) + exact re-rank of a
    # 10k-deep ADC shortlist; measured 0.88 on the fixture
    assert recall >= 0.8, f"recall@{K} = {recall}"


def test_ivf_pq_recall_and_pruning(spark):
    from zonal_datacube_spark.functions.pq import ivf_pq_ann

    emb = load_table(spark, SF_SMOKE, "embeddings")
    exact = {(r.probe_id, r.neighbor_id) for r in _brute_topk(emb, K).collect()}
    got = ivf_pq_ann(emb, PROBES, k=K, n_probe=4, n_cells=8, iters=2).collect()
    approx = {(r.probe_id, r.neighbor_id) for r in got}
    recall = len(exact & approx) / len(exact)
    # scans n_probe/n_cells = half the corpus, on 8-byte codes, then
    # exact-re-ranks — recall drops only when a true neighbor's cell was
    # pruned; the fixture's label-clustered corpus keeps that rare
    assert recall >= 0.6, f"IVFPQ recall@{K} = {recall}"
    assert all(r.rn <= K for r in got)


def test_pq_train_degrades_to_small_corpus(spark):
    """ADVICE r09: a corpus with fewer vectors than ksub must yield a
    len(corpus)-entry codebook per subspace, not IndexError — the seed
    slice, Lloyd update loop, and output dict all use the effective
    count."""
    emb = load_table(spark, SF_SMOKE, "embeddings").limit(5)
    codebook = pq_train(emb, iters=2)
    assert codebook.count() == PQ_M * 5
    codes = pq_encode(emb, codebook).collect()
    assert len(codes) == 5
    for r in codes:
        assert all(0 <= c < 5 for c in r.codes)


def test_pq_encode_takes_exactly_one_codebook(spark):
    """The driver-side rows (pq_fit) and the DataFrame (pq_train) of the
    same fit encode identically; passing both or neither is an error."""
    import pytest

    emb = load_table(spark, SF_SMOKE, "embeddings")
    rows = pq_fit(emb, iters=2)
    codebook = pq_train(emb, iters=2)
    via_rows = pq_encode(emb, codebook_rows=rows).collect()
    via_df = pq_encode(emb, codebook).collect()
    assert sorted(map(tuple, via_rows)) == sorted(map(tuple, via_df))
    with pytest.raises(ValueError, match="exactly one"):
        pq_encode(emb, codebook, codebook_rows=rows)
    with pytest.raises(ValueError, match="exactly one"):
        pq_encode(emb)


def test_pq_encode_rejects_a_codebook_hole_before_any_job(spark):
    """A ``codebook_rows`` grid missing one (sub, code) cell raises a
    ValueError naming the cell (not an assert that ``python -O`` strips),
    and it does so before the encode resolves ``dim`` with a job."""
    import pytest

    rows = {(s, c): [0.1 * c, 0.2 * s] for s in range(2) for c in range(3)}
    del rows[(1, 1)]
    emb = spark.range(4).selectExpr("id AS vec_id", "array(1.0D, 2.0D) AS embedding")
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    with pytest.raises(ValueError, match=r"\(1, 1\)"):
        pq_encode(emb, m=2, codebook_rows=rows)
    assert tracker.getJobIdsForGroup(None) == before


def test_pq_encode_kernel_matches_join_formulation(spark):
    """r11: pq_encode became a map-only numpy kernel (the faiss encode
    arrangement); the retired explode→join→collect_list form stays as
    pq_encode_joins and must produce BIT-IDENTICAL code arrays — same
    9dp HALF_UP rounding, same first-min tie-break."""
    from zonal_datacube_spark.functions.pq import pq_encode_joins

    emb = load_table(spark, SF_SMOKE, "embeddings")
    codebook = pq_train(emb, iters=2)
    kernel = {r.vec_id: list(r.codes) for r in pq_encode(emb, codebook).collect()}
    joins = {
        r.vec_id: list(r.codes)
        for r in pq_encode_joins(emb, codebook).collect()
    }
    assert kernel == joins
    assert len(kernel) == emb.count()
