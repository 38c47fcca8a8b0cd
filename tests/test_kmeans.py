"""k-means: determinism, improvement over seeds, the distributed referee."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from zonal_datacube_spark.functions.exact import dot
from zonal_datacube_spark.functions.kmeans import assign_cells, kmeans_fit
from zonal_datacube_spark.sources.loader import load_table


def inertia(emb: DataFrame, centroids: DataFrame) -> float:
    """Mean best-similarity (higher = tighter clustering, cosine world)."""
    w = Window.partitionBy("vec_id").orderBy(F.col("sim").desc(), F.col("cell").asc())
    best = (
        emb.crossJoin(F.broadcast(centroids))
        .withColumn("sim", dot("embedding", "centroid"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return best.agg(F.avg("sim")).collect()[0][0]


def test_kmeans_improves_and_is_deterministic(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    seeds0 = kmeans_fit(emb, k=8, iters=0)
    fitted = kmeans_fit(emb, k=8, iters=3)
    assert inertia(emb, fitted) > inertia(emb, seeds0)  # training helps
    again = kmeans_fit(emb, k=8, iters=3)
    a = sorted((r.cell, tuple(round(v, 9) for v in r.centroid)) for r in fitted.collect())
    b = sorted((r.cell, tuple(round(v, 9) for v in r.centroid)) for r in again.collect())
    assert a == b  # deterministic


def test_kmeans_always_returns_k_cells(spark):
    """Empty cells keep their previous centroid instead of silently
    vanishing (duplicate/collinear seeds make shrinkage likely)."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    for iters in (0, 1, 3):
        assert kmeans_fit(emb, k=8, iters=iters).count() == 8


def test_assignment_partitions_corpus(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    cents = kmeans_fit(emb, k=8, iters=2)
    assigned = assign_cells(emb, cents)
    assert assigned.count() == emb.count()  # every vector exactly one cell
    n_cells = assigned.select("cell").distinct().count()
    assert 2 <= n_cells <= 8


def test_sample_fit_matches_distributed_fit_on_fixture(spark):
    """Differential referee (r12): kmeans_fit moved driver-side onto a
    bounded deterministic sample (the pq_train discipline). On a corpus
    smaller than KMEANS_TRAIN_CAP the sample IS the corpus, so the two
    formulations share seeds, tie-breaks and update rule — centroids
    must agree to FP dust (the distributed per-dim avg folds in
    partition order; numpy's mean is one fixed chain)."""
    from zonal_datacube_spark.functions.kmeans import kmeans_fit_distributed

    emb = load_table(spark, SF_SMOKE, "embeddings")
    a = {
        r.cell: r.centroid
        for r in kmeans_fit(emb, k=8, iters=2).collect()
    }
    b = {
        r.cell: r.centroid
        for r in kmeans_fit_distributed(emb, k=8, iters=2).collect()
    }
    assert set(a) == set(b)
    for c in a:
        assert all(
            abs(x - y) < 1e-9 for x, y in zip(a[c], b[c])
        ), f"cell {c} diverged"
