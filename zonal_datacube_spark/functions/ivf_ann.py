"""IVF-style approximate nearest neighbors (SURVEY.md §2.10 scale path).

Inverted-file ANN: a coarse quantizer assigns every vector to a cell; a
query scores only the ``n_probe`` nearest cells' vectors instead of the
full corpus. Here the fixture's ``label`` column is the coarse quantizer
(it is a cluster id by construction — FIXTURES.md); a production index
would fit k-means centroids offline and assign with the same join.

All distributed: centroids are a 10-row aggregate (posexplode → per-dim
mean → array rebuild), broadcast everywhere; the candidate search is an
equi-join on cell id — no global n² and no driver-side math.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from zonal_datacube_spark.functions.exact import dot


def build_centroids(emb: DataFrame) -> DataFrame:
    """Per-label mean vector (the IVF cell centroids)."""
    per_dim = (
        emb.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(F.avg(F.col("v").cast("double")).alias("m"))
    )
    return (
        per_dim.groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
            ).alias("centroid")
        )
    )


def ivf_ann_quantized(
    emb: DataFrame,
    probe_ids: list[int],
    quantizer: DataFrame,
    k: int = 5,
    n_probe: int = 2,
) -> DataFrame:
    """Label-free IVF ANN: the coarse quantizer is a fitted centroid table
    (cell INT, centroid ARRAY<DOUBLE>) — e.g. ``kmeans_fit(emb, k)`` —
    instead of the fixture's label column.

    Same distributed shape as ``ivf_ann``: corpus→cell assignment is a
    broadcast join against k centroids (map-only over the corpus, the
    production 'index build'), probes pick their n_probe nearest cells
    from the same broadcast table, and the search is an equi-join on cell
    id. Recall rises with n_probe (fraction of the corpus scanned) —
    tests/test_ivf_ann.py measures the trade on the fixture."""
    from zonal_datacube_spark.functions.kmeans import assign_cells

    assigned = assign_cells(emb, quantizer)
    probes = emb.filter(F.col("vec_id").isin(*probe_ids)).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    cw = Window.partitionBy("probe_id").orderBy(F.col("c_score").desc(), F.col("cell").asc())
    probe_cells = (
        F.broadcast(probes)
        .crossJoin(F.broadcast(quantizer))
        .withColumn("c_score", F.round(dot("probe_vec", "centroid"), 9))
        .withColumn("c_rn", F.row_number().over(cw))
        .filter(F.col("c_rn") <= n_probe)
        .select("probe_id", "probe_vec", "cell")
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("score").desc(), F.col("vec_id").asc())
    return (
        F.broadcast(probe_cells)
        .join(assigned, "cell")
        .filter(F.col("vec_id") != F.col("probe_id"))
        .withColumn("score", F.round(dot("probe_vec", "embedding"), 6))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("probe_id", F.col("vec_id").alias("neighbor_id"), "cell", "score", "rn")
    )


def ivf_ann(
    emb: DataFrame,
    probe_ids: list[int],
    k: int = 5,
    n_probe: int = 2,
) -> DataFrame:
    """Top-k cosine neighbors per probe, searching only the n_probe nearest
    IVF cells."""
    centroids = F.broadcast(build_centroids(emb))
    probes = emb.filter(F.col("vec_id").isin(*probe_ids)).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    # rank cells per probe by centroid similarity
    cw = Window.partitionBy("probe_id").orderBy(F.col("c_score").desc(), F.col("label").asc())
    probe_cells = (
        F.broadcast(probes)
        .crossJoin(centroids)
        .withColumn("c_score", F.round(dot("probe_vec", "centroid"), 9))
        .withColumn("c_rn", F.row_number().over(cw))
        .filter(F.col("c_rn") <= n_probe)
        .select("probe_id", "probe_vec", "label")
    )
    # score only vectors in the selected cells
    w = Window.partitionBy("probe_id").orderBy(F.col("score").desc(), F.col("vec_id").asc())
    return (
        F.broadcast(probe_cells)
        .join(emb, "label")
        .filter(F.col("vec_id") != F.col("probe_id"))
        .withColumn("score", F.round(dot("probe_vec", "embedding"), 6))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("probe_id", F.col("vec_id").alias("neighbor_id"), "label", "score", "rn")
    )
