"""Similarity search over embeddings (SURVEY.md §2.10).

Embeddings are 64-dim unit-L2-norm float arrays (FIXTURES.md) → cosine ==
dot product. All scoring is JVM-side higher-order array arithmetic
(zip_with + aggregate after an explicit float→double cast); no Python
crosses the hot path.

Scale tiers:
- `q_sim_knn` — brute-force top-k for a small probe set: probes broadcast
  against the full corpus; per-probe ranking. Exact; cost O(probes × N).
- `q_sim_join` — similarity self-join blocked by the label column (the
  IVF-style partition: only same-cell pairs are scored) → per-group n²
  instead of global n².
- `q_sim_lsh_ann` — sign-bit LSH (8 hyperplane signs → 256 buckets):
  probes score only their own bucket. Approximate; cost O(probes × N/256).
  The ranking ties are broken on (rounded score, vec_id) so the result set
  is deterministic on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from zonal_datacube_spark.functions.banded_lsh import banded_cosine_join
from zonal_datacube_spark.functions.exact import dot, half_up, wide
from zonal_datacube_spark.sources.derived import corpus_key
from zonal_datacube_spark.sources.loader import load_table

PROBE_IDS = (0, 1, 2, 3, 4)
KNN_K = 5
ANN_K = 3
SIM_JOIN_TAU = 0.4


def _sign_bucket(col: str) -> F.Column:
    """8 sign bits of the leading dimensions → bucket id 0..255 (fixed
    'hyperplanes' = axis planes; deterministic and engine-portable)."""
    terms = [
        F.when(F.element_at(F.col(col), i + 1) > 0, F.lit(1 << i)).otherwise(F.lit(0))
        for i in range(8)
    ]
    total = terms[0]
    for t in terms[1:]:
        total = total + t
    return total.cast("bigint")


def q_sim_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force top-5 cosine neighbors for the probe set."""
    emb = load_table(spark, sf_dir, "embeddings")
    probes = F.broadcast(
        emb.filter(F.col("vec_id").isin(*PROBE_IDS)).select(
            F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
        )
    )
    scored = (
        probes.crossJoin(emb.select("vec_id", "embedding"))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .withColumn("score", F.round(dot("probe_vec", "embedding"), 6))
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("score").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KNN_K)
        .select("probe_id", F.col("vec_id").alias("neighbor_id"), "score", "rn")
    )


SIM_JOIN_BANDS = 8
SIM_JOIN_BAND_BITS = 4


def q_sim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity self-join blocked by label × banded sign-LSH
    (functions/banded_lsh.py): candidate pairs must share the label AND
    at least one of 8 sign-bit bands (4 dims each, dims 1-32); candidates
    dedupe, then score exactly and keep cosine >= tau.

    Scale shape: the r03 label-only blocking was per-label n² — with ~10
    labels that is (N/10)² pairs per block at 100 TB. Banded, the heavy
    join is EQUI on (label, band_id, band_key): candidates are
    bands/2^bits of the per-label n² (0.40 measured on the fixture; the
    asymptotic dial grows bits with log2(n) for the standard LSH
    n^(1+ρ)), and the verify stage touches vectors only for deduped
    candidate ids. Recall 1 − (1 − p^4)^8, p = 1 − acos(s)/π: ~75% at
    the τ = 0.4 weak-similarity floor (measured 5/5 at sf0.01), ~99% in
    the near-dup regime (s ≥ 0.8) where production τ lives. The oracle
    runs the SAME blocked semantics, so parity is by construction, not
    sampling luck."""
    from zonal_datacube_spark.functions.banded_lsh import banded_cosine_join

    emb = load_table(spark, sf_dir, "embeddings")
    return banded_cosine_join(
        emb, SIM_JOIN_TAU, SIM_JOIN_BAND_BITS, SIM_JOIN_BANDS
    )


def q_sim_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN via sign-bit LSH buckets: probes only score
    candidates in their own bucket, top-3 each."""
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "bucket", _sign_bucket("embedding")
    )
    probes = F.broadcast(
        emb.filter(F.col("vec_id").isin(*PROBE_IDS)).select(
            F.col("vec_id").alias("probe_id"),
            F.col("embedding").alias("probe_vec"),
            F.col("bucket").alias("probe_bucket"),
        )
    )
    scored = (
        probes.join(emb, F.col("bucket") == F.col("probe_bucket"))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .withColumn("score", F.round(dot("probe_vec", "embedding"), 6))
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("score").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= ANN_K)
        .select("probe_id", F.col("vec_id").alias("neighbor_id"), "bucket", "score", "rn")
    )


def q_sim_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-compressed ANN as a declared key (rows-only: codebook training is
    iterative k-means, not SQL-expressible): train on a 1/10 deterministic
    sample, encode the full corpus to 8-byte codes, ADC-score the probes
    against the codes, exact-re-rank the shortlist. The memory-bound ANN
    tier — see functions/pq.py for the 100 TB story (32× corpus
    compression, LUT hash-join scoring)."""
    from zonal_datacube_spark.functions.pq import pq_ann

    emb = load_table(spark, sf_dir, "embeddings")
    # dim=64 is the fixture contract (FIXTURES.md); passing it skips two
    # one-row discovery jobs. The fixture corpus is small (500-2000 rows),
    # so wall time here is Spark job-count overhead, not data volume —
    # one Lloyd iteration and a 1/4 training sample keep the job count
    # minimal while the exact re-rank pins final ranking quality.
    return pq_ann(
        emb, list(PROBE_IDS), k=ANN_K, iters=1, train_mod=4, dim=64,
        cache_key=corpus_key(sf_dir, ("embeddings",)),
    )


def q_sim_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF×PQ composed ANN as a declared key (rows-only: both the coarse
    k-means quantizer and the PQ codebooks are iterative training, not
    SQL-expressible). The full production stack from functions/pq.py's
    ``ivf_pq_ann``: k-means cells prune the corpus to n_probe/n_cells,
    PQ codes (8 bytes/vector) replace raw embeddings for ADC scoring,
    exact re-rank pins the final ranking. Small iteration counts keep the
    fixture run job-bound, not data-bound — at scale the training cost
    amortizes over the corpus."""
    from zonal_datacube_spark.functions.pq import ivf_pq_ann

    emb = load_table(spark, sf_dir, "embeddings")
    # dim=64 is the fixture contract; one coarse Lloyd iteration and the
    # 1/8 training sample keep the run job-bound-minimal (each training
    # collect is a full Spark job — the fixture cost is job count, not data)
    # cache_key splits index BUILD (train+encode, once per corpus)
    # from SERVE (cell-pruned ADC + re-rank, every call) — the offline
    # lifecycle a production ANN index runs; bench warms the build with
    # the other one-time index constructions
    return ivf_pq_ann(
        emb,
        list(PROBE_IDS),
        k=ANN_K,
        n_probe=3,
        n_cells=8,
        iters=1,
        train_mod=8,
        dim=64,
        kmeans_iters=1,
        cache_key=corpus_key(sf_dir, ("embeddings",)),
    )


EMBED_DUP_TAU = 0.4


def q_dedup_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: pairs above tau, blocked by the sign-bit
    LSH bucket (unlike q_sim_join's label blocking, this blocking needs no
    labels — the scale path for unlabeled corpora). Near-identical vectors
    share all leading sign bits, so true near-dups stay in-bucket."""
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "bucket", _sign_bucket("embedding")
    )
    a = emb.select(
        F.col("bucket").alias("bk"), F.col("vec_id").alias("a_id"), F.col("embedding").alias("va")
    )
    b = emb.select(
        F.col("bucket").alias("bk"), F.col("vec_id").alias("b_id"), F.col("embedding").alias("vb")
    )
    return (
        a.join(b, "bk")
        .filter(F.col("a_id") < F.col("b_id"))
        .withColumn("score", F.round(dot("va", "vb"), 6))
        .filter(F.col("score") >= EMBED_DUP_TAU)
        .select("a_id", "b_id", F.col("bk").alias("bucket"), "score")
    )


EMBED_DIM = 64


def q_sim_label_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid analytics: mean embedding per label, then each
    vector's cosine to its own label centroid, rolled up per label (count,
    avg, min cosine) — the cluster-cohesion report an embedding pipeline
    runs after assignment.

    Scale shape: the centroid is ONE groupBy pass with 64 avg aggregates
    (partial+final, JVM codegen — no explode, no per-element shuffle);
    the 10-row centroid table broadcasts back, and scoring is zip_with
    arithmetic per row. Two shuffles total regardless of corpus size."""
    emb = load_table(spark, sf_dir, "embeddings")
    cent = F.broadcast(
        emb.groupBy("label").agg(
            F.array(
                *[
                    F.avg(F.element_at("embedding", i + 1).cast("double"))
                    for i in range(EMBED_DIM)
                ]
            ).alias("centroid")
        )
    )
    scored = (
        emb.join(cent, "label")
        .withColumn(
            "cos_c",
            dot("embedding", "centroid")
            / F.sqrt(dot("centroid", "centroid")),
        )
    )
    return scored.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        F.round(F.avg("cos_c"), 6).alias("avg_cos"),
        F.round(F.min("cos_c"), 6).alias("min_cos"),
    )


_PROBES_SQL = ", ".join(str(p) for p in PROBE_IDS)

_BUCKET_SQL = " + ".join(
    f"(CASE WHEN embedding[{i + 1}] > 0 THEN {1 << i} ELSE 0 END)" for i in range(8)
)



NORM_TOL = 1e-3


def q_embed_dq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-table data quality — the checks run before ANY vector
    index build (a mis-normalized or ragged-dim batch silently corrupts
    cosine scores and PQ codebooks): per label, dimension uniformity,
    L2-norm statistics, and a count of vectors off unit norm by more
    than 1e-3. sqrt is IEEE-correctly-rounded, so norms are engine-
    portable; all map-side until the label rollup."""
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "norm",
        F.sqrt(
            F.expr(
                "aggregate(embedding, 0D,"
                " (acc, v) -> acc + cast(v AS double) * cast(v AS double))"
            )
        ),
    )
    return emb.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        F.min(F.size("embedding")).alias("min_dim"),
        F.max(F.size("embedding")).alias("max_dim"),
        F.round(F.avg("norm"), 6).alias("avg_norm"),
        F.sum(
            (F.abs(F.col("norm") - 1) > NORM_TOL).cast("bigint")
        ).alias("n_bad_norm"),
    )


KMEANS_K = 8
KMEANS_ITERS = 2  # Lloyd rounds; each is a full fixed-cost Spark job and
# the centroids barely move after round 2 on this corpus — the cheap seat
# on the accuracy/latency curve (inertia monotonicity is test-pinned)


def q_embed_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spherical k-means clustering of the embedding table
    (functions/kmeans.py): k=8 centroids, Lloyd iterations, seeds =
    first k vectors by vec_id (deterministic — no RNG). Declared
    rows-only: the iterative float fixed-point has no SQL oracle, so
    correctness is pinned by tests/test_kmeans.py (assignment
    optimality, inertia monotonicity, and the sample-fit ≡
    distributed-fit differential) plus the stable output shape here.
    Centroid FITTING runs driver-side on a bounded deterministic sample
    since r12 (the pq_train discipline — a coarse quantizer needs
    ~100·k points, not the corpus; the fixture fit was pure driver-job
    overhead, 2.9 → 0.2 s); the data-scaled ASSIGNMENT over the corpus
    below stays distributed — one aggregate pass, one shuffle. Output:
    one row per cluster with population, dominant label, and mean
    cosine to the centroid."""
    from zonal_datacube_spark.functions.kmeans import assign_cells, kmeans_fit

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = kmeans_fit(emb, k=KMEANS_K, iters=KMEANS_ITERS)
    # final assignment via the interpreted-HOF dot (dim=None): fusing a
    # k×dim literal expression into the aggregate blows the codegen
    # method-size limit (measured: compile fails, interpreted fallback,
    # +2 s), and the unrolled variant pays a fresh ~1 s JIT per call —
    # on the assignment pass the HOF is both smaller and faster.
    # keep_sim: the winning cosine rides out of the assignment aggregate,
    # so no centroid re-join / re-dot; the two per-cell readouts then fold
    # as ONE (cell, label) rollup + one k-sized cell fold (r11 trim —
    # fewer operators, identical row sets).
    # avg_cos folds on the exact 1e-9 integer grid (ADVICE r11): the raw
    # double sum's partial order is partition-layout dependent — exactly
    # the 6dp-boundary class the r11 migration retired everywhere else —
    # and this rows-only key has no DuckDB oracle to catch a flip. Each
    # sim rounds HALF_UP to nano-units (perturbation ≤ 5e-10, three
    # orders below the 6dp readout grain) and accumulates as
    # DECIMAL(38,0); the mean is then one fixed double chain per cell,
    # identical under any partitioning. |sim| ≤ 1 ⇒ ≤ 1e9/row: no
    # magnitude bound to document.
    assigned = assign_cells(emb, centroids, keep_sim=True)
    sim_e9 = wide(half_up(F.col("sim"), F.lit(1e9)))
    by_label = assigned.groupBy("cell", "label").agg(
        F.count("*").alias("n_label"),
        F.sum(sim_e9).alias("sum_sim_e9"),
    )
    return by_label.groupBy("cell").agg(
        F.sum("n_label").alias("n_vecs"),
        F.max(
            F.struct(
                F.col("n_label"),
                # deterministic tie-break: lexicographically last label
                F.col("label").alias("label"),
            )
        )["label"].alias("top_label"),
        F.round(
            F.sum("sum_sim_e9").cast("double") / F.sum("n_label") / 1e9, 6
        ).alias("avg_cos"),
    ).select("cell", "n_vecs", "top_label", "avg_cos")


MRL_DIM = 16
MRL_PROBE_MOD = 40
MRL_K = 5


def q_embed_matryoshka_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation quality evaluation: how much top-5 recall
    survives when the 64-dim embeddings are truncated to their first 16
    dims (the MRL deployment trade — smaller vectors, cheaper ANN)? For
    a deterministic probe slice (vec_id % 40 == 0) one broadcast pass
    scores BOTH similarities — full-dim dot (unit-norm ⇒ cosine) and
    truncated cosine (re-normalized, since truncation changes norms and
    therefore rankings) — and two row_number windows rank them; recall@5
    is the per-probe overlap of the two top-5 sets, averaged per label.
    The probe side broadcasts (q_sim_knn's pattern), the base scans
    once; at corpus scale the truncated tier would feed the LSH/IVF
    blocks, with this key as its quality gate — the measurement a
    production MRL rollout ships with (q_dedup_minhash_eval's
    discipline)."""
    emb = load_table(spark, sf_dir, "embeddings")
    probes = F.broadcast(
        emb.filter(F.col("vec_id") % MRL_PROBE_MOD == 0).select(
            F.col("vec_id").alias("p_id"),
            F.col("label").alias("p_label"),
            F.col("embedding").alias("p_vec"),
        )
    )
    pairs = (
        probes.crossJoin(emb.select(F.col("vec_id").alias("b_id"), "embedding"))
        .filter(F.col("b_id") != F.col("p_id"))
        .withColumn("p_t", F.slice("p_vec", 1, MRL_DIM))
        .withColumn("b_t", F.slice("embedding", 1, MRL_DIM))
        .select(
            "p_id",
            "p_label",
            "b_id",
            F.round(dot("p_vec", "embedding"), 6).alias("full_score"),
            F.round(
                dot("p_t", "b_t")
                / (F.sqrt(dot("p_t", "p_t")) * F.sqrt(dot("b_t", "b_t"))),
                6,
            ).alias("trunc_score"),
        )
    )
    w_full = Window.partitionBy("p_id").orderBy(
        F.col("full_score").desc(), F.col("b_id").asc()
    )
    w_trunc = Window.partitionBy("p_id").orderBy(
        F.col("trunc_score").desc(), F.col("b_id").asc()
    )
    ranked = pairs.select(
        "p_id",
        "p_label",
        "b_id",
        F.row_number().over(w_full).alias("rn_f"),
        F.row_number().over(w_trunc).alias("rn_t"),
    )
    top_full = ranked.filter(F.col("rn_f") <= MRL_K).select(
        "p_id", "p_label", "b_id"
    )
    top_trunc = ranked.filter(F.col("rn_t") <= MRL_K).select("p_id", "b_id")
    hits = (
        top_full.join(top_trunc, ["p_id", "b_id"])
        .groupBy("p_id")
        .agg(F.count("*").alias("n_hit"))
    )
    per_probe = (
        top_full.select("p_id", "p_label")
        .distinct()
        .join(hits, "p_id", "left")
        .select(
            "p_label",
            (F.coalesce(F.col("n_hit"), F.lit(0)) / F.lit(float(MRL_K))).alias(
                "recall"
            ),
        )
    )
    return (
        per_probe.groupBy("p_label")
        .agg(
            F.count("*").alias("n_probes"),
            F.round(F.avg("recall"), 6).alias("avg_recall_at_5"),
        )
    )

# ---------------------------------------------------------------------------
# cost-bounded auto-bits similarity join
# ---------------------------------------------------------------------------

SIM_AUTO_BANDS = 8  # dim 64 = bands × max bits keeps every band in-vector
SIM_AUTO_TARGET_OCC = 16  # target rows per (band, key) bucket
SIM_AUTO_MIN_BITS = 2
SIM_AUTO_MAX_BITS = 8


def _auto_bits(n: int) -> int:
    """Smallest ``b`` with ``TARGET_OCC · 2^b ≥ n``, clamped to
    [MIN_BITS, MAX_BITS] — i.e. the band width that holds expected
    per-bucket occupancy at ~TARGET_OCC under uniformly-spread signs
    (bucket ≈ n/2^bits). Pure integer arithmetic: the ladder compares
    n against TARGET_OCC << b, so the Spark side (this function, at
    plan time) and the DuckDB oracle (a CASE ladder over the same
    thresholds) cannot disagree on a boundary the way a float
    ceil(log2(·)) could."""
    b = SIM_AUTO_MIN_BITS
    while b < SIM_AUTO_MAX_BITS and n > (SIM_AUTO_TARGET_OCC << b):
        b += 1
    return b


# the identical ladder as SQL (generated from the same constants so the
# two sides can never drift)
_BITS_CASE_SQL = "CASE " + " ".join(
    f"WHEN n <= {SIM_AUTO_TARGET_OCC << b} THEN {b}"
    for b in range(SIM_AUTO_MIN_BITS, SIM_AUTO_MAX_BITS)
) + f" ELSE {SIM_AUTO_MAX_BITS} END"


def q_sim_join_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-bounded similarity self-join: banded sign-LSH blocking where
    the band width is chosen AT PLAN TIME from the corpus row count —
    bits = smallest b with 16·2^b ≥ n (clamped [2, 8]), i.e. the
    standard "grow bits with log2(n)" LSH dial that keeps expected
    bucket occupancy (and with it candidate volume ≈ bands·n·occ)
    LINEAR in n instead of quadratic. ``q_sim_join`` pins (bits=4,
    bands=8) so its cost model is fixture-tuned; this tier is what a
    deployment actually runs: the same blocking, sized by the data.

    The row count is one COUNT aggregate (scalar collect — the loud-
    guard control-plane class; a production catalog would serve it from
    table statistics without a scan). Both the count and the ladder are
    exact integers, the oracle recomputes them in SQL, and the chosen
    ``bits``/``n_corpus`` ride the output so the driver's hash compare
    attests the selection itself, not just the pairs."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    bits = _auto_bits(n)
    pairs = banded_cosine_join(emb, SIM_JOIN_TAU, bits, SIM_AUTO_BANDS)
    return pairs.select(
        "label",
        "a_id",
        "b_id",
        "score",
        F.lit(n).cast("bigint").alias("n_corpus"),
        F.lit(bits).cast("int").alias("bits"),
    )


QUERIES = {
    "q_sim_knn": q_sim_knn,
    "q_embed_kmeans": q_embed_kmeans,
    "q_embed_dq": q_embed_dq,
    "q_sim_join": q_sim_join,
    "q_sim_lsh_ann": q_sim_lsh_ann,
    "q_sim_pq_ann": q_sim_pq_ann,
    "q_sim_ivfpq": q_sim_ivfpq,
    "q_dedup_embed": q_dedup_embed,
    "q_sim_label_centroid": q_sim_label_centroid,
    "q_embed_matryoshka_eval": q_embed_matryoshka_eval,
    "q_sim_join_auto": q_sim_join_auto,
}

ORACLE = {
    "q_embed_matryoshka_eval": f"""
        WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
                   FROM embeddings),
        p AS (SELECT * FROM e WHERE vec_id % {MRL_PROBE_MOD} = 0),
        pairs AS (
            SELECT p.vec_id AS p_id, p.label AS p_label, e.vec_id AS b_id,
                   round(list_inner_product(p.v, e.v), 6) AS full_score,
                   round(list_inner_product(p.v[1:{MRL_DIM}],
                                            e.v[1:{MRL_DIM}])
                         / (sqrt(list_inner_product(p.v[1:{MRL_DIM}],
                                                    p.v[1:{MRL_DIM}]))
                            * sqrt(list_inner_product(e.v[1:{MRL_DIM}],
                                                      e.v[1:{MRL_DIM}]))),
                         6) AS trunc_score
            FROM p CROSS JOIN e
            WHERE e.vec_id <> p.vec_id
        ),
        ranked AS (
            SELECT p_id, p_label, b_id,
                   row_number() OVER (PARTITION BY p_id
                                      ORDER BY full_score DESC, b_id) AS rn_f,
                   row_number() OVER (PARTITION BY p_id
                                      ORDER BY trunc_score DESC, b_id) AS rn_t
            FROM pairs
        ),
        tf AS (SELECT p_id, p_label, b_id FROM ranked WHERE rn_f <= {MRL_K}),
        tt AS (SELECT p_id, b_id FROM ranked WHERE rn_t <= {MRL_K}),
        hits AS (SELECT p_id, count(*) AS n_hit
                 FROM tf JOIN tt USING (p_id, b_id) GROUP BY 1),
        pp AS (SELECT DISTINCT p_id, p_label FROM tf),
        rec AS (
            SELECT pp.p_label, coalesce(h.n_hit, 0) / {MRL_K}.0 AS recall
            FROM pp LEFT JOIN hits h USING (p_id)
        )
        SELECT p_label, count(*)::BIGINT AS n_probes,
               round(avg(recall), 6) AS avg_recall_at_5
        FROM rec GROUP BY p_label ORDER BY p_label
    """,
    "q_embed_dq": f"""
        WITH e AS (
            SELECT label, embedding,
                   sqrt(list_sum(list_transform(embedding::DOUBLE[],
                                                v -> v * v))) AS norm
            FROM embeddings
        )
        SELECT label,
               count(*) AS n_vecs,
               min(len(embedding))::INT AS min_dim,
               max(len(embedding))::INT AS max_dim,
               round(avg(norm), 6) AS avg_norm,
               sum(CASE WHEN abs(norm - 1) > {NORM_TOL} THEN 1 ELSE 0
                   END)::BIGINT AS n_bad_norm
        FROM e GROUP BY label
    """,
    "q_sim_label_centroid": f"""
        WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        cent AS (
            SELECT label, idx, avg(v[idx]) AS cval
            FROM e, generate_series(1, {EMBED_DIM}) AS t(idx)
            GROUP BY label, idx
        ),
        carr AS (SELECT label, list(cval ORDER BY idx) AS c FROM cent GROUP BY label),
        scored AS (
            SELECT e.vec_id, e.label,
                   list_inner_product(e.v, c.c)
                   / sqrt(list_inner_product(c.c, c.c)) AS cos_c
            FROM e JOIN carr c ON e.label = c.label
        )
        SELECT label, count(*) AS n_vecs,
               round(avg(cos_c), 6) AS avg_cos,
               round(min(cos_c), 6) AS min_cos
        FROM scored GROUP BY label
    """,
    "q_sim_knn": f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        scored AS (
            SELECT p.vec_id AS probe_id, e.vec_id AS neighbor_id,
                   round(list_inner_product(p.v, e.v), 6) AS score
            FROM (SELECT * FROM e WHERE vec_id IN ({_PROBES_SQL})) p
            CROSS JOIN e
            WHERE e.vec_id <> p.vec_id
        )
        SELECT probe_id, neighbor_id, score,
               row_number() OVER (PARTITION BY probe_id
                                  ORDER BY score DESC, neighbor_id ASC) AS rn
        FROM scored
        QUALIFY rn <= {KNN_K}
    """,
    "q_sim_join": f"""
        WITH e AS (
            SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
        ),
        bands AS (
            SELECT vec_id, label, k,
                   list_transform(
                       v[k * {SIM_JOIN_BAND_BITS} + 1 :
                         k * {SIM_JOIN_BAND_BITS} + {SIM_JOIN_BAND_BITS}],
                       x -> CASE WHEN x > 0 THEN 1 ELSE 0 END) AS bk
            FROM e, generate_series(0, {SIM_JOIN_BANDS - 1}) AS t(k)
        ),
        cand AS (
            SELECT DISTINCT a.label, a.vec_id AS a_id, b.vec_id AS b_id
            FROM bands a JOIN bands b
              ON a.label = b.label AND a.k = b.k AND a.bk = b.bk
             AND a.vec_id < b.vec_id
        )
        SELECT c.label, c.a_id, c.b_id,
               round(list_inner_product(ea.v, eb.v), 6) AS score
        FROM cand c
        JOIN e ea ON c.a_id = ea.vec_id
        JOIN e eb ON c.b_id = eb.vec_id
        WHERE round(list_inner_product(ea.v, eb.v), 6) >= {SIM_JOIN_TAU}
    """,
    "q_dedup_embed": f"""
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v,
                   ({_BUCKET_SQL})::BIGINT AS bucket
            FROM embeddings
        )
        SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.bucket AS bucket,
               round(list_inner_product(a.v, b.v), 6) AS score
        FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE round(list_inner_product(a.v, b.v), 6) >= {EMBED_DUP_TAU}
    """,
    "q_sim_lsh_ann": f"""
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v,
                   ({_BUCKET_SQL})::BIGINT AS bucket
            FROM embeddings
        ),
        scored AS (
            SELECT p.vec_id AS probe_id, e.vec_id AS neighbor_id, e.bucket,
                   round(list_inner_product(p.v, e.v), 6) AS score
            FROM (SELECT * FROM e WHERE vec_id IN ({_PROBES_SQL})) p
            JOIN e ON e.bucket = p.bucket
            WHERE e.vec_id <> p.vec_id
        )
        SELECT probe_id, neighbor_id, bucket, score,
               row_number() OVER (PARTITION BY probe_id
                                  ORDER BY score DESC, neighbor_id ASC) AS rn
        FROM scored
        QUALIFY rn <= {ANN_K}
    """,
    "q_sim_join_auto": f"""
        WITH e AS (
            SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
        ),
        stats AS (SELECT count(*)::BIGINT AS n FROM e),
        sel AS (SELECT n, ({_BITS_CASE_SQL}) AS bits FROM stats),
        bands AS (
            SELECT vec_id, label, k,
                   list_transform(
                       v[k * bits + 1 : k * bits + bits],
                       x -> CASE WHEN x > 0 THEN 1 ELSE 0 END) AS bk
            FROM e, sel, generate_series(0, {SIM_AUTO_BANDS - 1}) AS t(k)
        ),
        cand AS (
            SELECT DISTINCT a.label, a.vec_id AS a_id, b.vec_id AS b_id
            FROM bands a JOIN bands b
              ON a.label = b.label AND a.k = b.k AND a.bk = b.bk
             AND a.vec_id < b.vec_id
        )
        SELECT c.label, c.a_id, c.b_id,
               round(list_inner_product(ea.v, eb.v), 6) AS score,
               s.n::BIGINT AS n_corpus, s.bits::INT AS bits
        FROM cand c
        JOIN e ea ON c.a_id = ea.vec_id
        JOIN e eb ON c.b_id = eb.vec_id
        CROSS JOIN sel s
        WHERE round(list_inner_product(ea.v, eb.v), 6) >= {SIM_JOIN_TAU}
    """,
}
