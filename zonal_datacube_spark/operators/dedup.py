"""Deduplication operators (SURVEY.md §2.8, §2.10) — the LLM-pipeline core.

Four tiers, each with the scale story a 100 TB corpus needs:

- exact (`q_dedup_exact`): content-hash groupBy — one shuffle on the hash,
  partial aggregation upstream;
- distinct rows (`q_distinct_rows`): distinct-to-aggregate rewrite;
- near-dup exact-Jaccard (`q_dedup_near`): prefix-filtered inverted shingle
  index — candidate pairs must share a *prefix* shingle (lossless, Bayardo
  et al. WWW'07), then exact intersection verification;
- MinHash-LSH (`q_dedup_minhash`): 9 portable min-hashes banded 3×3 —
  candidates must share a full band, verified with true Jaccard;
- SimHash (`q_dedup_simhash`): 16-bit vote signature, banded pair scan.

Shared scale design: every *signature* (sorted prefix, min-hash, simhash)
is computed per-row from a persisted (doc_id, shingle-array) table via
JVM array expressions — embarrassingly parallel map work, zero shuffles.
The only shuffles anywhere are the candidate equi-joins and the
verification aggregates, and verification always broadcasts the (small)
candidate set into the shingle table rather than shuffling the corpus.

Portability: the min-hash uses md5 over salted shingles and *string* min —
byte-identical in Spark and DuckDB (no engine hash functions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from zonal_datacube_spark.functions.exact import dot
from zonal_datacube_spark.functions.text_funcs import shingles, tokens
from zonal_datacube_spark.sources.loader import load_table

NEAR_DUP_TAU = 0.8  # planted near-dups in the fixture sit at J >= 0.9
MINHASH_SEEDS = 9  # 3 bands x 3 rows
MINHASH_BANDS = 3


def q_distinct_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.select("l_returnflag", "l_linestatus").distinct()


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash: keep the min doc_id per md5(text)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.withColumn("h", F.md5("text"))
        .groupBy("h")
        .agg(
            F.min("doc_id").alias("kept_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


def _doc_shingle_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted (doc_id, shs: array<string>, n_sh) — ONE row per doc.

    This is the shared input of every near-dup tier: signatures derive from
    it per-row (narrow, no shuffle) and the exploded inverted index derives
    from it with a single explode. Persisting the compact array form (not
    the exploded rows) keeps the cache ~|corpus tokens| with no row
    explosion; Spark's CacheManager dedupes by analyzed plan, so all tiers
    in one session share one cached copy per sf_dir. MEMORY_AND_DISK: at
    100 TB the table spills rather than recomputes."""
    docs = load_table(spark, sf_dir, "documents").withColumn("t", tokens())
    return (
        docs.filter(F.size("t") >= 3)
        .select("doc_id", shingles("t").alias("shs"))
        .withColumn("n_sh", F.size("shs"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )


def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exploded inverted-index view (doc_id, sh) over the persisted arrays."""
    return _doc_shingle_arrays(spark, sf_dir).select(
        "doc_id", F.explode("shs").alias("sh")
    )


def _verify_jaccard(cand: DataFrame, arrays: DataFrame) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs.

    ``cand`` must have (a_id, b_id, na, nb); ``arrays`` is the per-doc
    shingle-array table. Intersections are computed with
    ``array_intersect`` on the two (distinct-element) arrays — per-row
    map work, no explode and no pair-level aggregate. No join hints:
    candidates are a tiny fraction of the corpus (that is the point of
    blocking), and the slim side must be the one broadcast — forcing a
    broadcast of the array-carrying intermediate ships |cand|·|doc|
    strings to every executor, measurably slower even locally. AQE picks
    the candidate side at any scale."""
    a = arrays.select(F.col("doc_id").alias("a_id"), F.col("shs").alias("shs_a"))
    b = arrays.select(F.col("doc_id").alias("b_id"), F.col("shs").alias("shs_b"))
    both = cand.join(a, "a_id").join(b, "b_id")
    return (
        both.withColumn(
            "inter", F.size(F.array_intersect("shs_a", "shs_b")).cast("bigint")
        )
        .withColumn(
            "jaccard", F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
        )
        .drop("shs_a", "shs_b")
    )


def q_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by exact shingle-set Jaccard >= tau.

    Sub-quadratic candidate generation via *prefix filtering* (Bayardo et
    al., WWW'07 "Scaling Up All Pairs Similarity Search"): order each
    doc's shingles by a global total order and index only the first
    ``n − ceil(τ·n) + 1``. Any pair with J ≥ τ has overlap
    ≥ ceil(τ·max(|A|,|B|)), so both prefixes must intersect: the filter
    is lossless under ANY consistent total order. The order used is
    frequency-ASCENDING (ties broken by the shingle itself) — the
    canonical choice: prefixes then hold each doc's *rarest* shingles, so
    inverted-index buckets stay tiny even though the corpus' hot shingles
    are shared by thousands of docs (a hash order would sample hot
    shingles into prefixes and re-create the bucket blowup). The
    shingle-frequency table is keyed by SHINGLE — distinct 5-token
    shingles grow near-linearly with corpus size, so it is NOT
    broadcast-hinted: the equi-join on ``sh`` shuffle hash joins, and AQE
    broadcasts at runtime only when the built side actually fits.
    Length-bound pruning (min ≥ τ·max, also lossless) runs inside the
    join probe; exact intersection counts verify the survivors."""
    from pyspark.sql import Window

    sh = _doc_shingles(spark, sf_dir)
    freq = sh.groupBy("sh").agg(F.count("*").alias("f"))
    w = Window.partitionBy("doc_id")
    ranked = (
        sh.join(freq, "sh")
        .select(
            "doc_id",
            "sh",
            F.row_number().over(w.orderBy("f", "sh")).alias("rk"),
            F.count("*").over(w).alias("n_sh"),
        )
    )
    prefix = ranked.filter(
        F.col("rk") <= F.col("n_sh") - F.ceil(F.lit(NEAR_DUP_TAU) * F.col("n_sh")) + 1
    )
    a = prefix.select(
        F.col("doc_id").alias("a_id"),
        F.col("sh").alias("sh_a"),
        F.col("n_sh").alias("na"),
        F.col("rk").alias("rk_a"),
    )
    b = prefix.select(
        F.col("doc_id").alias("b_id"),
        F.col("sh").alias("sh_b"),
        F.col("n_sh").alias("nb"),
        F.col("rk").alias("rk_b"),
    )
    # positional filter (PPJoin, Xiao et al.): a match at prefix positions
    # (i, j) bounds the overlap by 1 + min(na−i, nb−j); pairs that cannot
    # reach the required overlap α = ceil(τ(na+nb)/(1+τ)) die inside the
    # probe. Lossless: a qualifying pair's FIRST shared token in the
    # global order carries the loosest bound, which passes. The 1e-9 nudge
    # keeps float ceil from over-pruning when the bound is an exact int.
    alpha = F.expr(
        f"cast(ceil((na + nb) * {NEAR_DUP_TAU} / (1 + {NEAR_DUP_TAU}) - 1e-9) AS int)"
    )
    cand = (
        a.join(
            b,
            (F.col("sh_a") == F.col("sh_b"))
            & (F.col("a_id") < F.col("b_id"))
            & (F.least("na", "nb") >= NEAR_DUP_TAU * F.greatest("na", "nb"))
            & (
                1 + F.least(F.col("na") - F.col("rk_a"), F.col("nb") - F.col("rk_b"))
                >= alpha
            ),
        )
        .select("a_id", "b_id", "na", "nb")
        .distinct()
    )
    j = _verify_jaccard(cand, _doc_shingle_arrays(spark, sf_dir))
    return j.filter(F.col("jaccard") >= NEAR_DUP_TAU).select(
        "a_id", "b_id", "inter", F.round("jaccard", 6).alias("jaccard")
    )


CONTAIN_TAU = 0.9


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric CONTAINMENT detection: C(A→B) = |A∩B| / |A| ≥ 0.9 —
    finds documents embedded inside larger ones (quotes, mirrors with
    boilerplate, provenance tracking), which symmetric Jaccard misses
    outright (a small doc inside a huge one has J ≈ |A|/|B| ≈ 0).

    Candidate generation adapts prefix filtering to the asymmetric
    denominator: only the CONTAINED side is prefix-filtered (its
    |A| − ⌈τ·|A|⌉ + 1 rarest shingles — sharing none of them caps the
    overlap below ⌈τ·|A|⌉, so the filter is lossless), while the
    container side is fully indexed; bucket sizes stay small because
    prefixes hold each doc's rarest shingles. Orientation: the smaller
    set is the contained side (ties by id), so each pair reports once.

    Scale contract: the shingle-frequency table is data-scaled (distinct
    shingles grow with the corpus), so the ranking join on ``sh`` carries
    no broadcast hint — AQE promotes it to a broadcast only when the
    built side actually fits at runtime."""
    from pyspark.sql import Window

    sh = _doc_shingles(spark, sf_dir)
    freq = sh.groupBy("sh").agg(F.count("*").alias("f"))
    w = Window.partitionBy("doc_id")
    ranked = sh.join(freq, "sh").select(
        "doc_id",
        "sh",
        F.row_number().over(w.orderBy("f", "sh")).alias("rk"),
        F.count("*").over(w).alias("n_sh"),
    )
    prefix_a = ranked.filter(
        F.col("rk")
        <= F.col("n_sh") - F.ceil(F.lit(CONTAIN_TAU) * F.col("n_sh")) + 1
    ).select(
        F.col("doc_id").alias("a_id"),
        F.col("sh").alias("sh_a"),
        F.col("n_sh").alias("na"),
    )
    full_b = ranked.select(
        F.col("doc_id").alias("b_id"),
        F.col("sh").alias("sh_b"),
        F.col("n_sh").alias("nb"),
    )
    cand = (
        prefix_a.join(
            full_b,
            (F.col("sh_a") == F.col("sh_b"))
            & (
                (F.col("na") < F.col("nb"))
                | ((F.col("na") == F.col("nb")) & (F.col("a_id") < F.col("b_id")))
            ),
        )
        .select("a_id", "b_id", "na", "nb")
        .distinct()
    )
    verified = _verify_jaccard(cand, _doc_shingle_arrays(spark, sf_dir))
    return (
        verified.withColumn("containment", F.col("inter") / F.col("na"))
        .filter(F.col("containment") >= CONTAIN_TAU)
        .select(
            "a_id",
            "b_id",
            "inter",
            F.round("containment", 6).alias("containment"),
        )
    )


def _minhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_sh, band, bv) — each doc's 3 LSH band values from the 9
    portable md5 min-hashes. All 9 min-hashes come from ONE codegen'd
    groupBy pass over the cached shingle table (9 aggregate expressions,
    single shuffle on doc_id) — an `array_min(transform(...))` per-row
    formulation would avoid the shuffle but higher-order-function lambdas
    evaluate interpreted, ~3× slower end-to-end at this md5 volume. The
    n_docs-row signature is persisted; bands come from one explode (not a
    3-way union), so the signature subplan appears once per join side and
    computes once. Shared by q_dedup_minhash (full pairwise tier) and
    q_dedup_incremental (batch-probe maintenance tier, below)."""
    sh = _doc_shingles(spark, sf_dir)
    rows_per_band = MINHASH_SEEDS // MINHASH_BANDS
    sig = (
        sh.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_sh"),
            *[
                F.min(F.md5(F.concat_ws("|", F.lit(str(s)), "sh"))).alias(f"h{s}")
                for s in range(MINHASH_SEEDS)
            ],
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    return sig.select(
        "doc_id",
        "n_sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bnd).alias("band"),
                        F.concat(
                            *[F.col(f"h{bnd * rows_per_band + r}") for r in range(rows_per_band)]
                        ).alias("bv"),
                    )
                    for bnd in range(MINHASH_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "n_sh", "bb.band", "bb.bv")


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup: banded min-hash candidates verified with true
    Jaccard. Output = verified candidate pairs (the sub-quadratic plan).

    Candidate generation and signature mechanics live in _minhash_bands
    (shared with the incremental maintenance tier)."""
    bands = _minhash_bands(spark, sf_dir)
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
            F.col("a.n_sh").alias("na"),
            F.col("b.n_sh").alias("nb"),
        )
        .distinct()
    )
    j = _verify_jaccard(cand, _doc_shingle_arrays(spark, sf_dir))
    return j.select("a_id", "b_id", F.round("jaccard", 6).alias("jaccard"))


def q_dedup_minhash_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH QUALITY evaluation — the measurement a production dedup
    pipeline ships next to its MinHash tier: candidate-generation
    precision and recall against exact ground truth at the dedup
    threshold. Ground truth = every pair with true Jaccard ≥ τ (the
    lossless prefix-filtered exact pass, q_dedup_near); candidates = the
    banded-MinHash pairs with their verified Jaccard (q_dedup_minhash).
    A candidate with J ≥ τ IS a truth pair (the exact pass is lossless),
    so TP needs no join — recall = TP/|truth| measures what the 3×3
    banding misses, precision = TP/|candidates| measures wasted exact
    verifications. One scalar row; both inputs reuse the session-wide
    shingle/signature caches."""
    cand = q_dedup_minhash(spark, sf_dir)
    truth = q_dedup_near(spark, sf_dir)
    stats = cand.agg(
        F.count("*").alias("n_cand"),
        F.sum((F.col("jaccard") >= NEAR_DUP_TAU).cast("bigint")).alias(
            "n_tp"
        ),
    ).crossJoin(F.broadcast(truth.agg(F.count("*").alias("n_truth"))))
    return stats.select(
        "n_truth",
        "n_cand",
        "n_tp",
        F.round(F.col("n_tp") / F.col("n_truth"), 6).alias("recall"),
        F.round(F.col("n_tp") / F.col("n_cand"), 6).alias("precision"),
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the near-dup pair graph — the step a real
    dedup pipeline runs after pair generation: A≈B and B≈C must collapse
    into ONE cluster even when A≈C wasn't emitted, else two of the three
    survive dedup.

    Pair source: the MinHash-LSH tier filtered to J ≥ τ — the sub-quadratic
    production path (its signature caches are shared session-wide); LSH can
    in principle miss a qualifying pair that shares no band, which is the
    documented recall trade of LSH-based dedup at scale.

    Algorithm: min-label propagation. Every doc in a pair starts labeled
    with itself; each round, label := min over neighbors-plus-self of the
    current labels (self-loop edges make that ONE join + ONE aggregate per
    round); converged when a round changes nothing. This is the standard
    distributed connected-components shape — propagation touches only the
    pair graph, never non-duplicate docs. Rounds are bounded by component
    diameter; the loop exits on a converged check, not a guess. Output:
    (doc_id, cluster_id = min doc_id of the component), one row per doc
    that appears in at least one pair."""
    # the pair graph is output-sized (dup pairs only) — orders of magnitude
    # smaller than the corpus. Right-size its partitioning before the loop:
    # over-partitioned tiny caches make every propagation stage pay 32
    # tasks + broadcast builds of near-empty partitions (measured ~2× the
    # whole query). At real scale, size ∝ |pairs| instead of 1.
    pairs = (
        q_dedup_minhash(spark, sf_dir)
        .filter(F.col("jaccard") >= NEAR_DUP_TAU)
        .select("a_id", "b_id")
        .repartition(1)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    nodes = pairs.select(F.col("a_id").alias("doc_id")).union(
        pairs.select("b_id")
    ).distinct()
    edges = (
        pairs.union(pairs.select(F.col("b_id"), F.col("a_id")))
        .union(nodes.select("doc_id", "doc_id"))  # self-loops keep own label
        .toDF("a", "b")
    )
    labels = nodes.withColumn("cluster_id", F.col("doc_id"))

    def step(lbl: DataFrame) -> DataFrame:
        return (
            edges.join(lbl, edges.b == lbl.doc_id)
            .groupBy(F.col("a").alias("doc_id"))
            .agg(F.min("cluster_id").alias("cluster_id"))
        )

    # two propagation rounds per convergence check: Spark actions (job
    # submissions) dominate on the tiny edge set, so halve them — the
    # check only needs "the LAST round changed nothing"
    while True:
        r1 = step(labels).persist(StorageLevel.MEMORY_AND_DISK)
        r2 = step(r1).persist(StorageLevel.MEMORY_AND_DISK)
        changed = (
            r2.alias("u")
            .join(r1.alias("l"), "doc_id")
            .filter(F.col("u.cluster_id") != F.col("l.cluster_id"))
            .count()
        )
        labels = r2
        if changed == 0:
            break
    return labels


SIMHASH_BITS = 16
SIMHASH_MAX_HAMMING = 1


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 16-bit signature over the shingle set (sign of
    per-bit vote across md5(shingle) bits), pairs at hamming distance <= 1.

    Portable bit plumbing: hex-digit value via locate/strpos into a hex
    alphabet, bit extraction via integer div/mod — byte-identical in both
    engines. The signature build is ONE codegen'd groupBy pass: 16 per-bit
    vote sums as aggregate expressions over the shingle rows, then bit
    assembly from the 16 sums — no shingles×16 explode, one shuffle on
    doc_id (same single-pass shape as the minhash signature). The
    n_docs-row signature table is persisted because both self-join sides
    reference it. The pair scan is *banded*, never all-pairs: split the
    16 bits into 2 bands of 8; hamming ≤ 1 means the single differing bit
    lies in one band, so the other band matches exactly — an equi-join on
    (band, value) finds every qualifying pair (lossless), then exact
    hamming is the residual filter. Hash-join scaling instead of n²
    comparisons."""
    sh = _doc_shingles(spark, sf_dir)
    # per-bit vote: hex digit j div 4 of md5(sh), bit j%4 of that digit,
    # mapped to ±1 — positions precomputed per j, so each sum is a plain
    # codegen expression over the row's md5
    vote_sums = [
        F.sum(
            F.expr(
                f"((locate(substr(md5(sh), {1 + j // 4}, 1), '0123456789abcdef') - 1)"
                f" div {(8, 4, 2, 1)[j % 4]}) % 2 * 2 - 1"
            )
        ).alias(f"s{j}")
        for j in range(SIMHASH_BITS)
    ]
    assemble = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(SIMHASH_BITS)
    )
    sig = (
        sh.groupBy("doc_id")
        .agg(*vote_sums)
        .select("doc_id", F.expr(f"cast({assemble} AS bigint)").alias("simhash"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    banded = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("band"), F.expr("simhash % 256").alias("bv")),
                F.struct(F.lit(1).alias("band"), F.expr("simhash div 256").alias("bv")),
            )
        ).alias("bb"),
    ).select("doc_id", "simhash", "bb.band", "bb.bv")
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
            F.expr("bit_count(a.simhash ^ b.simhash)").cast("bigint").alias("hamming"),
        )
        .distinct()  # a hamming-0 pair matches in both bands
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
    )


SEMANTIC_COS_TAU = 0.4
SEMANTIC_JACCARD_TAU = 0.5


def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-tier cross-modal dedup — the shape production semantic dedup
    takes (e.g. SemDeDup, Abbas et al. 2023): a cheap embedding-space
    candidate tier with high recall, then a lexical verification tier for
    precision. Candidates come from the sign-bit-LSH bucketed cosine pairs
    (never all-pairs — same blocking as q_dedup_embed); each candidate
    pair then joins the documents table on id and is scored with exact
    token-set Jaccard, JVM-side via array_intersect on pre-distinct token
    arrays.

    Scale: the pair set is output-sized (dup candidates only), so the two
    verification joins are pair⋈doc equi-joins on the doc key — the corpus
    token table shuffles once per side at most and the expensive lexical
    compare runs only on candidates, not on n² pairs."""
    from zonal_datacube_spark.operators.similarity import _sign_bucket

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "bucket", _sign_bucket("embedding")
    )
    a = emb.select(
        F.col("bucket").alias("bk"), F.col("vec_id").alias("a_id"), F.col("embedding").alias("va")
    )
    b = emb.select(
        F.col("bucket").alias("bk"), F.col("vec_id").alias("b_id"), F.col("embedding").alias("vb")
    )
    pairs = (
        a.join(b, "bk")
        .filter(F.col("a_id") < F.col("b_id"))
        .withColumn("cos", F.round(dot("va", "vb"), 6))
        .filter(F.col("cos") >= SEMANTIC_COS_TAU)
        .select("a_id", "b_id", "cos")
    )
    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.array_distinct(tokens()).alias("ts")
    )
    ta = toks.select(F.col("doc_id").alias("a_id"), F.col("ts").alias("ts_a"))
    tb = toks.select(F.col("doc_id").alias("b_id"), F.col("ts").alias("ts_b"))
    inter = F.size(F.array_intersect("ts_a", "ts_b"))
    union = F.size("ts_a") + F.size("ts_b") - inter
    return (
        pairs.join(ta, "a_id")
        .join(tb, "b_id")
        .withColumn("jaccard", F.round(inter.cast("double") / union, 6))
        .select(
            "a_id",
            "b_id",
            "cos",
            "jaccard",
            (F.col("jaccard") >= SEMANTIC_JACCARD_TAU).alias("confirmed"),
        )
    )


_SH_CTE = """
        toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
        sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
               FROM toks, unnest(range(1, len(t) - 1)) AS u(i)
               WHERE len(t) >= 3),
        sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id)
"""


ER_MAX_DIST = 2


def _er_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_brand",
        "p_name",
        F.substring("p_name", 1, 1).alias("blk"),
    )


def _er_fuzzy_naive(parts: DataFrame) -> DataFrame:
    """The row-grain formulation (every (brand, blk)-colocated part pair
    through levenshtein) — kept as the differential referee for the
    name-grain rewrite below. Correct at any SF, quadratic in duplicate
    density: with d copies per name the PAIR SET itself is Θ(d²), which
    the round-10 full-coverage SCALING run measured as a 9.95× marginal
    ratio (0.24 s → 2.42 s per 10× data) — the plan that does not
    survive scale-up."""
    a = parts.select(
        F.col("p_partkey").alias("a_key"),
        F.col("p_brand").alias("p_brand"),
        F.col("blk").alias("blk"),
        F.col("p_name").alias("a_name"),
    )
    b = parts.select(
        F.col("p_partkey").alias("b_key"),
        F.col("p_brand").alias("b_brand"),
        F.col("blk").alias("b_blk"),
        F.col("p_name").alias("b_name"),
    )
    pairs = a.join(
        b,
        (a.p_brand == b.b_brand)
        & (a.blk == b.b_blk)
        & (a.a_key < b.b_key),
    ).withColumn("dist", F.levenshtein("a_name", "b_name"))
    return (
        pairs.filter(F.col("dist") <= ER_MAX_DIST)
        .groupBy("p_brand", "dist")
        .agg(
            F.count("*").alias("n_pairs"),
            F.countDistinct("a_key").alias("n_left_entities"),
        )
    )


def q_er_fuzzy_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy entity resolution (record linkage): for every part
    pair within a (brand, first-letter) block whose names are within
    levenshtein distance 2, report per (brand, dist) the pair count and
    the distinct left (smaller-key) entities — the catalog-dedup shape.

    Computed on the NAME GRAIN (the q_text_bpe_pairs types-not-tokens
    discipline, round-10 rewrite): real catalogs carry heavy duplicate
    groups, so the row-grain pair set is Θ(d²) in per-name duplication d
    — enumerating it is the plan that dies at 100 TB (measured 9.95×
    wall per 10× data on the fixture's ~31-copy groups). Instead, one
    groupBy collapses parts to (brand, blk, name) → (m, max_key); the
    fuzzy join + levenshtein runs on DISTINCT NAME PAIRS (name-type
    grain — vocabulary-bounded, and the open-vocabulary production tier
    would signature-block this same type join); the row-grain aggregates
    fold back EXACTLY:

    - n_pairs(brand, d) = Σ_{name pairs g<h, lev=d} m_g·m_h, plus the
      within-name term Σ_g m_g·(m_g−1) div 2 at d=0 (a_key < b_key picks
      each unordered pair once — pure integer arithmetic);
    - a part is a LEFT entity of (brand, d) iff some partner has a
      larger key, i.e. iff its key < max over partner name-groups of
      that group's max key — so one bounded (brand, name, d)-keyed
      partner-max table joins back to the heavy table and a key < pmax
      filter counts the distinct left entities without materializing a
      single pair.

    The heavy table is touched twice (one groupBy, one grain-keyed join
    + filter), both linear; tests/test_analytics_ext_er.py proves the
    fold bit-identical to the row-grain referee on the fixture and on
    engineered duplicate/edge corpora; the DuckDB oracle keeps the
    row-grain SQL, so driver parity attests the equivalence at every
    SF. Bound note: n_pairs is inherently quadratic in block size — the
    BIGINT count saturates once a (brand, dist) cell holds ~4.3e9
    mutually-matching rows (n_pairs ≈ n²/2 > 2^63), the same bound the
    enumerated row-grain count has; blocks that large are a blocking-
    key-design failure upstream of this operator."""
    return _er_fuzzy_grain(_er_parts(spark, sf_dir))


def _er_fuzzy_grain(parts: DataFrame) -> DataFrame:
    """The name-grain fold (see q_er_fuzzy_block); split out so the
    differential test can feed engineered duplicate corpora."""
    grain = parts.groupBy("p_brand", "blk", "p_name").agg(
        F.count("*").alias("m"), F.max("p_partkey").alias("max_key")
    )
    a = grain.select(
        "p_brand",
        "blk",
        F.col("p_name").alias("a_name"),
        F.col("m").alias("a_m"),
        F.col("max_key").alias("a_max"),
    )
    b = grain.select(
        F.col("p_brand").alias("b_brand"),
        F.col("blk").alias("b_blk"),
        F.col("p_name").alias("b_name"),
        F.col("m").alias("b_m"),
        F.col("max_key").alias("b_max"),
    )
    # distinct unordered name pairs (a_name < b_name ⇒ dist ≥ 1)
    cross = (
        a.join(
            b,
            (a.p_brand == b.b_brand)
            & (a.blk == b.b_blk)
            & (a.a_name < b.b_name),
        )
        .withColumn("dist", F.levenshtein("a_name", "b_name"))
        .filter(F.col("dist") <= ER_MAX_DIST)
    )
    dup_groups = grain.filter(F.col("m") >= 2)
    n_pairs = (
        cross.select(
            "p_brand",
            "dist",
            (F.col("a_m") * F.col("b_m")).cast("bigint").alias("np"),
        )
        .unionByName(
            dup_groups.select(
                "p_brand",
                F.lit(0).alias("dist"),
                F.expr("CAST(m * (m - 1) DIV 2 AS BIGINT)").alias("np"),
            )
        )
        .groupBy("p_brand", "dist")
        .agg(F.sum("np").alias("n_pairs"))
    )
    # per (brand, name, dist): the max key over all partner groups —
    # a part is a left entity iff its key is below that
    partners = (
        cross.select(
            "p_brand",
            "blk",
            F.col("a_name").alias("p_name"),
            "dist",
            F.col("b_max").alias("pmax"),
        )
        .unionByName(
            cross.select(
                "p_brand",
                F.col("b_blk").alias("blk"),
                F.col("b_name").alias("p_name"),
                "dist",
                F.col("a_max").alias("pmax"),
            )
        )
        .unionByName(
            dup_groups.select(
                "p_brand",
                "blk",
                "p_name",
                F.lit(0).alias("dist"),
                F.col("max_key").alias("pmax"),
            )
        )
        .groupBy("p_brand", "blk", "p_name", "dist")
        .agg(F.max("pmax").alias("pmax"))
    )
    # grain-keyed attach (open-vocabulary name key — un-hinted; AQE
    # broadcasts the bounded partner table at runtime when it fits)
    left = (
        parts.join(partners, ["p_brand", "blk", "p_name"])
        .filter(F.col("p_partkey") < F.col("pmax"))
        .groupBy("p_brand", "dist")
        .agg(F.count("*").alias("n_left_entities"))
    )
    return n_pairs.join(left, ["p_brand", "dist"]).select(
        "p_brand", "dist", "n_pairs", "n_left_entities"
    )


CROSS_SOURCE_TOP = 25
CROSS_SHINGLE_N = 8


def q_dedup_cross_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source n-gram leakage matrix: which source pairs share the
    most distinct 8-token shingles? The contamination audit every corpus
    pipeline runs before splitting train/eval by source (full-text md5
    match finds almost nothing — the fixture's copied SPANS live inside
    otherwise-distinct documents, the q_dedup_span signal). Documents
    explode to (shingle-digest, source) rows — the shuffle key is the
    16-byte md5 of the shingle, never the text — then ONE digest-keyed
    aggregation collects each digest's distinct source set (bounded by
    the source count, ≤20 here) and the unordered pairs expand IN-ROW
    from that bounded array: no self-join ever touches the data-scaled
    table, and a shingle copied a million times still contributes at
    most |sources|²/2 pair rows. (The first cut self-joined the distinct
    (digest, source) table — correct, but its 10×-data wall-time ratio
    was 3.3× vs ~1.5× for this shape: the join re-shuffled the whole
    pair table a second time; SCALING.md tracks the fix.)"""
    from zonal_datacube_spark.functions.text_funcs import shingles, tokens

    docs = load_table(spark, sf_dir, "documents").select(
        "source", tokens("text").alias("t")
    )
    src_sets = (
        docs.filter(F.size("t") >= CROSS_SHINGLE_N)
        .select(
            "source",
            F.explode(shingles("t", CROSS_SHINGLE_N)).alias("sh"),
        )
        # 16-byte binary digest, not the 32-char hex string: the digest
        # is a pure grouping key (never output), and unhex(md5) is
        # bijective on md5's range — same groups, half the shuffle key
        # bytes on the data-scaled exchange
        .select(F.unhex(F.md5("sh")).alias("dg"), "source")
        .groupBy("dg")
        .agg(F.sort_array(F.collect_set("source")).alias("srcs"))
        .filter(F.size("srcs") >= 2)
    )
    pairs = (
        src_sets.select(F.posexplode("srcs").alias("pa", "src_a"), "srcs")
        .select("src_a", "pa", F.posexplode("srcs").alias("pb", "src_b"))
        .filter(F.col("pa") < F.col("pb"))
    )
    return (
        pairs.groupBy("src_a", "src_b")
        .agg(F.count("*").alias("n_shared"))
        .orderBy(F.desc("n_shared"), "src_a", "src_b")
        .limit(CROSS_SOURCE_TOP)
    )

# ---------------------------------------------------------------------------
# incremental near-dup maintenance
# ---------------------------------------------------------------------------

INC_BATCH_MOD = 10  # doc_id % 10 == 0 → the incoming batch (~10% of corpus)


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash-LSH maintenance: the incoming batch's band
    values probe the EXISTING corpus' band index; only (batch, base)
    candidates are generated and exact-Jaccard-verified — never a
    base × base pair, so per-ingest work is O(|batch| + candidates), not
    O(|corpus|²-blocked). Output: every verified (batch, base) pair with
    its exact Jaccard and the dedup verdict at the production threshold.

    Scale: the band join shuffles on (band, bv) — the index's natural
    bucketing key, so at 100 TB the probe co-locates with a bucketed
    band table and the batch never rescans the corpus; verification
    joins only the candidate ids back to the shingle arrays (the
    q_dedup_minhash discipline). Equivalence: a batch×base band match
    in the blended-corpus recompute is exactly a probe hit (band values
    are per-doc), so incremental ≡ full-recompute-restricted — the
    DuckDB oracle computes the latter."""
    bands = _minhash_bands(spark, sf_dir)
    batch = bands.filter(F.col("doc_id") % INC_BATCH_MOD == 0).alias("a")
    base = bands.filter(F.col("doc_id") % INC_BATCH_MOD != 0).alias("b")
    cand = (
        batch.join(
            base,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv")),
        )
        .select(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
            F.col("a.n_sh").alias("na"),
            F.col("b.n_sh").alias("nb"),
        )
        .distinct()
    )
    j = _verify_jaccard(cand, _doc_shingle_arrays(spark, sf_dir))
    jr = F.round("jaccard", 6)
    return j.select(
        F.col("a_id").alias("batch_id"),
        F.col("b_id").alias("base_id"),
        jr.alias("jaccard"),
        (jr >= F.lit(NEAR_DUP_TAU)).alias("is_dup"),
    )

QUERIES = {
    "q_distinct_rows": q_distinct_rows,
    "q_dedup_exact": q_dedup_exact,
    "q_dedup_near": q_dedup_near,
    "q_dedup_containment": q_dedup_containment,
    "q_dedup_minhash": q_dedup_minhash,
    "q_dedup_minhash_eval": q_dedup_minhash_eval,
    "q_dedup_simhash": q_dedup_simhash,
    "q_dedup_clusters": q_dedup_clusters,
    "q_dedup_semantic": q_dedup_semantic,
    "q_er_fuzzy_block": q_er_fuzzy_block,
    "q_dedup_cross_source": q_dedup_cross_source,
    "q_dedup_incremental": q_dedup_incremental,
}

ORACLE = {
    "q_distinct_rows": """
        SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
    """,
    "q_dedup_exact": """
        SELECT md5(text) AS h, min(doc_id) AS kept_doc_id, count(*) AS n_copies
        FROM documents
        GROUP BY 1
    """,
    "q_dedup_containment": f"""
        WITH {_SH_CTE},
        pairs AS (
            SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
            FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id != b.doc_id
            GROUP BY 1, 2
        )
        SELECT a_id, b_id, inter,
               round(inter * 1.0 / sa.n_sh, 6) AS containment
        FROM pairs
        JOIN sz sa ON a_id = sa.doc_id
        JOIN sz sb ON b_id = sb.doc_id
        WHERE (sa.n_sh < sb.n_sh OR (sa.n_sh = sb.n_sh AND a_id < b_id))
          AND inter * 1.0 / sa.n_sh >= {CONTAIN_TAU}
    """,
    "q_dedup_near": f"""
        WITH {_SH_CTE},
        pairs AS (
            SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
            FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT a_id, b_id, inter,
               round(inter * 1.0 / (sa.n_sh + sb.n_sh - inter), 6) AS jaccard
        FROM pairs
        JOIN sz sa ON a_id = sa.doc_id
        JOIN sz sb ON b_id = sb.doc_id
        WHERE inter * 1.0 / (sa.n_sh + sb.n_sh - inter) >= {NEAR_DUP_TAU}
    """,
    "q_dedup_clusters": f"""
        WITH RECURSIVE {_SH_CTE},
        sig AS (
            SELECT doc_id,
                   min(md5('0|' || sh)) AS h0, min(md5('1|' || sh)) AS h1,
                   min(md5('2|' || sh)) AS h2, min(md5('3|' || sh)) AS h3,
                   min(md5('4|' || sh)) AS h4, min(md5('5|' || sh)) AS h5,
                   min(md5('6|' || sh)) AS h6, min(md5('7|' || sh)) AS h7,
                   min(md5('8|' || sh)) AS h8
            FROM sh GROUP BY doc_id
        ),
        bands AS (
            SELECT doc_id, 0 AS band, h0 || h1 || h2 AS bv FROM sig
            UNION ALL
            SELECT doc_id, 1 AS band, h3 || h4 || h5 AS bv FROM sig
            UNION ALL
            SELECT doc_id, 2 AS band, h6 || h7 || h8 AS bv FROM sig
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
        ),
        inter AS (
            SELECT c.a_id, c.b_id, count(*) AS inter
            FROM cand c
            JOIN sh sa ON sa.doc_id = c.a_id
            JOIN sh sb ON sb.doc_id = c.b_id AND sb.sh = sa.sh
            GROUP BY 1, 2
        ),
        goodpairs AS (
            SELECT a_id, b_id FROM inter
            JOIN sz sa ON a_id = sa.doc_id
            JOIN sz sb ON b_id = sb.doc_id
            WHERE round(inter * 1.0 / (sa.n_sh + sb.n_sh - inter), 6)
                  >= {NEAR_DUP_TAU}
        ),
        edges AS (
            SELECT a_id AS a, b_id AS b FROM goodpairs
            UNION ALL
            SELECT b_id, a_id FROM goodpairs
        ),
        reach(id, label) AS (
            SELECT a, a FROM edges
            UNION
            SELECT e.a, r.label FROM edges e JOIN reach r ON e.b = r.id
        )
        SELECT id AS doc_id, min(label) AS cluster_id
        FROM reach GROUP BY id ORDER BY doc_id
    """,
    "q_dedup_simhash": f"""
        WITH {_SH_CTE},
        bits AS (
            SELECT doc_id, j,
                   sum(CASE WHEN
                       ((strpos('0123456789abcdef', substr(md5(sh), 1 + (j // 4), 1)) - 1)
                        // (CASE j % 4 WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 2 ELSE 1 END))
                       % 2 = 1
                       THEN 1 ELSE -1 END) AS s
            FROM sh, unnest(range(0, {SIMHASH_BITS})) AS b(j)
            GROUP BY doc_id, j
        ),
        sig AS (
            SELECT doc_id,
                   sum(CASE WHEN s > 0 THEN (1 << j) ELSE 0 END)::BIGINT AS simhash
            FROM bits GROUP BY doc_id
        )
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
        FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
    """,
    "q_dedup_minhash_eval": f"""
        WITH {_SH_CTE},
        sig AS (
            SELECT doc_id,
                   min(md5('0|' || sh)) AS h0, min(md5('1|' || sh)) AS h1,
                   min(md5('2|' || sh)) AS h2, min(md5('3|' || sh)) AS h3,
                   min(md5('4|' || sh)) AS h4, min(md5('5|' || sh)) AS h5,
                   min(md5('6|' || sh)) AS h6, min(md5('7|' || sh)) AS h7,
                   min(md5('8|' || sh)) AS h8
            FROM sh GROUP BY doc_id
        ),
        bands AS (
            SELECT doc_id, 0 AS band, h0 || h1 || h2 AS bv FROM sig
            UNION ALL
            SELECT doc_id, 1 AS band, h3 || h4 || h5 AS bv FROM sig
            UNION ALL
            SELECT doc_id, 2 AS band, h6 || h7 || h8 AS bv FROM sig
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
        ),
        cj AS (
            SELECT c.a_id, c.b_id, count(*) AS inter
            FROM cand c
            JOIN sh sa ON sa.doc_id = c.a_id
            JOIN sh sb ON sb.doc_id = c.b_id AND sb.sh = sa.sh
            GROUP BY 1, 2
        ),
        cand_j AS (
            SELECT cj.a_id, cj.b_id,
                   inter * 1.0 / (sa.n_sh + sb.n_sh - inter) AS j
            FROM cj
            JOIN sz sa ON cj.a_id = sa.doc_id
            JOIN sz sb ON cj.b_id = sb.doc_id
        ),
        truth AS (
            SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
            FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        truth_j AS (
            SELECT t.a_id FROM truth t
            JOIN sz sa ON t.a_id = sa.doc_id
            JOIN sz sb ON t.b_id = sb.doc_id
            WHERE t.inter * 1.0 / (sa.n_sh + sb.n_sh - t.inter)
                  >= {NEAR_DUP_TAU}
        )
        SELECT (SELECT count(*) FROM truth_j) AS n_truth,
               (SELECT count(*) FROM cand_j) AS n_cand,
               (SELECT count(*) FROM cand_j WHERE j >= {NEAR_DUP_TAU})
                   AS n_tp,
               round((SELECT count(*) FROM cand_j WHERE j >= {NEAR_DUP_TAU})
                     * 1.0 / (SELECT count(*) FROM truth_j), 6) AS recall,
               round((SELECT count(*) FROM cand_j WHERE j >= {NEAR_DUP_TAU})
                     * 1.0 / (SELECT count(*) FROM cand_j), 6) AS precision
    """,
    "q_dedup_minhash": f"""
        WITH {_SH_CTE},
        sig AS (
            SELECT doc_id,
                   min(md5('0|' || sh)) AS h0, min(md5('1|' || sh)) AS h1,
                   min(md5('2|' || sh)) AS h2, min(md5('3|' || sh)) AS h3,
                   min(md5('4|' || sh)) AS h4, min(md5('5|' || sh)) AS h5,
                   min(md5('6|' || sh)) AS h6, min(md5('7|' || sh)) AS h7,
                   min(md5('8|' || sh)) AS h8
            FROM sh GROUP BY doc_id
        ),
        bands AS (
            SELECT doc_id, 0 AS band, h0 || h1 || h2 AS bv FROM sig
            UNION ALL
            SELECT doc_id, 1 AS band, h3 || h4 || h5 AS bv FROM sig
            UNION ALL
            SELECT doc_id, 2 AS band, h6 || h7 || h8 AS bv FROM sig
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
        ),
        inter AS (
            SELECT c.a_id, c.b_id, count(*) AS inter
            FROM cand c
            JOIN sh sa ON sa.doc_id = c.a_id
            JOIN sh sb ON sb.doc_id = c.b_id AND sb.sh = sa.sh
            GROUP BY 1, 2
        )
        SELECT a_id, b_id,
               round(inter * 1.0 / (sa.n_sh + sb.n_sh - inter), 6) AS jaccard
        FROM inter
        JOIN sz sa ON a_id = sa.doc_id
        JOIN sz sb ON b_id = sb.doc_id
    """,
    "q_er_fuzzy_block": f"""
        WITH p AS (
            SELECT p_partkey, p_brand, p_name, substr(p_name, 1, 1) AS blk
            FROM part
        )
        SELECT a.p_brand,
               levenshtein(a.p_name, b.p_name)::INT AS dist,
               count(*) AS n_pairs,
               count(DISTINCT a.p_partkey) AS n_left_entities
        FROM p a JOIN p b
          ON a.p_brand = b.p_brand AND a.blk = b.blk
         AND a.p_partkey < b.p_partkey
        WHERE levenshtein(a.p_name, b.p_name) <= {ER_MAX_DIST}
        GROUP BY 1, 2
    """,
    "q_dedup_cross_source": f"""
        WITH toks AS (
            SELECT source, string_split(lower(text), ' ') AS t
            FROM documents
        ),
        sh AS (
            SELECT source,
                   array_to_string(
                       t[i:i + {CROSS_SHINGLE_N - 1}], ' ') AS s
            FROM toks, unnest(range(1, len(t) - {CROSS_SHINGLE_N - 2}))
                 AS u(i)
            WHERE len(t) >= {CROSS_SHINGLE_N}
        ),
        d AS (SELECT DISTINCT md5(s) AS dg, source FROM sh)
        SELECT a.source AS src_a, b.source AS src_b,
               count(DISTINCT a.dg)::BIGINT AS n_shared
        FROM d a JOIN d b ON a.dg = b.dg AND a.source < b.source
        GROUP BY 1, 2
        ORDER BY n_shared DESC, src_a, src_b LIMIT {CROSS_SOURCE_TOP}
    """,
    "q_dedup_incremental": f"""
        WITH {_SH_CTE},
        sig AS (
            SELECT doc_id,
                   min(md5('0|' || sh)) AS h0, min(md5('1|' || sh)) AS h1,
                   min(md5('2|' || sh)) AS h2, min(md5('3|' || sh)) AS h3,
                   min(md5('4|' || sh)) AS h4, min(md5('5|' || sh)) AS h5,
                   min(md5('6|' || sh)) AS h6, min(md5('7|' || sh)) AS h7,
                   min(md5('8|' || sh)) AS h8
            FROM sh GROUP BY doc_id
        ),
        bands AS (
            SELECT doc_id, 0 AS band, h0 || h1 || h2 AS bv FROM sig
            UNION ALL
            SELECT doc_id, 1 AS band, h3 || h4 || h5 AS bv FROM sig
            UNION ALL
            SELECT doc_id, 2 AS band, h6 || h7 || h8 AS bv FROM sig
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS batch_id, b.doc_id AS base_id
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.bv = b.bv
            WHERE a.doc_id % {INC_BATCH_MOD} = 0
              AND b.doc_id % {INC_BATCH_MOD} != 0
        ),
        inter AS (
            SELECT c.batch_id, c.base_id, count(*) AS inter
            FROM cand c
            JOIN sh sa ON sa.doc_id = c.batch_id
            JOIN sh sb ON sb.doc_id = c.base_id AND sb.sh = sa.sh
            GROUP BY 1, 2
        )
        SELECT batch_id, base_id,
               round(inter * 1.0 / (sa.n_sh + sb.n_sh - inter), 6) AS jaccard,
               round(inter * 1.0 / (sa.n_sh + sb.n_sh - inter), 6)
                   >= {NEAR_DUP_TAU} AS is_dup
        FROM inter
        JOIN sz sa ON batch_id = sa.doc_id
        JOIN sz sb ON base_id = sb.doc_id
    """,
}


def _semantic_oracle() -> str:
    # the bucket expression lives with the similarity family; importing it
    # keeps the two engines' LSH definitions in one place
    from zonal_datacube_spark.operators.similarity import _BUCKET_SQL

    return f"""
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v,
                   ({_BUCKET_SQL})::BIGINT AS bucket
            FROM embeddings
        ),
        p AS (
            SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                   round(list_inner_product(a.v, b.v), 6) AS cos
            FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
            WHERE round(list_inner_product(a.v, b.v), 6) >= {SEMANTIC_COS_TAU}
        ),
        t AS (
            SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS ts
            FROM documents
        )
        SELECT a_id, b_id, cos,
               round(len(list_intersect(ta.ts, tb.ts)) * 1.0
                     / (len(ta.ts) + len(tb.ts) - len(list_intersect(ta.ts, tb.ts))),
                     6) AS jaccard,
               round(len(list_intersect(ta.ts, tb.ts)) * 1.0
                     / (len(ta.ts) + len(tb.ts) - len(list_intersect(ta.ts, tb.ts))),
                     6) >= {SEMANTIC_JACCARD_TAU} AS confirmed
        FROM p
        JOIN t ta ON a_id = ta.doc_id
        JOIN t tb ON b_id = tb.doc_id
    """


ORACLE["q_dedup_semantic"] = _semantic_oracle()
