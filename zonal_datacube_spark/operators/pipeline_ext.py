"""Training-data-pipeline operators (SURVEY.md §2.13 cont.): span-level
dedup, benchmark decontamination, mixture weights and sampling, sequence
packing, padding and drift evals, embedding quantization, and DSIR /
curriculum data selection — the ops between "raw corpus" and
"training batches" that SURVEY's LLM-pipeline mandate (BASELINE.json:6)
calls for beyond doc-level dedup.

Scale notes (100 TB): every shape here is explode → equi-join/groupBy on a
high-cardinality key (gram, doc_id, lang×seq) — never all-pairs; the only
broadcast sides are genuinely tiny dimensions (benchmark gram list, mixture
weight table). No Python on any hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from zonal_datacube_spark.functions.exact import G6_SQL, g6, half_up
from zonal_datacube_spark.functions.local_rel import local_relation
from zonal_datacube_spark.functions.prefix_sweep import prefix_sweep
from zonal_datacube_spark.functions.text_funcs import TOKENS_SQL, stopword_count, tokens
from zonal_datacube_spark.sources.loader import load_table


SPAN_N = 5  # n-gram span width for cross-doc span dedup


def _doc_span_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted (doc_id, ghs: array<bigint>) — each doc's 5-token spans as
    xxhash64 values, ONE compact row per doc. Both consumers (the span-
    frequency aggregate and the join-back) explode from this cache, so the
    corpus is tokenized once; and every downstream shuffle carries 8-byte
    longs instead of ~30-byte span strings. The hash is engine-internal
    only (never compared to the oracle), so xxhash64 is safe; a collision
    would need ~2^32 distinct spans per corpus to matter. CacheManager
    dedupes by analyzed plan → one cached copy per sf_dir per session."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .withColumn("t", tokens())
        .filter(F.size("t") >= SPAN_N)
    )
    return docs.select(
        "doc_id",
        F.expr(
            f"transform(sequence(1, size(t) - {SPAN_N - 1}),"
            f" i -> xxhash64(concat_ws(' ', slice(t, i, {SPAN_N}))))"
        ).alias("ghs"),
    ).persist(StorageLevel.MEMORY_AND_DISK)


def q_dedup_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document SPAN dedup (the C4/CCNet line-dedup shape): for each
    doc, the fraction of its 5-token spans that also occur in at least one
    other document. Docs above a threshold are boilerplate/mirror
    candidates; the span table itself is what a line-level dedup pass
    would rewrite.

    Plan: explode the persisted per-doc span-hash arrays, aggregate
    cross-doc span frequency on the hash (count distinct docs per span —
    partial aggs shuffle only distinct pairs), equi-join back on the hash,
    then a doc-keyed aggregate. All keys high-cardinality; no broadcast
    needed and none assumed — at 100 TB both sides of the span join are
    huge and sort-merge is the right physical plan."""
    grams = _doc_span_hashes(spark, sf_dir).select(
        "doc_id", F.explode("ghs").alias("gh")
    )
    span_docs = grams.groupBy("gh").agg(F.countDistinct("doc_id").alias("nd"))
    return (
        grams.join(span_docs, "gh")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum((F.col("nd") > 1).cast("bigint")).alias("n_dup_spans"),
            F.round(F.avg((F.col("nd") > 1).cast("double")), 6).alias(
                "dup_span_frac"
            ),
        )
    )


# Fixed decontamination list: trigram "benchmark" phrases. In production
# this table is the n-gram index of an eval set (MMLU/GSM8K-style); here a
# pinned list over the fixture vocabulary keeps the check deterministic.
BENCH_GRAMS = (
    "part filter scan",
    "row column sort",
    "stream table hash",
    "window fast query",
    "big data merge",
)
BENCH_N = 3


def q_text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination scan: find documents whose text contains
    any benchmark n-gram (the overlap test run before training to keep
    eval sets out of the corpus). Returns one row per contaminated doc
    with hit counts — the delete-list a prep pipeline anti-joins against.

    The benchmark gram set broadcasts (it is KB-sized even for real eval
    suites); the corpus explodes to gram positions once and probes the
    broadcast hash map map-side, so the only shuffle is the final doc_id
    aggregate."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .withColumn("t", tokens())
        .filter(F.size("t") >= BENCH_N)
    )
    grams = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(t) - {BENCH_N - 1}),"
                f" i -> concat_ws(' ', slice(t, i, {BENCH_N})))"
            )
        ).alias("g"),
    )
    bench = F.broadcast(
        local_relation(spark, [(g,) for g in BENCH_GRAMS], "g STRING")
    )
    return (
        grams.join(bench, "g")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_hits"),
            F.countDistinct("g").alias("n_bench_grams"),
        )
    )


# Target mixture: per-lang keep-rate out of 256 md5 buckets. The shape of
# a data-mixing pass: upsample/downsample sources to hit a target blend.
MIX_BUCKETS = {"en": 128, "de": 77, "zh": 51, "fr": 26, "es": 13}

_DOC_BUCKET_SPARK = (
    "(locate(substr(md5(cast(doc_id AS string)), 1, 1), '0123456789abcdef') - 1)"
    " * 16 + locate(substr(md5(cast(doc_id AS string)), 2, 1),"
    " '0123456789abcdef') - 1"
)
_DOC_BUCKET_SQL = (
    "(strpos('0123456789abcdef', substr(md5(doc_id::VARCHAR), 1, 1)) - 1) * 16"
    " + strpos('0123456789abcdef', substr(md5(doc_id::VARCHAR), 2, 1)) - 1"
)


def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture sampling: each language keeps a configured
    fraction of its docs (md5 bucket < per-lang threshold) — the
    data-mixing op that rebalances a corpus toward a target blend.
    Hash-based selection is reproducible across engines, runs, and
    repartitions, unlike rand(); the weight table is a broadcast dim and
    the filter is map-side, so the only shuffle is the report aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    weights = F.broadcast(
        local_relation(
            spark, list(MIX_BUCKETS.items()), "lang STRING, keep_buckets INT"
        )
    )
    bucketed = docs.join(weights, "lang").withColumn(
        "bucket", F.expr(_DOC_BUCKET_SPARK).cast("int")
    )
    return bucketed.groupBy("lang").agg(
        F.count("*").alias("n_total"),
        F.sum((F.col("bucket") < F.col("keep_buckets")).cast("bigint")).alias(
            "n_kept"
        ),
        F.round(
            F.avg((F.col("bucket") < F.col("keep_buckets")).cast("double")), 6
        ).alias("realized_rate"),
    )


PACK_CAP = 256  # tokens per packed training sequence


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing, concat-and-chop form: per language, documents are
    concatenated in doc_id order and chopped into fixed 256-token training
    sequences; each doc's start offset (running token total minus its own
    length) assigns it a sequence id. Exactly the GPT-style packing a
    training pipeline runs before batching — and it is one running token
    cumsum per language, no stateful loop.

    Scale (the r06/r07 what's-wrong #3 shard path, now implemented): the
    cumsum runs through functions/prefix_sweep.py — doc_id ranges bucket
    each language into 64 shards, the cumsum runs inside each (lang,
    shard), and a broadcast shard-offset correction (the swept bucket
    totals) restores the global running total — so no single language
    serializes through one window partition and parallelism grows with
    the corpus, while the packing arithmetic is unchanged and the serial
    oracle still hashes identically."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "n_tok", F.size(tokens()).cast("bigint")
    )
    placed = prefix_sweep(
        docs.select("lang", "doc_id", "n_tok"),
        ["lang"],
        "doc_id",
        sum_cols={"cum_tok": "n_tok"},
    ).select(
        "lang",
        "n_tok",
        (F.col("cum_tok") - F.col("n_tok")).alias("offset"),
    ).select(
        "lang",
        "n_tok",
        F.floor(F.col("offset") / PACK_CAP).alias("seq_id"),
        # doc spills into the next sequence if its span crosses a boundary
        (
            F.floor((F.col("offset") + F.col("n_tok") - 1) / PACK_CAP)
            != F.floor(F.col("offset") / PACK_CAP)
        )
        .cast("bigint")
        .alias("crosses"),
    )
    return placed.groupBy("lang", "seq_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
        F.sum("crosses").alias("n_boundary_docs"),
    )


def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 symmetric quantization of the embedding column (the serving-
    tier compression next to PQ: 4× smaller than float32, SIMD-friendly):
    per vector, scale = max|v|/127, codes = floor(v/s + 0.5); report
    per-label reconstruction error. floor(x + 0.5) is used instead of
    round() because the engines split on decimal midpoints (Spark rounds
    the shortest decimal string HALF_UP, DuckDB the binary value) — floor
    arithmetic is bit-identical in both. All JVM-side higher-order array
    functions; one groupBy(label) shuffle."""
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .withColumn("ed", F.expr("transform(embedding, v -> cast(v AS double))"))
        .withColumn(
            "s", F.expr("array_max(transform(ed, v -> abs(v))) / 127.0")
        )
        .withColumn(
            "mse",
            F.expr(
                "aggregate(ed, 0D,"
                " (acc, v) -> acc + pow(v - floor(v / s + 0.5) * s, 2))"
                " / size(ed)"
            ),
        )
    )
    return emb.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        F.round(F.avg("s"), 6).alias("avg_scale"),
        F.round(F.avg(F.col("mse") * 1_000_000), 4).alias("mse_e6"),
    )


# train/val/test boundaries out of 256 md5 buckets (~80/10/10)
SPLIT_TRAIN_LT = 205
SPLIT_VAL_LT = 230


def q_split_train_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: the split is assigned by hashing
    the CANONICAL CONTENT digest (md5 of the text), not the doc_id — so
    every copy of identical content lands in the same split by
    construction, and duplicated documents can never straddle train and
    test (the quiet eval-contamination bug in naive id-hash splits).
    Deterministic md5-bucket arithmetic → reproducible across engines,
    runs, and repartitions; map-only except the report aggregate."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "digest", F.md5("text")
    )
    bucket = F.expr(
        "(locate(substr(md5(digest), 1, 1), '0123456789abcdef') - 1) * 16"
        " + locate(substr(md5(digest), 2, 1), '0123456789abcdef') - 1"
    )
    split = (
        F.when(bucket < SPLIT_TRAIN_LT, "train")
        .when(bucket < SPLIT_VAL_LT, "val")
        .otherwise("test")
    )
    return (
        docs.withColumn("split", split)
        .groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("digest").alias("n_contents"),
        )
    )


DRIFT_SPLIT_TS = "2024-01-15"  # reference window < split ≤ current window
DRIFT_BIN_W = 25.0  # fixed-width value bins


def q_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-drift monitor: Population Stability Index of the event value
    distribution, reference window (first half of the month) vs current
    (second half) — the standard gate an ML-ops pipeline alarms on before
    features feed a model. Fixed-width binning keeps the histogram
    deterministic; per-bin PSI terms ((q−p)·ln(q/p)) emit alongside the
    shares so the alarm can localize WHICH bins moved. Bins are inner-
    joined (both windows populate every bin on this fixture); production
    adds epsilon smoothing for bins that empty out. One scan, two
    bin-keyed aggregates, a bin equi-join — scale-free."""
    ev = load_table(spark, sf_dir, "events")
    split = F.lit(DRIFT_SPLIT_TS).cast("timestamp_ntz")
    binned = ev.select(
        F.floor(F.col("value") / DRIFT_BIN_W).alias("bin"),
        (F.col("ts") < split).alias("is_ref"),
    )

    def shares(df: DataFrame, flag: bool, name: str) -> DataFrame:
        counts = (
            df.filter(F.col("is_ref") == flag)
            .groupBy("bin")
            .agg(F.count("*").alias("c"))
        )
        total = counts.agg(F.sum("c").alias("tot"))  # bin-sized reagg, no action
        return counts.crossJoin(F.broadcast(total)).select(
            "bin", (F.col("c") / F.col("tot")).alias(name)
        )

    p = shares(binned, True, "p_ref")
    q = shares(binned, False, "q_cur")
    return (
        p.join(q, "bin")
        .select(
            F.col("bin").cast("bigint").alias("bin"),
            F.round("p_ref", 6).alias("p_ref"),
            F.round("q_cur", 6).alias("q_cur"),
            F.round(
                (F.col("q_cur") - F.col("p_ref"))
                * F.log(F.col("q_cur") / F.col("p_ref")),
                6,
            ).alias("psi_term"),
        )
    )


def q_prep_pipeline_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE corpus-prep pipeline as one declared plan — mixture
    sampling → exact dedup → benchmark decontamination → leakage-safe
    train split → per-(lang, source) report. Each stage is an operator
    already proven alone (q_sample_weighted, q_dedup_exact,
    q_text_contamination, q_split_train_test); this key proves they
    COMPOSE: one map-side scoring pass, ONE digest-window shuffle for
    canonical-doc selection, a broadcast anti-join against the (tiny)
    contaminated-id set, and the final rollup. At 100 TB that is the
    entire prep run's shuffle budget."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .withColumn("t", tokens())
        .withColumn("digest", F.md5("text"))
    )
    # stage 1: deterministic mixture sample (per-lang md5 keep-rate)
    weights = F.broadcast(
        local_relation(
            spark, list(MIX_BUCKETS.items()), "lang STRING, keep_buckets INT"
        )
    )
    sampled = (
        docs.join(weights, "lang")
        .withColumn("bucket", F.expr(_DOC_BUCKET_SPARK).cast("int"))
        .filter(F.col("bucket") < F.col("keep_buckets"))
    )
    # stage 2: exact dedup — keep the min doc_id per content digest
    w = Window.partitionBy("digest").orderBy("doc_id")
    deduped = (
        sampled.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    # stage 3: decontamination — anti-join the benchmark-gram hit set
    # (built from the sampled survivors only: docs dropped by stage 1
    # can't reach the output, so scanning them would be wasted work)
    grams = sampled.filter(F.size("t") >= BENCH_N).select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(t) - {BENCH_N - 1}),"
                f" i -> concat_ws(' ', slice(t, i, {BENCH_N})))"
            )
        ).alias("g"),
    )
    bench = F.broadcast(
        local_relation(spark, [(g,) for g in BENCH_GRAMS], "g STRING")
    )
    contaminated = grams.join(bench, "g").select("doc_id").distinct()
    clean = deduped.join(F.broadcast(contaminated), "doc_id", "left_anti")
    # stage 4: keep the train split (content-hash assignment)
    split_bucket = F.expr(
        "(locate(substr(md5(digest), 1, 1), '0123456789abcdef') - 1) * 16"
        " + locate(substr(md5(digest), 2, 1), '0123456789abcdef') - 1"
    )
    train = clean.filter(split_bucket < SPLIT_TRAIN_LT)
    # stage 5: report
    return train.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size("t").cast("bigint")).alias("n_tokens"),
    )


# --------------------------------------------------------------------------
# training-data curation economics
# --------------------------------------------------------------------------


def q_data_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled training-mixture allocation (τ = 0.5, the
    multilingual-sampling standard): per-source token counts → sampling
    shares ∝ sqrt(tokens) → per-source epoch counts against a token
    budget of half the corpus. This is the planning query a pretraining
    data pipeline runs before building its sampler — upsampling factors
    for small sources, downsampling for large ones. Token counts are
    map-only (F.size over the split; the text never shuffles) and the
    allocation arithmetic runs on the bounded 20-source rollup."""
    docs = load_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(tokens()).cast("bigint")).alias("tokens"),
    )
    w = F.sqrt(F.col("tokens").cast("double"))
    scored = per_src.withColumn("w", w)
    totals = scored.agg(
        F.sum("tokens").alias("total_tokens"), F.sum("w").alias("z")
    )
    joined = scored.crossJoin(F.broadcast(totals))
    budget = F.floor(F.col("total_tokens") / 2).cast("double")
    samp_share = F.col("w") / F.col("z")
    return joined.select(
        "source",
        "n_docs",
        "tokens",
        g6(F.col("tokens").cast("double") / F.col("total_tokens")).alias(
            "nat_share"
        ),
        g6(samp_share).alias("samp_share"),
        g6(budget * samp_share / F.col("tokens").cast("double")).alias(
            "epochs"
        ),
    )


# ---------------------------------------------------------------------------
# batch padding-efficiency evaluation
# ---------------------------------------------------------------------------

BATCH_SIZE = 16  # documents per training batch


def q_batch_padding_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching evaluation: how many PAD tokens does the
    batcher burn? Each batch of {B} docs pads every member to the
    batch's max token length; compares NATURAL (doc_id) order against
    LENGTH-SORTED order (the standard bucketing trick — sorting by
    length makes batches length-homogeneous, collapsing padding waste).
    Reports batches, padded tokens, and pad share per strategy — the
    number a training-efficiency dashboard tracks before/after enabling
    bucketed batching. All-integer arithmetic: padded = Σ(max·count −
    Σlen) per batch, one terminal division for the share.

    Scale: both global row numbers ride the range-bucketed prefix sweep
    (64 value-range buckets over doc_id / token length — NO global sort,
    the sweep's entire reason to exist); the batch grain then groups on
    the data-scaled batch_id. Production note: a distributed trainer
    batches per (shard, local rank) — same arithmetic with the sweep's
    bucket id as the shard, zero plan change."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "n_tok", F.size(tokens()).cast("bigint")
    )
    base = docs.select("doc_id", "n_tok")
    nat = prefix_sweep(base, [], "doc_id", row_number_col="rn")
    srt = prefix_sweep(
        base, [], "n_tok", tiebreak=["doc_id"], row_number_col="rn"
    )

    def pad_stats(df: DataFrame, strategy: str) -> DataFrame:
        per = (
            df.withColumn(
                "batch_id", F.floor((F.col("rn") - 1) / BATCH_SIZE)
            )
            .groupBy("batch_id")
            .agg(
                F.max("n_tok").alias("mx"),
                F.sum("n_tok").alias("s"),
                F.count("*").alias("c"),
            )
        )
        grid = F.sum(F.col("mx") * F.col("c"))
        return per.agg(
            F.count("*").alias("n_batches"),
            (grid - F.sum("s")).alias("padded_tokens"),
            F.round((grid - F.sum("s")) / grid, 6).alias("pad_share"),
        ).select(
            F.lit(strategy).alias("strategy"),
            "n_batches",
            "padded_tokens",
            "pad_share",
        )

    return pad_stats(nat, "natural").unionByName(
        pad_stats(srt, "length_sorted")
    )


# ---------------------------------------------------------------------------
# PSI distribution-drift detection
# ---------------------------------------------------------------------------

PSI_BINS = 10
PSI_REF_BEFORE = 1998  # reference period: order years < 1998 (fixture spans 1995-2001)
_PSI_GRID = 1_000_000_000  # 1e-9 quantization grid (the JS-divergence trick)


def q_dq_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index drift monitor: the order-value
    distribution of the CURRENT period (years ≥ 1998) against the
    REFERENCE period (< 1998) over 10 fixed-width bins — the standard
    model-monitoring drift metric (PSI = Σ (p−q)·ln(p/q); < 0.1 stable,
    > 0.25 drifted). Reported at bin grain (the dashboard artifact),
    with each bin's PSI contribution.

    Determinism (rule 8): bin edges come from integer CENTS (DECIMAL
    (15,2) × 100 is exact) with pure integer bin arithmetic; counts are
    Laplace-smoothed (+1 per bin) so empty bins stay defined; p, q, and
    ln(p/q) are built from two exact-integer divisions and ONE ln call,
    and the contribution quantizes to a 1e-9 grid before the 1e-6
    output rounding — the same ulp-absorbing ladder q_text_js_divergence
    uses. Scale: one broadcast bounds aggregate, one partial+final
    count keyed by (bin), a 10-row spine join — map-side everything."""
    orders = load_table(spark, sf_dir, "orders").select(
        (F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        (F.year("o_orderdate") < PSI_REF_BEFORE).alias("is_ref"),
    )
    bounds = orders.agg(
        F.min("cents").alias("lo"), F.max("cents").alias("hi")
    )
    binned = orders.crossJoin(F.broadcast(bounds)).select(
        F.expr(
            f"least({PSI_BINS - 1}L,"
            f" ((cents - lo) * {PSI_BINS}) div (hi - lo + 1))"
        ).alias("bin"),
        "is_ref",
    )
    counts = binned.groupBy("bin").agg(
        F.sum(F.col("is_ref").cast("bigint")).alias("n_ref"),
        F.sum((~F.col("is_ref")).cast("bigint")).alias("n_cur"),
    )
    spine = spark.range(PSI_BINS).select(F.col("id").alias("bin"))
    full = (
        spine.join(counts, "bin", "left")
        .fillna(0, subset=["n_ref", "n_cur"])
    )
    totals = full.agg(
        F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur")
    )
    p = (F.col("n_ref") + 1) / (F.col("t_ref") + PSI_BINS)
    q = (F.col("n_cur") + 1) / (F.col("t_cur") + PSI_BINS)
    contrib = (p - q) * F.log(p / q)
    return full.crossJoin(F.broadcast(totals)).select(
        "bin",
        "n_ref",
        "n_cur",
        F.round(p, 6).alias("p_ref"),
        F.round(q, 6).alias("p_cur"),
        F.round(half_up(contrib, _PSI_GRID) / _PSI_GRID, 6).alias("psi_term"),
    )

# ---------------------------------------------------------------------------
# DSIR importance-resampling weights
# ---------------------------------------------------------------------------

DSIR_TARGET_LANG = "en"  # the target-domain slice the ratio model favors


def q_data_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weight per document: the occurrence-weighted
    mean over the doc's bigrams of ``ln(p_target(b)) − ln(p_raw(b))``,
    where p_target is the add-1-smoothed bigram distribution of the
    ``lang = 'en'`` slice and p_raw the same over the whole corpus (both
    smoothed over the raw bigram-type universe V, so target-unseen
    bigrams contribute a well-defined negative evidence term instead of
    −inf). This is the scoring half of importance resampling: the
    downstream sampler draws documents with probability ∝ exp(weight).

    Scale shape: ONE (doc, bigram) explode (persisted — it feeds the raw
    counts, the target counts, and the per-doc attach), two bigram-keyed
    count tables folded map-side, scalar totals broadcast from a one-row
    aggregate, and an un-hinted bigram equi-join back to the occurrence
    table (open-vocabulary key — the q_text_lm_score contract; AQE
    broadcasts the ratio table at runtime whenever it fits). The heavy
    text column never shuffles; every shuffled row is fixed-width."""
    from pyspark.storagelevel import StorageLevel

    t = (
        load_table(spark, sf_dir, "documents")
        .withColumn("t", tokens())
        .filter(F.size("t") >= 2)
    )
    doc_bi = (
        t.select(
            "doc_id",
            "source",
            (F.col("lang") == DSIR_TARGET_LANG).alias("is_target"),
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1),"
                    " i -> named_struct('w1', element_at(t, i),"
                    "                   'w2', element_at(t, i + 1)))"
                )
            ).alias("b"),
        )
        .select("doc_id", "source", "is_target", "b.w1", "b.w2")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    raw = doc_bi.groupBy("w1", "w2").agg(
        F.count("*").alias("c_raw"),
        F.sum(F.when(F.col("is_target"), 1).otherwise(0)).alias("c_tgt"),
    )
    totals = raw.agg(
        F.sum("c_raw").alias("n_raw"),
        F.sum("c_tgt").alias("n_tgt"),
        F.count("*").alias("v_types"),
    )
    # one identical IEEE chain per bigram in both engines: exact integer
    # counts -> (c + 1.0) / (N + V) -> ln; the subtraction is the ratio
    ratios = raw.crossJoin(F.broadcast(totals)).select(
        "w1",
        "w2",
        (
            F.log(
                (F.col("c_tgt") + F.lit(1.0))
                / (F.col("n_tgt") + F.col("v_types"))
            )
            - F.log(
                (F.col("c_raw") + F.lit(1.0))
                / (F.col("n_raw") + F.col("v_types"))
            )
        ).alias("lr"),
    )
    # Scale contract: `ratios` is bigram-keyed and open-vocabulary — NOT
    # broadcast-hinted (the r09/r10 policy for vocabulary-scaled tables);
    # the shuffle hash join is the 100 TB plan, AQE upgrades it at
    # fixture scale.
    return (
        doc_bi.join(ratios, ["w1", "w2"])
        .groupBy("doc_id", "source")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg("lr"), 6).alias("dsir_logratio"),
        )
    )


# ---------------------------------------------------------------------------
# token-budgeted quality curriculum selection
# ---------------------------------------------------------------------------

CURRICULUM_BUDGET_DIV = 4  # keep the top-quality quarter of corpus tokens


def _quality_e6() -> F.Column:
    """The q_text_quality composite on an exact e6 integer grid:
    ``floor(quality · 1e6 + 0.5)`` of ``least(1, n/101) · (1 − stop) ·
    ttr`` — the same expression chain (and the same prime-101 tie
    avoidance) as operators/text.py:98-104, snapped to BIGINT so the
    curriculum ORDER KEY is integer-exact in both engines."""
    n_tok = F.size("t").cast("double")
    ttr = F.size(F.array_distinct("t")) / n_tok
    stop_ratio = stopword_count("t") / n_tok
    quality = F.least(F.lit(1.0), n_tok / 101.0) * (1.0 - stop_ratio) * ttr
    return half_up(quality, 1e6).cast("bigint")


def q_data_curriculum_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budgeted quality selection: documents ordered by the integer
    quality grid (ties by doc_id), selected while the tokens BEFORE each
    document stay under ``floor(total_tokens / 4)`` — i.e. the crossing
    document is kept, so the slice always covers the budget. The output
    is the per-source composition of the selected slice (docs, tokens,
    and the source's lowest admitted quality), with the budget riding
    every row so the driver's hash compare attests the cut itself.

    Scale shape: the global quality-ordered cumulative token sum is a
    ONE-REDUCER window if written naively; here it runs through the
    range-bucketed prefix sweep in quantile mode (per-bucket windows +
    one bucket-grain offset sweep — functions/prefix_sweep.py), and the
    rollup that follows is a bounded groupBy on source. All selection
    arithmetic is integer-exact: token counts are BIGINTs, the quality
    key is an e6 integer, the budget is one integer floor of a global
    sum (exact below 2^53 tokens — ~9e15, two decades above a 100 TB
    corpus)."""
    per_doc = (
        load_table(spark, sf_dir, "documents")
        .withColumn("t", tokens())
        .select(
            "doc_id",
            "source",
            F.size("t").cast("bigint").alias("n_tokens"),
            _quality_e6().alias("q_e6"),
        )
    )
    swept = prefix_sweep(
        per_doc,
        [],
        "q_e6",
        descending=True,
        tiebreak=["doc_id"],
        sum_cols={"cum_tokens": "n_tokens"},
        total_sum_cols={"total_tokens": "n_tokens"},
        boundaries="quantile",
    )
    budget = F.floor(F.col("total_tokens") / CURRICULUM_BUDGET_DIV).cast(
        "bigint"
    )
    selected = swept.filter(
        (F.col("cum_tokens") - F.col("n_tokens")) < budget
    ).withColumn("budget_tokens", budget)
    return (
        selected.groupBy("source")
        .agg(
            F.count("*").alias("n_docs_selected"),
            F.sum("n_tokens").alias("tokens_selected"),
            F.min("q_e6").alias("min_q_e6"),
            F.any_value("budget_tokens").alias("budget_tokens"),
        )
    )


QUERIES = {
    "q_dedup_span": q_dedup_span,
    "q_split_train_test": q_split_train_test,
    "q_drift_psi": q_drift_psi,
    "q_prep_pipeline_full": q_prep_pipeline_full,
    "q_text_contamination": q_text_contamination,
    "q_sample_weighted": q_sample_weighted,
    "q_pack_sequences": q_pack_sequences,
    "q_embed_quantize": q_embed_quantize,
    "q_data_mixture_weights": q_data_mixture_weights,
    "q_batch_padding_eval": q_batch_padding_eval,
    "q_dq_psi_drift": q_dq_psi_drift,
    "q_data_dsir_weights": q_data_dsir_weights,
    "q_data_curriculum_tokens": q_data_curriculum_tokens,
}

_BENCH_VALUES = ", ".join(f"('{g}')" for g in BENCH_GRAMS)
_MIX_VALUES = ", ".join(f"('{k}', {v})" for k, v in MIX_BUCKETS.items())

_STOP_FILTER = "list_filter(toks, x -> x = 'the' OR x = 'a')"

ORACLE = {
    "q_prep_pipeline_full": f"""
        WITH weights(lang, keep_buckets) AS (VALUES {_MIX_VALUES}),
        base AS (
            SELECT doc_id, lang, source, text, md5(text) AS digest,
                   {TOKENS_SQL} AS toks
            FROM documents
        ),
        sampled AS (
            SELECT b.* FROM base b JOIN weights w USING (lang)
            WHERE ({_DOC_BUCKET_SQL}) < w.keep_buckets
        ),
        deduped AS (
            SELECT * FROM sampled
            QUALIFY row_number() OVER (PARTITION BY digest ORDER BY doc_id) = 1
        ),
        bench(g) AS (VALUES {_BENCH_VALUES}),
        contaminated AS (
            SELECT DISTINCT doc_id
            FROM (
                SELECT doc_id,
                       unnest(list_transform(range(1, len(toks) - {BENCH_N - 2}),
                              i -> array_to_string(
                                  list_slice(toks, i, i + {BENCH_N - 1}), ' ')))
                           AS g
                FROM sampled WHERE len(toks) >= {BENCH_N}
            ) x JOIN bench USING (g)
        ),
        clean AS (
            SELECT * FROM deduped d
            WHERE NOT EXISTS (SELECT 1 FROM contaminated c
                              WHERE c.doc_id = d.doc_id)
        ),
        train AS (
            SELECT * FROM clean
            WHERE (strpos('0123456789abcdef', substr(md5(digest), 1, 1)) - 1)
                      * 16
                  + strpos('0123456789abcdef', substr(md5(digest), 2, 1)) - 1
                  < {SPLIT_TRAIN_LT}
        )
        SELECT lang, source, count(*) AS n_docs,
               sum(len(toks))::BIGINT AS n_tokens
        FROM train GROUP BY lang, source
    """,
    "q_drift_psi": f"""
        WITH binned AS (
            SELECT floor(value / {DRIFT_BIN_W}) AS bin,
                   ts < TIMESTAMP '{DRIFT_SPLIT_TS}' AS is_ref
            FROM events
        ),
        p AS (
            SELECT bin, count(*) * 1.0 / sum(count(*)) OVER () AS p_ref
            FROM binned WHERE is_ref GROUP BY bin
        ),
        q AS (
            SELECT bin, count(*) * 1.0 / sum(count(*)) OVER () AS q_cur
            FROM binned WHERE NOT is_ref GROUP BY bin
        )
        SELECT bin::BIGINT AS bin,
               round(p_ref, 6) AS p_ref,
               round(q_cur, 6) AS q_cur,
               round((q_cur - p_ref) * ln(q_cur / p_ref), 6) AS psi_term
        FROM p JOIN q USING (bin)
    """,
    "q_split_train_test": f"""
        WITH d AS (SELECT lang, md5(text) AS digest FROM documents),
        b AS (
            SELECT lang, digest,
                   (strpos('0123456789abcdef', substr(md5(digest), 1, 1)) - 1)
                       * 16
                   + strpos('0123456789abcdef', substr(md5(digest), 2, 1)) - 1
                       AS bucket
            FROM d
        )
        SELECT CASE WHEN bucket < {SPLIT_TRAIN_LT} THEN 'train'
                    WHEN bucket < {SPLIT_VAL_LT} THEN 'val'
                    ELSE 'test' END AS split,
               lang,
               count(*) AS n_docs,
               count(DISTINCT digest) AS n_contents
        FROM b
        GROUP BY split, lang
    """,
    "q_dedup_span": f"""
        WITH t AS (
            SELECT doc_id, {TOKENS_SQL} AS toks FROM documents
            WHERE len({TOKENS_SQL}) >= {SPAN_N}
        ),
        g AS (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(toks) - {SPAN_N - 2}),
                          i -> array_to_string(
                              list_slice(toks, i, i + {SPAN_N - 1}), ' '))) AS g
            FROM t
        ),
        gd AS (SELECT g, count(DISTINCT doc_id) AS nd FROM g GROUP BY g)
        SELECT doc_id,
               count(*) AS n_spans,
               sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup_spans,
               round(avg(CASE WHEN nd > 1 THEN 1.0 ELSE 0.0 END), 6)
                   AS dup_span_frac
        FROM g JOIN gd USING (g)
        GROUP BY doc_id
    """,
    "q_text_contamination": f"""
        WITH bench(g) AS (VALUES {_BENCH_VALUES}),
        t AS (
            SELECT doc_id, {TOKENS_SQL} AS toks FROM documents
            WHERE len({TOKENS_SQL}) >= {BENCH_N}
        ),
        g AS (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(toks) - {BENCH_N - 2}),
                          i -> array_to_string(
                              list_slice(toks, i, i + {BENCH_N - 1}), ' '))) AS g
            FROM t
        )
        SELECT doc_id, count(*) AS n_hits,
               count(DISTINCT g) AS n_bench_grams
        FROM g JOIN bench USING (g)
        GROUP BY doc_id
    """,
    "q_sample_weighted": f"""
        WITH weights(lang, keep_buckets) AS (VALUES {_MIX_VALUES}),
        b AS (
            SELECT d.lang, w.keep_buckets,
                   ({_DOC_BUCKET_SQL}) AS bucket
            FROM documents d JOIN weights w USING (lang)
        )
        SELECT lang, count(*) AS n_total,
               sum(CASE WHEN bucket < keep_buckets THEN 1 ELSE 0 END)::BIGINT
                   AS n_kept,
               round(avg(CASE WHEN bucket < keep_buckets THEN 1.0 ELSE 0.0 END),
                     6) AS realized_rate
        FROM b GROUP BY lang
    """,
    "q_pack_sequences": f"""
        WITH placed AS (
            SELECT lang,
                   len({TOKENS_SQL})::BIGINT AS n_tok,
                   sum(len({TOKENS_SQL})) OVER (PARTITION BY lang ORDER BY doc_id)
                       - len({TOKENS_SQL}) AS o
            FROM documents
        )
        SELECT lang,
               (o // {PACK_CAP})::BIGINT AS seq_id,
               count(*) AS n_docs,
               sum(n_tok)::BIGINT AS n_tokens,
               sum(CASE WHEN (o + n_tok - 1) // {PACK_CAP} != o // {PACK_CAP}
                        THEN 1 ELSE 0 END)::BIGINT AS n_boundary_docs
        FROM placed
        GROUP BY lang, seq_id
    """,
    "q_embed_quantize": """
        WITH q AS (
            SELECT label,
                   embedding::DOUBLE[] AS e,
                   list_max(list_transform(embedding::DOUBLE[], v -> abs(v)))
                       / 127.0 AS s
            FROM embeddings
        )
        SELECT label, count(*) AS n_vecs,
               round(avg(s), 6) AS avg_scale,
               round(avg(list_sum(list_transform(e,
                         v -> pow(v - floor(v / s + 0.5) * s, 2)))
                         / len(e) * 1000000), 4) AS mse_e6
        FROM q GROUP BY label
    """,
    "q_data_mixture_weights": f"""
        WITH per_src AS (
            SELECT source, count(*)::BIGINT AS n_docs,
                   sum(len({TOKENS_SQL}))::BIGINT AS tokens
            FROM documents GROUP BY source
        ),
        t AS (
            SELECT sum(tokens)::BIGINT AS total_tokens,
                   sum(sqrt(tokens::DOUBLE)) AS z
            FROM per_src
        )
        SELECT source, n_docs, tokens,
               {G6_SQL.format(x='tokens::DOUBLE / t.total_tokens')}
                   AS nat_share,
               {G6_SQL.format(x='sqrt(tokens::DOUBLE) / t.z')}
                   AS samp_share,
               {G6_SQL.format(x='(t.total_tokens // 2)::DOUBLE * (sqrt(tokens::DOUBLE) / t.z) / tokens::DOUBLE')}
                   AS epochs
        FROM per_src, t
        ORDER BY source
    """,
    "q_batch_padding_eval": f"""
        WITH d AS (
            SELECT doc_id, len({TOKENS_SQL})::BIGINT AS n_tok FROM documents
        ),
        nat AS (
            SELECT n_tok,
                   (row_number() OVER (ORDER BY doc_id) - 1)
                       // {BATCH_SIZE} AS b
            FROM d
        ),
        srt AS (
            SELECT n_tok,
                   (row_number() OVER (ORDER BY n_tok, doc_id) - 1)
                       // {BATCH_SIZE} AS b
            FROM d
        ),
        pn AS (SELECT b, max(n_tok) AS mx, sum(n_tok) AS s,
                      count(*) AS c FROM nat GROUP BY b),
        ps AS (SELECT b, max(n_tok) AS mx, sum(n_tok) AS s,
                      count(*) AS c FROM srt GROUP BY b)
        SELECT 'natural' AS strategy,
               count(*) AS n_batches,
               sum(mx * c - s)::BIGINT AS padded_tokens,
               round(sum(mx * c - s) * 1.0 / sum(mx * c), 6) AS pad_share
        FROM pn
        UNION ALL
        SELECT 'length_sorted', count(*),
               sum(mx * c - s)::BIGINT,
               round(sum(mx * c - s) * 1.0 / sum(mx * c), 6)
        FROM ps
    """,
    "q_dq_psi_drift": f"""
        WITH o AS (
            SELECT (o_totalprice * 100)::BIGINT AS cents,
                   year(o_orderdate) < {PSI_REF_BEFORE} AS is_ref
            FROM orders
        ),
        bounds AS (SELECT min(cents) AS lo, max(cents) AS hi FROM o),
        binned AS (
            SELECT least({PSI_BINS - 1},
                         ((cents - lo) * {PSI_BINS}) // (hi - lo + 1))
                       AS bin,
                   is_ref
            FROM o, bounds
        ),
        counts AS (
            SELECT bin,
                   sum(CASE WHEN is_ref THEN 1 ELSE 0 END)::BIGINT AS n_ref,
                   sum(CASE WHEN is_ref THEN 0 ELSE 1 END)::BIGINT AS n_cur
            FROM binned GROUP BY bin
        ),
        spine AS (SELECT unnest(range({PSI_BINS})) AS bin),
        full_bins AS (
            SELECT spine.bin,
                   coalesce(n_ref, 0) AS n_ref,
                   coalesce(n_cur, 0) AS n_cur
            FROM spine LEFT JOIN counts ON spine.bin = counts.bin
        ),
        tot AS (SELECT sum(n_ref) AS t_ref, sum(n_cur) AS t_cur
                FROM full_bins)
        SELECT bin, n_ref, n_cur,
               round((n_ref + 1) * 1.0 / (t_ref + {PSI_BINS}), 6) AS p_ref,
               round((n_cur + 1) * 1.0 / (t_cur + {PSI_BINS}), 6) AS p_cur,
               round(floor(((n_ref + 1) * 1.0 / (t_ref + {PSI_BINS})
                            - (n_cur + 1) * 1.0 / (t_cur + {PSI_BINS}))
                     * ln(((n_ref + 1) * 1.0 / (t_ref + {PSI_BINS}))
                          / ((n_cur + 1) * 1.0 / (t_cur + {PSI_BINS})))
                     * {_PSI_GRID} + 0.5) / {_PSI_GRID}, 6) AS psi_term
        FROM full_bins, tot
    """,
    "q_data_dsir_weights": f"""
        WITH t AS (
            SELECT doc_id, source, (lang = '{DSIR_TARGET_LANG}') AS is_target,
                   {TOKENS_SQL} AS toks
            FROM documents
            WHERE len({TOKENS_SQL}) >= 2
        ),
        doc_bi AS (
            SELECT doc_id, source, is_target, toks[i] AS w1, toks[i + 1] AS w2
            FROM t, unnest(range(1, len(toks))) AS u(i)
        ),
        raw AS (
            SELECT w1, w2, count(*) AS c_raw,
                   sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS c_tgt
            FROM doc_bi GROUP BY w1, w2
        ),
        tot AS (
            SELECT sum(c_raw) AS n_raw, sum(c_tgt) AS n_tgt,
                   count(*) AS v_types
            FROM raw
        ),
        ratios AS (
            SELECT w1, w2,
                   ln((c_tgt + 1.0) / (n_tgt + v_types))
                   - ln((c_raw + 1.0) / (n_raw + v_types)) AS lr
            FROM raw CROSS JOIN tot
        )
        SELECT d.doc_id, d.source, count(*) AS n_bigrams,
               round(avg(lr), 6) AS dsir_logratio
        FROM doc_bi d JOIN ratios USING (w1, w2)
        GROUP BY d.doc_id, d.source
    """,
    "q_data_curriculum_tokens": f"""
        WITH t AS (SELECT doc_id, source, {TOKENS_SQL} AS toks FROM documents),
        per_doc AS (
            SELECT doc_id, source, len(toks)::BIGINT AS n_tokens,
                   floor(least(1.0, len(toks) / 101.0)
                         * (1.0 - len({_STOP_FILTER}) * 1.0 / len(toks))
                         * (len(list_distinct(toks)) * 1.0 / len(toks))
                         * 1e6 + 0.5)::BIGINT AS q_e6
            FROM t
        ),
        swept AS (
            SELECT *,
                   sum(n_tokens) OVER (ORDER BY q_e6 DESC, doc_id
                                       ROWS UNBOUNDED PRECEDING)
                       AS cum_tokens,
                   sum(n_tokens) OVER () AS total_tokens
            FROM per_doc
        )
        SELECT source,
               count(*) AS n_docs_selected,
               sum(n_tokens)::BIGINT AS tokens_selected,
               min(q_e6) AS min_q_e6,
               any_value(floor(total_tokens / {CURRICULUM_BUDGET_DIV})::BIGINT)
                   AS budget_tokens
        FROM swept
        WHERE cum_tokens - n_tokens
              < floor(total_tokens / {CURRICULUM_BUDGET_DIV})::BIGINT
        GROUP BY source
        ORDER BY source
    """,
}
