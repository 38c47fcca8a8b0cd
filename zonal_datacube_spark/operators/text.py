"""Text-analysis operators over the documents table (SURVEY.md §2.10 +
the training-data-pipeline extensions: language-ID, quality scoring, token
counting, fingerprinting).

Everything is built-in-function DataFrame code — explode/groupBy joins for
the inverted-index shapes, higher-order array functions for per-doc
features. At 100 TB the explode shapes shuffle on (token) / (doc_id),
both high-cardinality keys; no driver-side loops anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from zonal_datacube_spark.functions.exact import G6_SQL, g6, half_up
from zonal_datacube_spark.functions.text_funcs import (
    TOKENS_SQL,
    canonical_fingerprint,
    stopword_count,
    tokens,
)
from zonal_datacube_spark.sources.loader import load_table

_BPE_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token counts: tokenize → explode → count (inverted-index
    shape; Spark does partial map-side counts before the token shuffle)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokens()).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n_occurrences"))
    )


def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tf-idf per (doc, token): tf × ln(N/df).

    Scale contract: the doc-frequency table is keyed by TOKEN — an open,
    data-scaled vocabulary (10⁷–10⁹ distinct tokens at 100 TB), so it is
    deliberately NOT broadcast-hinted; the equi-join on ``token`` shuffle
    hash joins, and AQE still broadcasts it at runtime whenever the built
    side actually fits. Only the 1-row corpus-size aggregate is
    broadcast — that one is scalar at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    terms = docs.select("doc_id", F.explode(tokens()).alias("token"))
    tf = terms.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df = tf.groupBy("token").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    return (
        tf.join(df, "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            "tf",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6).alias("tfidf"),
        )
    )


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, source) document statistics."""
    docs = load_table(spark, sf_dir, "documents").withColumn("t", tokens())
    return docs.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        F.round(F.avg(F.size("t")), 6).alias("avg_tokens"),
    )


def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID (stopword-ratio n-gram heuristic) and its
    confusion matrix against the labeled lang column. The rule is
    deliberately simple and deterministic — the operator under test is the
    per-doc feature extraction + CASE classification, not model quality."""
    docs = load_table(spark, sf_dir, "documents").withColumn("t", tokens())
    ratio = stopword_count("t") / F.size("t")
    pred = (
        F.when(ratio >= 0.10, "en")
        .when(ratio >= 0.06, "fr")
        .when(ratio >= 0.03, "de")
        .when(ratio > 0.0, "es")
        .otherwise("zh")
    )
    return (
        docs.withColumn("pred_lang", pred)
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").alias("n_docs"))
    )


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc quality features: token count, type-token ratio, stopword
    ratio, chars-per-token, and a composite quality score."""
    docs = load_table(spark, sf_dir, "documents").withColumn("t", tokens())
    n_tok = F.size("t").cast("double")
    ttr = F.size(F.array_distinct("t")) / n_tok
    stop_ratio = stopword_count("t") / n_tok
    # length factor divides by a PRIME (101): the composite score can then
    # never land exactly on a half-decimal, so 6-decimal rounding agrees
    # between engines (Spark HALF_UP vs DuckDB rint diverge on exact ties)
    quality = F.least(F.lit(1.0), n_tok / 101.0) * (1.0 - stop_ratio) * ttr
    return docs.select(
        "doc_id",
        F.size("t").cast("bigint").alias("n_tokens"),
        F.round(ttr, 6).alias("type_token_ratio"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(F.col("n_chars") / n_tok, 6).alias("chars_per_token"),
        F.round(quality, 6).alias("quality"),
    )


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical document fingerprint (md5 of the sorted distinct token
    set) → docs sharing a fingerprint are set-identical rewrites."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.withColumn("fp", canonical_fingerprint())
        .groupBy("fp")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
        )
    )


def q_text_token_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting: regex token classes vs whitespace tokens."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.lower("text"), F.lit(_BPE_RE), 0))
        .cast("bigint")
        .alias("n_bpe_tokens"),
        F.size(tokens()).cast("bigint").alias("n_ws_tokens"),
    )


_REDACT_RE = r"\b(customer|supplier|order)\b"
_REDACT_WITH = "[REDACTED]"


def q_text_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-style term scrubbing: word-boundary regex redaction with a
    per-doc match count and an md5 digest of the scrubbed text. Pure
    regexp_replace/extract_all — map-only, no shuffle; at 100 TB this is
    the shape of a redaction pass over a training corpus (the word list
    stands in for PII patterns; the digest makes the rewrite auditable)."""
    docs = load_table(spark, sf_dir, "documents")
    redacted = F.regexp_replace("text", _REDACT_RE, _REDACT_WITH)
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(_REDACT_RE), 0))
        .cast("bigint")
        .alias("n_redacted"),
        F.md5(redacted.cast("binary")).alias("redacted_digest"),
    )


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021 §A1.1): per doc,
    the fraction of tokens claimed by the most frequent token and the
    fraction of bigrams claimed by the most frequent bigram — the two
    cheapest repetition signals a training-data pipeline thresholds on.
    All JVM-side: bigrams are a higher-order transform over the token
    array (no explode of the corpus until the per-doc count, which
    shuffles on doc_id — high cardinality, skew-free)."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .withColumn("t", tokens())
        .filter(F.size("t") >= 2)  # bigram sequence needs >= 2 tokens
    )
    # ONE corpus pass: unigrams and bigrams union into a single tagged
    # gram stream (bigrams can never collide with unigrams — they contain
    # a space), so one explode + two doc_id-keyed aggregates replace two
    # full scan+shuffle chains.
    grams = F.expr(
        "concat("
        " transform(t, x -> named_struct('typ', 'tok', 'g', x)),"
        " transform(sequence(1, size(t) - 1),"
        "  i -> named_struct('typ', 'bi',"
        "   'g', concat(element_at(t, i), ' ', element_at(t, i + 1)))))"
    )
    counts = (
        docs.select(
            "doc_id",
            F.size("t").alias("n_tok"),
            F.explode(grams).alias("x"),
        )
        .groupBy("doc_id", "n_tok", F.col("x.typ").alias("typ"), F.col("x.g").alias("g"))
        .agg(F.count("*").alias("c"))
    )
    return counts.groupBy("doc_id").agg(
        F.round(
            F.max(F.when(F.col("typ") == "tok", F.col("c"))) / F.first("n_tok"), 6
        ).alias("top_token_frac"),
        F.round(
            F.max(F.when(F.col("typ") == "bi", F.col("c")))
            / (F.first("n_tok") - 1),
            6,
        ).alias("top_bigram_frac"),
    )


PREP_MIN_TOKENS = 10
PREP_MIN_QUALITY = 0.15


def q_text_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data prep composite — the full pass a corpus
    takes before tokenizer training: language filter → length/quality
    gates → exact dedup keeping the lowest doc_id per content digest.
    One map-only scoring pass over the corpus, then ONE shuffle (window
    over the content digest) for canonical-doc selection; survivors carry
    their features out. The quality gate compares 6-decimal-rounded
    values so the threshold itself can never straddle an FP divergence."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").withColumn("t", tokens())
    n_tok = F.size("t").cast("double")
    ttr = F.size(F.array_distinct("t")) / n_tok
    stop_ratio = stopword_count("t") / n_tok
    quality = F.round(
        F.least(F.lit(1.0), n_tok / 101.0) * (1.0 - stop_ratio) * ttr, 6
    )
    scored = (
        docs.filter(F.col("lang") == "en")
        .withColumn("n_tokens", F.size("t").cast("bigint"))
        .withColumn("quality", quality)
        .withColumn("digest", F.md5(F.col("text").cast("binary")))
        .filter(
            (F.col("n_tokens") >= PREP_MIN_TOKENS)
            & (F.col("quality") >= PREP_MIN_QUALITY)
        )
    )
    w = Window.partitionBy("digest").orderBy(F.col("doc_id").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "source", "n_tokens", "quality", "digest")
    )


VOCAB_TOP_K = 10


def q_text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage quality gate: fraction of each doc's tokens
    that fall in the corpus top-K vocabulary — the cheap OOV-rate filter
    a training-data pipeline thresholds on before tokenizer work.

    Two-phase: corpus token counts pick the top-K set (deterministic
    tie-break: count desc, token asc) via orderBy().limit(K) — Spark
    plans TakeOrderedAndProject (per-partition heaps; the r06 self-audit
    retired the global row_number here, which sorted the whole
    VOCABULARY through one reducer at web scale) — and the top set
    broadcasts back into a per-doc coverage aggregate. The corpus never
    shuffles twice — tokens explode once; the count and coverage
    aggregates key on token and doc_id respectively (both
    high-cardinality, skew-free)."""
    toks = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(tokens()).alias("tok"))
        .persist()
    )
    top = F.broadcast(
        toks.groupBy("tok")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), F.col("tok").asc())
        .limit(VOCAB_TOP_K)
        .select("tok", F.lit(1).alias("in_top"))
    )
    return (
        toks.join(top, "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg(F.coalesce(F.col("in_top"), F.lit(0))), 6).alias(
                "coverage"
            ),
        )
    )


def q_text_ngram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model build: P(next | word) over the corpus, keeping
    each word's argmax next-word — the count-based conditional-probability
    table (the n-gram LM construction, and the shape of any co-occurrence
    model build). Bigrams form JVM-side from the token array (no corpus
    explode before the pair count); the conditioning total reuses the
    bigram counts via a window sum, so the corpus is scanned and
    aggregated exactly once."""
    t = (
        load_table(spark, sf_dir, "documents")
        .withColumn("t", tokens())
        .filter(F.size("t") >= 2)
    )
    pairs = t.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1),"
                " i -> named_struct('w1', element_at(t, i),"
                "                   'w2', element_at(t, i + 1)))"
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    bi = pairs.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    cw = Window.partitionBy("w1")
    rw = Window.partitionBy("w1").orderBy(F.col("c12").desc(), F.col("w2").asc())
    return (
        bi.withColumn("c1", F.sum("c12").over(cw))
        .withColumn("rn", F.row_number().over(rw))
        .filter(F.col("rn") == 1)
        .select(
            "w1",
            F.col("w2").alias("next_w"),
            F.round(F.col("c12") / F.col("c1"), 6).alias("p_next"),
            "c1",
        )
    )


def q_text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-style LM quality gate (the KenLM-filter shape): score
    each document by the mean log-probability of its bigrams under the
    corpus bigram LM — the statistical fluency filter run between
    heuristic gates and model training. Self-scored here (the LM is built
    from the same corpus, so no OOV arm is needed); in production the
    probability table comes from a reference corpus and the join goes
    left with a floor probability.

    One explode to the (doc, bigram) table (persisted — it feeds both the
    corpus counts and the per-doc join), conditional probabilities via a
    w1-partitioned window over the bigram counts, then an equi-join back
    on the bigram and a doc-keyed mean. All keys high-cardinality."""
    from pyspark.storagelevel import StorageLevel

    t = (
        load_table(spark, sf_dir, "documents")
        .withColumn("t", tokens())
        .filter(F.size("t") >= 2)
    )
    doc_bi = (
        t.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1),"
                    " i -> named_struct('w1', element_at(t, i),"
                    "                   'w2', element_at(t, i + 1)))"
                )
            ).alias("b"),
        )
        .select("doc_id", "b.w1", "b.w2")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    bi = doc_bi.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    cw = Window.partitionBy("w1")
    probs = bi.withColumn("p", F.col("c12") / F.sum("c12").over(cw)).select(
        "w1", "w2", "p"
    )
    # Scale contract: the conditional-probability table is keyed by the
    # BIGRAM — observed bigram types grow with the corpus (bounded by
    # vocab², but vocab itself is open: 10⁷–10⁹ tokens at 100 TB), so it
    # is deliberately NOT broadcast-hinted. The equi-join shuffle hash
    # joins, and AQE still broadcasts at runtime whenever the built side
    # actually fits (it always does at fixture scale).
    return (
        doc_bi.join(probs, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg(F.log("p")), 6).alias("avg_logp"),
        )
    )


def q_text_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law corpus check: the log-log slope of the vocabulary's
    rank-frequency curve (natural corpora slope ≈ −1; synthetic or
    templated text drifts flat) — the one-number sanity signature a
    corpus gets before training. Slope and fit come from closed-form
    least squares (covar_pop/var_pop over ln rank, ln freq) — one token
    shuffle for counts, then the global rank through the range-bucketed
    prefix sweep (the r06 self-audit retired the one-reducer
    Window.orderBy over the vocabulary — unlike vocab_coverage's top-K,
    Zipf needs EVERY token's rank, so the fix is the distributed
    row_number, not a heap), a scalar aggregate; rounding at 4 absorbs
    the unordered-sum FP noise of the tiny covariance aggregate."""
    from zonal_datacube_spark.functions.prefix_sweep import prefix_sweep

    toks = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(tokens()).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
    )
    ranked = prefix_sweep(
        toks,
        [],
        "c",
        descending=True,
        tiebreak=["tok"],
        row_number_col="rn",
        boundaries="quantile",
    ).select(
        F.log(F.col("rn").cast("double")).alias("lr"),
        F.log(F.col("c").cast("double")).alias("lf"),
    )
    return ranked.agg(
        F.count("*").alias("n_vocab"),
        F.round(F.covar_pop("lr", "lf") / F.var_pop("lr"), 4).alias(
            "zipf_slope"
        ),
        F.round(F.corr("lr", "lf"), 4).alias("loglog_corr"),
    )


def q_text_hapax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hapax legomena rate: the fraction of vocabulary types occurring
    exactly once (and the singleton share of total tokens) — Zipf's
    companion number; a near-zero hapax rate on a large corpus signals
    templated/synthetic text, a very high one signals OCR noise. One
    token-keyed count, one scalar rollup."""
    counts = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(tokens()).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
    )
    return counts.agg(
        F.count("*").alias("n_vocab"),
        F.sum((F.col("c") == 1).cast("bigint")).alias("n_hapax"),
        F.round(
            F.sum((F.col("c") == 1).cast("double")) / F.count("*"), 6
        ).alias("hapax_rate"),
        F.sum("c").alias("n_tokens"),
    )


PMI_TOPK = 20


def q_text_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information of within-document word pairs — the
    collocation/topic-coherence statistic (word2vec's SGNS factorizes
    exactly this matrix). Documents collapse to DISTINCT (doc, token)
    first, so a token repeated 100× in one doc contributes one row and
    the per-doc pair expansion is bounded by distinct-vocab-per-doc²
    (31-word fixture vocabulary ⇒ tiny; at corpus scale, cap to a
    top-K df vocabulary first). PMI = ln(n_ab·N/(n_a·n_b)); the top-20
    cut orders on the INTEGER pair count + the pair itself, so the
    limit is engine-stable.

    Scale contract: the unigram count tables are keyed by TOKEN — an
    open, data-scaled vocabulary — so they are deliberately NOT
    broadcast-hinted; the equi-joins shuffle hash join and AQE still
    broadcasts at runtime whenever the built side fits. Only the 1-row
    corpus-size aggregate keeps its hint — scalar at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    dt = docs.select(
        "doc_id", F.explode(F.array_distinct(tokens())).alias("tok")
    ).distinct()
    n_docs_df = F.broadcast(
        docs.agg(F.count("*").alias("n_docs"))
    )
    uni = dt.groupBy("tok").agg(F.count("*").alias("n_tok"))
    a, b = dt.alias("a"), dt.alias("b")
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("a.tok") < F.col("b.tok"))
        .groupBy(F.col("a.tok").alias("w1"), F.col("b.tok").alias("w2"))
        .agg(F.count("*").alias("n_ab"))
    )
    ua = uni.select(F.col("tok").alias("w1"), F.col("n_tok").alias("n_a"))
    ub = uni.select(F.col("tok").alias("w2"), F.col("n_tok").alias("n_b"))
    return (
        pairs.join(ua, "w1")
        .join(ub, "w2")
        .crossJoin(n_docs_df)
        .select(
            "w1",
            "w2",
            "n_ab",
            F.round(
                F.log(
                    F.col("n_ab") * F.col("n_docs")
                    / (F.col("n_a") * F.col("n_b"))
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.col("n_ab").desc(), "w1", "w2")
        .limit(PMI_TOPK)
    )


FUNNEL_MIN_TOKENS = 12
FUNNEL_STOPWORDS = ("the", "a")


def q_text_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter funnel ledger: every document is attributed to its
    FIRST failing rule (lang → min-length → stopword ratio → max-token
    repetition), the per-stage attrition report a C4/Gopher-style
    curation pipeline publishes next to its output. One map pass scores
    all rules, one 5-row groupBy counts; `q_text_prep_pipeline` keeps
    the survivors, this key accounts for the drops. Ratio rules compare
    as integer cross-multiplications (7·stop > n, 6·maxrep > n) so the
    classification is grid-exact on both engines (rule 8)."""
    docs = load_table(spark, sf_dir, "documents").withColumn("t", tokens())
    n = F.size("t")
    stop_arr = F.array(*[F.lit(wd) for wd in FUNNEL_STOPWORDS])
    stop = F.size(F.filter("t", lambda y: F.array_contains(stop_arr, y)))
    maxc = F.array_max(
        F.transform(
            F.array_distinct("t"),
            lambda x: F.size(F.filter("t", lambda y: y == x)),
        )
    )
    stage = (
        F.when(F.col("lang") != "en", "1_lang")
        .when(n < FUNNEL_MIN_TOKENS, "2_too_short")
        .when(stop * 7 > n, "3_stopword_ratio")
        .when(maxc * 6 > n, "4_repetition")
        .otherwise("5_pass")
    )
    staged = docs.select(stage.alias("stage"))
    counts = staged.groupBy("stage").agg(F.count("*").alias("n_docs"))
    total = counts.agg(F.sum("n_docs").alias("n_total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "stage",
            "n_docs",
            g6(F.col("n_docs").cast("double") / F.col("n_total")).alias(
                "share"
            ),
        )
    )


def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: subword-tokens-per-word and
    chars-per-subword-token under the BPE-ish regex tokenizer
    (`q_text_token_regex`'s classes) — the standard readout when
    deciding whether a tokenizer taxes some languages more than others
    (fertility ≈ 1 means near-word-level; high fertility means long
    sequences and higher training cost for that language). Map-only
    integer sums per bounded lang key; the ratios are exact integer
    quotients."""
    docs = load_table(spark, sf_dir, "documents")
    low = F.lower(F.col("text"))
    scored = docs.select(
        "lang",
        F.size(F.split(low, " ")).cast("bigint").alias("words"),
        F.size(F.regexp_extract_all(low, F.lit(_BPE_RE), 0))
        .cast("bigint")
        .alias("bpe"),
        F.length("text").cast("bigint").alias("chars"),
    )
    g = scored.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("words").alias("n_words"),
        F.sum("bpe").alias("n_bpe_tokens"),
        F.sum("chars").alias("n_chars"),
    )
    return g.select(
        "lang",
        "n_docs",
        "n_words",
        "n_bpe_tokens",
        "n_chars",
        g6(
            F.col("n_bpe_tokens").cast("double")
            / F.col("n_words").cast("double")
        ).alias("fertility"),
        g6(
            F.col("n_chars").cast("double")
            / F.col("n_bpe_tokens").cast("double")
        ).alias("chars_per_token"),
    )


# --------------------------------------------------------------------------
# RAKE-lite keyword extraction
# --------------------------------------------------------------------------

RAKE_STOPWORDS = 10
RAKE_TOP = 15


def q_text_keyword_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE-lite keyword extraction (Rose 2010): stopwords = the 10
    most frequent tokens corpus-wide (data-driven, selected with a
    TakeOrdered heap — never a global rank window), candidate phrases
    = maximal stopword-free token runs per document (the classic
    gaps-and-islands row_number difference, windowed by doc_id — a
    data-scaled key), and each keyword scores degree/frequency where
    degree sums the lengths of every phrase containing it. Both counts
    are exact integers, the score is their single correctly-rounded
    division (rule 8 — identical rank order in both engines), and the
    top-15 is another TakeOrdered heap over the vocabulary grain."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower("text"), " ")).alias("i", "tok"),
    )
    stop = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), F.col("tok").asc())
        .limit(RAKE_STOPWORDS)
        .select("tok", F.lit(True).alias("is_stop"))
    )
    nonstop = (
        toks.join(F.broadcast(stop), "tok", "left")
        .filter(F.col("is_stop").isNull())
        .select("doc_id", "i", "tok")
    )
    w_doc = Window.partitionBy("doc_id").orderBy("i")
    runs = nonstop.withColumn(
        "run", F.col("i") - F.row_number().over(w_doc)
    )
    w_run = Window.partitionBy("doc_id", "run")
    with_len = runs.withColumn("plen", F.count("*").over(w_run))
    stats = with_len.groupBy("tok").agg(
        F.count("*").alias("freq"),
        F.sum("plen").alias("degree"),
    )
    score = F.col("degree").cast("double") / F.col("freq").cast("double")
    return (
        stats.select(
            "tok",
            "freq",
            "degree",
            g6(score).alias("rake_score"),
        )
        .orderBy(F.col("rake_score").desc(), F.col("tok").asc())
        .limit(RAKE_TOP)
    )


# --------------------------------------------------------------------------
# Jensen–Shannon divergence between language distributions
# --------------------------------------------------------------------------

_JS_GRID = 1_000_000_000  # 1e-9 grid for per-term contributions


def q_text_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen–Shannon divergence between every language pair's unigram
    token distribution — the symmetric, bounded distribution-shift
    metric a multilingual corpus pipeline monitors when mixing sources.
    Probabilities are single divisions of exact integer counts
    (term count / language total), each pairwise term
    p·ln(p/m) + q·ln(q/m) with m=(p+q)/2 is the IDENTICAL expression
    shape in both engines (absent terms contribute with p=0 via the
    one-sided limit q·ln(2)), and every term quantizes to a 1e-9 grid
    integer before the vocabulary-grain sum. Output: JS (nats, halved
    to the standard [0, ln 2] range) per unordered language pair."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "lang", F.explode(F.split(F.lower("text"), " ")).alias("tok")
    )
    counts = toks.groupBy("lang", "tok").agg(F.count("*").alias("c"))
    totals = toks.groupBy("lang").agg(F.count("*").alias("t"))
    wc = counts.join(F.broadcast(totals), "lang").select(
        "lang", "tok", (F.col("c").cast("double") / F.col("t").cast("double")).alias("p")
    )
    a = wc.select(
        F.col("lang").alias("lang_a"), "tok", F.col("p").alias("pa")
    )
    b = wc.select(
        F.col("lang").alias("lang_b"), "tok", F.col("p").alias("pb")
    )
    pairs = a.join(b, "tok").filter(F.col("lang_a") < F.col("lang_b"))
    # full outer union of supports: a term absent from one language
    # contributes p·ln(2) from the present side only. Model it by
    # computing per-(pair, tok) contributions for the JOINED support,
    # then adding each language's leftover mass via the totals of
    # joined probabilities (Σ p over shared support), since
    # Σ_absent p·ln(2) = (1 − Σ_shared p)·ln(2).
    m = (F.col("pa") + F.col("pb")) / 2
    term = (
        F.col("pa") * F.log(F.col("pa") / m)
        + F.col("pb") * F.log(F.col("pb") / m)
    )
    shared = pairs.select(
        "lang_a",
        "lang_b",
        half_up(term, _JS_GRID).cast("bigint").alias("tq"),
        half_up(F.col("pa"), _JS_GRID)
        .cast("bigint")
        .alias("paq"),
        half_up(F.col("pb"), _JS_GRID)
        .cast("bigint")
        .alias("pbq"),
    )
    agg = shared.groupBy("lang_a", "lang_b").agg(
        F.count("*").alias("n_shared_terms"),
        F.sum("tq").alias("sum_tq"),
        F.sum("paq").alias("sum_paq"),
        F.sum("pbq").alias("sum_pbq"),
    )
    ln2 = 0.6931471805599453
    js = (
        F.col("sum_tq").cast("double") / _JS_GRID
        + (
            F.lit(2 * _JS_GRID)
            - F.col("sum_paq")
            - F.col("sum_pbq")
        ).cast("double")
        / _JS_GRID
        * ln2
    ) / 2
    return agg.select(
        "lang_a",
        "lang_b",
        "n_shared_terms",
        g6(js).alias("js_divergence"),
    )


# ---------------------------------------------------------------------------
# BPE merge-candidate scan (tokenizer training, iteration one)
# ---------------------------------------------------------------------------

BPE_TOPK = 20


def q_text_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first merge-candidate scan of BPE tokenizer training: corpus
    term frequencies collapse the text to the VOCABULARY grain, every
    distinct token explodes to its adjacent character pairs, and each
    pair's count is the sum of its hosting tokens' corpus frequencies —
    exactly the statistic the first BPE merge maximizes. Top-20 by
    count with the pair itself as tiebreak: all-integer, engine-stable.

    Scale shape: the heavy text never re-tokenizes per pair — the pair
    explosion runs on the vocabulary grain (types, not tokens), which
    is sub-linear in the corpus; the only corpus-scaled pass is the
    token count's map-side partial aggregate. This is the real BPE
    training layout (HuggingFace tokenizers pre-counts words for the
    same reason). Single-char tokens host no pair and are filtered
    explicitly on both engines (Spark's sequence(1, 0) counts DOWN —
    the shingles() lesson)."""
    from zonal_datacube_spark.functions.text_funcs import tokens

    vocab = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(tokens()).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("n_tok"))
        .filter(F.length("tok") >= 2)
    )
    pairs = vocab.select(
        "n_tok",
        F.explode(
            F.expr(
                "transform(sequence(1, length(tok) - 1),"
                " i -> substring(tok, i, 2))"
            )
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("n_tok").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), "pair")
        .limit(BPE_TOPK)
    )


QUERIES = {
    "q_text_pmi": q_text_pmi,
    "q_text_tokens": q_text_tokens,
    "q_text_lm_score": q_text_lm_score,
    "q_text_zipf": q_text_zipf,
    "q_text_hapax": q_text_hapax,
    "q_text_repetition": q_text_repetition,
    "q_text_prep_pipeline": q_text_prep_pipeline,
    "q_text_redact": q_text_redact,
    "q_text_tfidf": q_text_tfidf,
    "q_text_stats": q_text_stats,
    "q_text_langid": q_text_langid,
    "q_text_quality": q_text_quality,
    "q_text_fingerprint": q_text_fingerprint,
    "q_text_token_regex": q_text_token_regex,
    "q_text_vocab_coverage": q_text_vocab_coverage,
    "q_text_ngram_lm": q_text_ngram_lm,
    "q_text_filter_funnel": q_text_filter_funnel,
    "q_tokenizer_fertility": q_tokenizer_fertility,
    "q_text_keyword_rake": q_text_keyword_rake,
    "q_text_js_divergence": q_text_js_divergence,
    "q_text_bpe_pairs": q_text_bpe_pairs,
}


ORACLE = {
    "q_text_pmi": f"""
        WITH dt AS (
            SELECT DISTINCT doc_id, unnest({TOKENS_SQL}) AS tok FROM documents
        ),
        n_docs AS (SELECT count(*) AS n_docs FROM documents),
        uni AS (SELECT tok, count(*) AS n_tok FROM dt GROUP BY tok),
        pairs AS (
            SELECT a.tok AS w1, b.tok AS w2, count(*) AS n_ab
            FROM dt a JOIN dt b
              ON a.doc_id = b.doc_id AND a.tok < b.tok
            GROUP BY 1, 2
        )
        SELECT w1, w2, n_ab,
               round(ln(n_ab * 1.0 * n.n_docs
                        / (ua.n_tok * ub.n_tok)), 6) AS pmi
        FROM pairs
        JOIN uni ua ON ua.tok = w1
        JOIN uni ub ON ub.tok = w2
        CROSS JOIN n_docs n
        ORDER BY n_ab DESC, w1, w2
        LIMIT {PMI_TOPK}
    """,
    "q_text_hapax": f"""
        WITH counts AS (
            SELECT tok, count(*) AS c
            FROM (SELECT unnest({TOKENS_SQL}) AS tok FROM documents)
            GROUP BY tok
        )
        SELECT count(*) AS n_vocab,
               sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT AS n_hapax,
               round(sum(CASE WHEN c = 1 THEN 1.0 ELSE 0.0 END) / count(*), 6)
                   AS hapax_rate,
               sum(c)::BIGINT AS n_tokens
        FROM counts
    """,
    "q_text_zipf": f"""
        WITH toks AS (
            SELECT tok, count(*) AS c
            FROM (SELECT unnest({TOKENS_SQL}) AS tok FROM documents)
            GROUP BY tok
        ),
        ranked AS (
            SELECT ln(row_number() OVER (ORDER BY c DESC, tok ASC)) AS lr,
                   ln(c) AS lf
            FROM toks
        )
        SELECT count(*) AS n_vocab,
               round(covar_pop(lr, lf) / var_pop(lr), 4) AS zipf_slope,
               round(corr(lr, lf), 4) AS loglog_corr
        FROM ranked
    """,
    "q_text_lm_score": f"""
        WITH t AS (
            SELECT doc_id, {TOKENS_SQL} AS toks FROM documents
            WHERE len({TOKENS_SQL}) >= 2
        ),
        doc_bi AS (
            SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
            FROM t, unnest(range(1, len(toks))) AS u(i)
        ),
        bi AS (SELECT w1, w2, count(*) AS c12 FROM doc_bi GROUP BY w1, w2),
        probs AS (
            SELECT w1, w2,
                   c12 * 1.0 / sum(c12) OVER (PARTITION BY w1) AS p
            FROM bi
        )
        SELECT d.doc_id, count(*) AS n_bigrams,
               round(avg(ln(p)), 6) AS avg_logp
        FROM doc_bi d JOIN probs USING (w1, w2)
        GROUP BY d.doc_id
    """,
    "q_text_vocab_coverage": f"""
        WITH toks AS (
            SELECT doc_id, unnest({TOKENS_SQL}) AS tok FROM documents
        ),
        top AS (
            SELECT tok FROM (SELECT tok, count(*) AS c FROM toks GROUP BY tok)
            QUALIFY row_number() OVER (ORDER BY c DESC, tok ASC) <= {VOCAB_TOP_K}
        )
        SELECT doc_id, count(*) AS n_tokens,
               round(avg(CASE WHEN tok IN (SELECT tok FROM top)
                              THEN 1.0 ELSE 0.0 END), 6) AS coverage
        FROM toks GROUP BY doc_id
    """,
    "q_text_ngram_lm": f"""
        WITH t AS (
            SELECT {TOKENS_SQL} AS toks FROM documents WHERE len({TOKENS_SQL}) >= 2
        ),
        pairs AS (
            SELECT toks[i] AS w1, toks[i + 1] AS w2
            FROM t, unnest(range(1, len(toks))) AS u(i)
        ),
        bi AS (SELECT w1, w2, count(*) AS c12 FROM pairs GROUP BY w1, w2)
        SELECT w1, w2 AS next_w,
               round(c12 * 1.0 / sum(c12) OVER (PARTITION BY w1), 6) AS p_next,
               (sum(c12) OVER (PARTITION BY w1))::BIGINT AS c1
        FROM bi
        QUALIFY row_number() OVER (PARTITION BY w1
                                   ORDER BY c12 DESC, w2 ASC) = 1
    """,
    "q_text_redact": rf"""
        SELECT doc_id,
               len(regexp_extract_all(text, '{_REDACT_RE}'))::BIGINT AS n_redacted,
               md5(regexp_replace(text, '{_REDACT_RE}', '{_REDACT_WITH}', 'g'))
                   AS redacted_digest
        FROM documents
    """,
    "q_text_tokens": f"""
        SELECT token, count(*) AS n_occurrences
        FROM (SELECT unnest({TOKENS_SQL}) AS token FROM documents)
        GROUP BY token
    """,
    "q_text_repetition": f"""
        WITH t AS (
            SELECT doc_id, {TOKENS_SQL} AS toks FROM documents
            WHERE len({TOKENS_SQL}) >= 2
        ),
        tokc AS (
            SELECT doc_id, n_tok, g, count(*) AS c
            FROM (SELECT doc_id, len(toks) AS n_tok, unnest(toks) AS g FROM t)
            GROUP BY 1, 2, 3
        ),
        toka AS (
            SELECT doc_id, round(max(c) * 1.0 / any_value(n_tok), 6) AS top_token_frac
            FROM tokc GROUP BY doc_id
        ),
        bic AS (
            SELECT doc_id, n_bi, g, count(*) AS c
            FROM (
                SELECT doc_id, len(toks) - 1 AS n_bi,
                       unnest(list_transform(range(1, len(toks)),
                                             i -> toks[i] || ' ' || toks[i + 1])) AS g
                FROM t
            )
            GROUP BY 1, 2, 3
        ),
        bia AS (
            SELECT doc_id, round(max(c) * 1.0 / any_value(n_bi), 6) AS top_bigram_frac
            FROM bic GROUP BY doc_id
        )
        SELECT doc_id, top_token_frac, top_bigram_frac
        FROM toka JOIN bia USING (doc_id)
    """,
    "q_text_prep_pipeline": f"""
        WITH scored AS (
            SELECT doc_id, source,
                   len({TOKENS_SQL})::BIGINT AS n_tokens,
                   round(least(1.0, len({TOKENS_SQL}) / 101.0)
                         * (1.0 - len(list_filter({TOKENS_SQL}, x -> x = 'the' OR x = 'a'))
                                  * 1.0 / len({TOKENS_SQL}))
                         * (len(list_distinct({TOKENS_SQL})) * 1.0 / len({TOKENS_SQL})), 6)
                       AS quality,
                   md5(text) AS digest
            FROM documents
            WHERE lang = 'en'
        )
        SELECT doc_id, source, n_tokens, quality, digest
        FROM scored
        WHERE n_tokens >= {PREP_MIN_TOKENS} AND quality >= {PREP_MIN_QUALITY}
        QUALIFY row_number() OVER (PARTITION BY digest ORDER BY doc_id) = 1
    """,
    "q_text_tfidf": f"""
        WITH terms AS (SELECT doc_id, unnest({TOKENS_SQL}) AS token FROM documents),
             tf AS (SELECT doc_id, token, count(*) AS tf FROM terms GROUP BY 1, 2),
             df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
             n AS (SELECT count(*) AS n_docs FROM documents)
        SELECT tf.doc_id, tf.token, tf.tf,
               round(tf.tf * ln(n.n_docs * 1.0 / df.df), 6) AS tfidf
        FROM tf JOIN df USING (token) CROSS JOIN n
    """,
    "q_text_stats": f"""
        SELECT lang, source,
               count(*) AS n_docs,
               round(avg(n_chars), 6) AS avg_chars,
               round(avg(len({TOKENS_SQL})), 6) AS avg_tokens
        FROM documents
        GROUP BY lang, source
    """,
    "q_text_langid": f"""
        WITH t AS (
            SELECT lang,
                   len(list_filter({TOKENS_SQL}, x -> x = 'the' OR x = 'a')) * 1.0
                       / len({TOKENS_SQL}) AS r
            FROM documents
        )
        SELECT lang,
               CASE WHEN r >= 0.10 THEN 'en'
                    WHEN r >= 0.06 THEN 'fr'
                    WHEN r >= 0.03 THEN 'de'
                    WHEN r > 0.0 THEN 'es'
                    ELSE 'zh' END AS pred_lang,
               count(*) AS n_docs
        FROM t
        GROUP BY 1, 2
    """,
    "q_text_quality": f"""
        WITH t AS (SELECT doc_id, n_chars, {TOKENS_SQL} AS toks FROM documents)
        SELECT doc_id,
               len(toks)::BIGINT AS n_tokens,
               round(len(list_distinct(toks)) * 1.0 / len(toks), 6) AS type_token_ratio,
               round(len(list_filter(toks, x -> x = 'the' OR x = 'a')) * 1.0
                     / len(toks), 6) AS stop_ratio,
               round(n_chars * 1.0 / len(toks), 6) AS chars_per_token,
               round(least(1.0, len(toks) / 101.0)
                     * (1.0 - len(list_filter(toks, x -> x = 'the' OR x = 'a')) * 1.0
                        / len(toks))
                     * (len(list_distinct(toks)) * 1.0 / len(toks)), 6) AS quality
        FROM t
    """,
    "q_text_fingerprint": f"""
        SELECT md5(array_to_string(list_sort(list_distinct({TOKENS_SQL})), ' ')) AS fp,
               count(*) AS n_docs,
               min(doc_id) AS min_doc_id
        FROM documents
        GROUP BY 1
    """,
    "q_text_token_regex": f"""
        SELECT doc_id,
               len(regexp_extract_all(lower(text), '{_BPE_RE}'))::BIGINT AS n_bpe_tokens,
               len({TOKENS_SQL})::BIGINT AS n_ws_tokens
        FROM documents
    """,
    "q_text_filter_funnel": f"""
        WITH f AS (
            SELECT lang, {TOKENS_SQL} AS toks FROM documents
        ),
        scored AS (
            SELECT lang, len(toks) AS n,
                   len(list_filter(toks, y -> y = 'the' OR y = 'a'))
                       AS stop,
                   list_max(list_transform(list_distinct(toks),
                       x -> len(list_filter(toks, y -> y = x)))) AS maxc
            FROM f
        ),
        staged AS (
            SELECT CASE
                WHEN lang <> 'en' THEN '1_lang'
                WHEN n < {FUNNEL_MIN_TOKENS} THEN '2_too_short'
                WHEN stop * 7 > n THEN '3_stopword_ratio'
                WHEN maxc * 6 > n THEN '4_repetition'
                ELSE '5_pass' END AS stage
            FROM scored
        ),
        c AS (
            SELECT stage, count(*)::BIGINT AS n_docs FROM staged
            GROUP BY stage
        ),
        t AS (SELECT sum(n_docs)::BIGINT AS n_total FROM c)
        SELECT stage, n_docs,
               {G6_SQL.format(x='n_docs::DOUBLE / t.n_total')} AS share
        FROM c, t ORDER BY stage
    """,
    "q_tokenizer_fertility": f"""
        WITH s AS (
            SELECT lang,
                   len(string_split(lower(text), ' '))::BIGINT AS words,
                   len(regexp_extract_all(lower(text), '{_BPE_RE}'))::BIGINT
                       AS bpe,
                   len(text)::BIGINT AS chars
            FROM documents
        ),
        g AS (
            SELECT lang, count(*)::BIGINT AS n_docs,
                   sum(words)::BIGINT AS n_words,
                   sum(bpe)::BIGINT AS n_bpe_tokens,
                   sum(chars)::BIGINT AS n_chars
            FROM s GROUP BY lang
        )
        SELECT lang, n_docs, n_words, n_bpe_tokens, n_chars,
               {G6_SQL.format(x='n_bpe_tokens::DOUBLE / n_words::DOUBLE')}
                   AS fertility,
               {G6_SQL.format(x='n_chars::DOUBLE / n_bpe_tokens::DOUBLE')}
                   AS chars_per_token
        FROM g ORDER BY lang
    """,
    "q_text_keyword_rake": f"""
        WITH toks AS (
            SELECT doc_id, i, toks[i] AS tok
            FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks
                  FROM documents),
                 unnest(range(1, len(toks) + 1)) AS u(i)
        ),
        stop AS (
            SELECT tok
            FROM (SELECT tok, count(*) AS c FROM toks GROUP BY tok)
            QUALIFY row_number()
                OVER (ORDER BY c DESC, tok ASC) <= {RAKE_STOPWORDS}
        ),
        ns AS (
            SELECT doc_id, i, tok,
                   i - row_number() OVER (
                       PARTITION BY doc_id ORDER BY i
                   ) AS run
            FROM toks WHERE tok NOT IN (SELECT tok FROM stop)
        ),
        with_len AS (
            SELECT tok,
                   count(*) OVER (PARTITION BY doc_id, run) AS plen
            FROM ns
        ),
        stats AS (
            SELECT tok, count(*)::BIGINT AS freq,
                   sum(plen)::BIGINT AS degree
            FROM with_len GROUP BY tok
        )
        SELECT tok, freq, degree,
               {G6_SQL.format(x="degree::DOUBLE / freq::DOUBLE")}
                   AS rake_score
        FROM stats
        ORDER BY degree::DOUBLE / freq::DOUBLE DESC, tok ASC
        LIMIT {RAKE_TOP}
    """,
    "q_text_js_divergence": f"""
        WITH toks AS (
            SELECT lang, unnest(string_split(lower(text), ' ')) AS tok
            FROM documents
        ),
        counts AS (
            SELECT lang, tok, count(*)::BIGINT AS c
            FROM toks GROUP BY lang, tok
        ),
        totals AS (
            SELECT lang, count(*)::BIGINT AS t FROM toks GROUP BY lang
        ),
        wc AS (
            SELECT c.lang, c.tok, c.c::DOUBLE / t.t::DOUBLE AS p
            FROM counts c JOIN totals t ON c.lang = t.lang
        ),
        pairs AS (
            SELECT a.lang AS lang_a, b.lang AS lang_b,
                   a.p AS pa, b.p AS pb
            FROM wc a JOIN wc b ON a.tok = b.tok AND a.lang < b.lang
        ),
        shared AS (
            SELECT lang_a, lang_b,
                   CAST(floor(
                       (pa * ln(pa / ((pa + pb) / 2))
                        + pb * ln(pb / ((pa + pb) / 2)))
                       * {_JS_GRID} + 0.5
                   ) AS BIGINT) AS tq,
                   CAST(floor(pa * {_JS_GRID} + 0.5) AS BIGINT) AS paq,
                   CAST(floor(pb * {_JS_GRID} + 0.5) AS BIGINT) AS pbq
            FROM pairs
        ),
        agg AS (
            SELECT lang_a, lang_b,
                   count(*)::BIGINT AS n_shared_terms,
                   sum(tq)::BIGINT AS sum_tq,
                   sum(paq)::BIGINT AS sum_paq,
                   sum(pbq)::BIGINT AS sum_pbq
            FROM shared GROUP BY lang_a, lang_b
        )
        SELECT lang_a, lang_b, n_shared_terms,
               {G6_SQL.format(
                   x=f"(sum_tq::DOUBLE / {_JS_GRID}"
                   f" + (2 * {_JS_GRID} - sum_paq - sum_pbq)::DOUBLE"
                   f" / {_JS_GRID} * 0.6931471805599453) / 2"
               )} AS js_divergence
        FROM agg ORDER BY lang_a, lang_b
    """,
    "q_text_bpe_pairs": f"""
        WITH vocab AS (
            SELECT tok, count(*)::BIGINT AS n_tok
            FROM (SELECT unnest(string_split(lower(text), ' ')) AS tok
                  FROM documents)
            GROUP BY tok
            HAVING length(tok) >= 2
        ),
        pairs AS (
            SELECT tok[i : i + 1] AS pair, n_tok
            FROM vocab, unnest(range(1, length(tok))) AS t(i)
        )
        SELECT pair, sum(n_tok)::BIGINT AS n_occurrences
        FROM pairs
        GROUP BY pair
        ORDER BY n_occurrences DESC, pair
        LIMIT {BPE_TOPK}
    """,
}
