"""Privacy and disclosure-control operators: a k-anonymity census,
randomized-response private counts, l-diversity and a k-anonymity
generalization eval. Each key has an independent DuckDB oracle.

Determinism (FIXTURES.md cookbook): randomness is md5-hash-derived
(engine-bit-identical, the q_sample_hash idiom); every threshold decision
is made on exact integers; display doubles use the 1e-6 half-up grid
(functions/exact.py).

Scale notes (100 TB):
- each census is one groupBy on the quasi-identifier tuple plus a bounded
  class-size rollup — map-side combine does the heavy lifting, and no
  per-row risk is ever materialized.
- randomized response is a pure map pass (hash → flip/replace) into a
  5-row aggregate; the debiasing arithmetic runs on the rollup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zonal_datacube_spark.functions.exact import G6_SQL, g6
from zonal_datacube_spark.sources.loader import load_table


# --------------------------------------------------------------------------
# k-anonymity census and randomized response
# --------------------------------------------------------------------------

K_ANON_K = 5


def q_privacy_k_anon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit of the customer table under the quasi-identifier
    (nation, market segment, account-balance kilo-band) — the census a
    governance review runs before a dataset leaves its enclave: how many
    equivalence classes exist, how small is the smallest, and what share
    of ROWS sit in classes below k=5 (those rows are re-identifiable by
    the QI alone). One groupBy on the QI tuple, one bounded rollup."""
    cust = load_table(spark, sf_dir, "customer")
    qi = cust.select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("bal_band"),
    )
    classes = qi.groupBy("c_nationkey", "c_mktsegment", "bal_band").agg(
        F.count("*").alias("s")
    )
    return classes.agg(
        F.sum("s").alias("n_rows"),
        F.count("*").alias("n_classes"),
        F.min("s").alias("min_class_size"),
        F.sum((F.col("s") == 1).cast("bigint")).alias("n_singleton_classes"),
        F.sum(F.when(F.col("s") < K_ANON_K, F.col("s")).otherwise(0)).alias(
            "n_rows_risky"
        ),
    ).select(
        "n_rows",
        "n_classes",
        "min_class_size",
        "n_singleton_classes",
        "n_rows_risky",
        g6(
            F.col("n_rows_risky").cast("double")
            / F.col("n_rows").cast("double")
        ).alias("risky_share"),
    )


RR_TYPES = ("click", "error", "purchase", "signup", "view")
RR_FLIP_NUM = 64  # flip probability p = 64/256 = 1/4, exact


def _hex_digit(expr: str, pos: int) -> str:
    """SQL for one md5 hex digit as 0..15 (engine-portable)."""
    return (
        f"(locate(substr(md5({expr}), {pos}, 1), '0123456789abcdef') - 1)"
    )


def q_privacy_rr_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Randomized-response private counting (Warner 1965, the local-DP
    mechanism): each event reports its TRUE type with probability 3/4,
    otherwise a hash-chosen uniform type — then the per-type count is
    debiased with the exact closed form est = (obs − p·n/5)/(1−p). All
    coins are md5-derived (first two hex digits → flip bucket, third →
    replacement type), so both engines toss IDENTICAL coins and the
    whole mechanism is replayable; the debiasing runs in exact integer
    arithmetic until one final division. Reports observed vs debiased vs
    true counts and the signed estimation error per type."""
    ev = load_table(spark, sf_dir, "events")
    h = "cast(event_id as string)"
    bucket = F.expr(
        f"{_hex_digit(h, 1)} * 16 + {_hex_digit(h, 2)}"
    ).cast("int")
    repl_idx = F.expr(_hex_digit(h, 3)).cast("int") % len(RR_TYPES)
    types_arr = F.array(*[F.lit(t) for t in RR_TYPES])
    reported = F.when(
        bucket < RR_FLIP_NUM, F.element_at(types_arr, repl_idx + F.lit(1))
    ).otherwise(F.col("event_type"))
    noised = ev.select(
        "event_type", reported.alias("reported")
    )
    obs = noised.groupBy(F.col("reported").alias("t")).agg(
        F.count("*").alias("observed")
    )
    true = noised.groupBy(F.col("event_type").alias("t")).agg(
        F.count("*").alias("true_count")
    )
    total = noised.agg(F.count("*").alias("n"))
    k = len(RR_TYPES)
    joined = (
        obs.join(true, "t", "full_outer")
        .crossJoin(F.broadcast(total))
        .select(
            "t",
            F.coalesce("observed", F.lit(0)).alias("observed"),
            F.coalesce("true_count", F.lit(0)).alias("true_count"),
            "n",
        )
    )
    # est = (obs - n·p/k) / (1-p) with p = 1/4, k = 5:
    #     = (20·obs - n) / 15  — exact integer numerator, one division
    est = (F.col("observed") * 20 - F.col("n")).cast("double") / 15.0
    return joined.select(
        "t",
        "observed",
        "true_count",
        g6(est).alias("estimated"),
        g6(est - F.col("true_count").cast("double")).alias("est_error"),
    )


# --------------------------------------------------------------------------
# l-diversity
# --------------------------------------------------------------------------

L_DIVERSITY_L = 3


def q_privacy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (Machanavajjhala 2007) of the customer table:
    quasi-identifier = (nation, account-balance kilo-band), sensitive
    attribute = market segment. k-anonymity alone leaves a class
    re-identifiable when every member SHARES the sensitive value; this
    reports how many equivalence classes carry fewer than l=3 distinct
    segments and what share of rows sit in them. One groupBy on the QI
    with a count-distinct, then a bounded rollup — all exact integers
    until the one display division."""
    cust = load_table(spark, sf_dir, "customer")
    classes = cust.groupBy(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("bal_band"),
    ).agg(
        F.count("*").alias("s"),
        F.count_distinct("c_mktsegment").alias("l"),
    )
    low = F.col("l") < L_DIVERSITY_L
    return classes.agg(
        F.sum("s").alias("n_rows"),
        F.count("*").alias("n_classes"),
        F.min("l").alias("min_l"),
        F.sum(low.cast("bigint")).alias("n_classes_low_l"),
        F.sum(F.when(low, F.col("s")).otherwise(0)).alias("n_rows_low_l"),
    ).select(
        "n_rows",
        "n_classes",
        "min_l",
        "n_classes_low_l",
        "n_rows_low_l",
        g6(
            F.col("n_rows_low_l").cast("double")
            / F.col("n_rows").cast("double")
        ).alias("low_l_row_share"),
    )


# --------------------------------------------------------------------------
# k-anonymity generalization eval
# --------------------------------------------------------------------------

GEN_K = 5


def q_privacy_generalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generalization (repair) eval for k-anonymity: the re-id risk of
    the FINE quasi-identifier (nation, segment, 1k balance band) vs
    the GENERALIZED one (region, segment, 5k band) — the measurement
    that justifies a coarsening step in an anonymization pipeline.
    Each level is one QI groupBy + bounded rollup (the
    q_privacy_k_anon shape); regions come through the broadcast dim.
    Output: one row per level with class census and risky-row share."""
    cust = load_table(spark, sf_dir, "customer")
    nation = F.broadcast(
        load_table(spark, sf_dir, "nation").select(
            "n_nationkey", "n_regionkey"
        )
    )
    withreg = cust.join(
        nation, cust.c_nationkey == nation.n_nationkey
    )

    def level(df: DataFrame, name: str, geo: str, band: int) -> DataFrame:
        classes = df.groupBy(
            F.col(geo),
            F.col("c_mktsegment"),
            F.floor(F.col("c_acctbal") / band)
            .cast("bigint")
            .alias("bal_band"),
        ).agg(F.count("*").alias("s"))
        return classes.agg(
            F.lit(name).alias("level"),
            F.sum("s").alias("n_rows"),
            F.count("*").alias("n_classes"),
            F.min("s").alias("min_class_size"),
            F.sum(
                F.when(F.col("s") < GEN_K, F.col("s")).otherwise(0)
            ).alias("n_rows_risky"),
        )

    fine = level(withreg, "fine", "c_nationkey", 1000)
    coarse = level(withreg, "generalized", "n_regionkey", 5000)
    both = fine.unionByName(coarse)
    return both.select(
        "level",
        "n_rows",
        "n_classes",
        "min_class_size",
        "n_rows_risky",
        g6(
            F.col("n_rows_risky").cast("double")
            / F.col("n_rows").cast("double")
        ).alias("risky_share"),
    )


QUERIES = {
    "q_privacy_k_anon": q_privacy_k_anon,
    "q_privacy_rr_count": q_privacy_rr_count,
    "q_privacy_l_diversity": q_privacy_l_diversity,
    "q_privacy_generalization": q_privacy_generalization,
}


def _rr_oracle() -> str:
    hex1 = "(strpos('0123456789abcdef', substr(md5(CAST(event_id AS VARCHAR)), 1, 1)) - 1)"
    hex2 = "(strpos('0123456789abcdef', substr(md5(CAST(event_id AS VARCHAR)), 2, 1)) - 1)"
    hex3 = "(strpos('0123456789abcdef', substr(md5(CAST(event_id AS VARCHAR)), 3, 1)) - 1)"
    types = ", ".join(f"'{t}'" for t in RR_TYPES)
    return f"""
        WITH noised AS (
            SELECT event_type,
                   CASE WHEN {hex1} * 16 + {hex2} < {RR_FLIP_NUM}
                        THEN ([{types}])[{hex3} % {len(RR_TYPES)} + 1]
                        ELSE event_type END AS reported
            FROM events
        ),
        obs AS (
            SELECT reported AS t, count(*)::BIGINT AS observed
            FROM noised GROUP BY reported
        ),
        tru AS (
            SELECT event_type AS t, count(*)::BIGINT AS true_count
            FROM noised GROUP BY event_type
        ),
        tot AS (SELECT count(*)::BIGINT AS n FROM noised)
        SELECT t,
               coalesce(observed, 0)::BIGINT AS observed,
               coalesce(true_count, 0)::BIGINT AS true_count,
               {G6_SQL.format(x='(coalesce(observed, 0) * 20 - n)::DOUBLE / 15.0')}
                   AS estimated,
               {G6_SQL.format(x='(coalesce(observed, 0) * 20 - n)::DOUBLE / 15.0 - coalesce(true_count, 0)::DOUBLE')}
                   AS est_error
        FROM obs FULL OUTER JOIN tru USING (t), tot
        ORDER BY t
    """


ORACLE = {
    "q_privacy_k_anon": f"""
        WITH classes AS (
            SELECT c_nationkey, c_mktsegment,
                   CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
                   count(*)::BIGINT AS s
            FROM customer GROUP BY 1, 2, 3
        )
        SELECT sum(s)::BIGINT AS n_rows,
               count(*)::BIGINT AS n_classes,
               min(s)::BIGINT AS min_class_size,
               count_if(s = 1)::BIGINT AS n_singleton_classes,
               sum(CASE WHEN s < {K_ANON_K} THEN s ELSE 0 END)::BIGINT
                   AS n_rows_risky,
               {G6_SQL.format(x="sum(CASE WHEN s < " + str(K_ANON_K) + " THEN s ELSE 0 END)::DOUBLE / sum(s)::DOUBLE")}
                   AS risky_share
        FROM classes
    """,
    "q_privacy_rr_count": _rr_oracle(),
    "q_privacy_l_diversity": f"""
        WITH classes AS (
            SELECT c_nationkey,
                   CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
                   count(*)::BIGINT AS s,
                   count(DISTINCT c_mktsegment)::BIGINT AS l
            FROM customer GROUP BY 1, 2
        )
        SELECT sum(s)::BIGINT AS n_rows,
               count(*)::BIGINT AS n_classes,
               min(l)::BIGINT AS min_l,
               sum(CASE WHEN l < {L_DIVERSITY_L} THEN 1 ELSE 0 END)::BIGINT
                   AS n_classes_low_l,
               sum(CASE WHEN l < {L_DIVERSITY_L} THEN s ELSE 0 END)::BIGINT
                   AS n_rows_low_l,
               {G6_SQL.format(
                   x=f"sum(CASE WHEN l < {L_DIVERSITY_L} THEN s ELSE 0 "
                   "END)::DOUBLE / sum(s)::DOUBLE"
               )} AS low_l_row_share
        FROM classes
    """,
    "q_privacy_generalization": f"""
        WITH withreg AS (
            SELECT c.*, n.n_regionkey
            FROM customer c JOIN nation n
              ON c.c_nationkey = n.n_nationkey
        ),
        fine AS (
            SELECT c_nationkey AS g, c_mktsegment,
                   CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
                   count(*)::BIGINT AS s
            FROM withreg GROUP BY 1, 2, 3
        ),
        coarse AS (
            SELECT n_regionkey AS g, c_mktsegment,
                   CAST(floor(c_acctbal / 5000) AS BIGINT) AS bal_band,
                   count(*)::BIGINT AS s
            FROM withreg GROUP BY 1, 2, 3
        ),
        levels AS (
            SELECT 'fine' AS level, sum(s)::BIGINT AS n_rows,
                   count(*)::BIGINT AS n_classes,
                   min(s)::BIGINT AS min_class_size,
                   sum(CASE WHEN s < {GEN_K} THEN s ELSE 0 END)::BIGINT
                       AS n_rows_risky
            FROM fine
            UNION ALL
            SELECT 'generalized', sum(s)::BIGINT, count(*)::BIGINT,
                   min(s)::BIGINT,
                   sum(CASE WHEN s < {GEN_K} THEN s ELSE 0 END)::BIGINT
            FROM coarse
        )
        SELECT level, n_rows, n_classes, min_class_size, n_rows_risky,
               {G6_SQL.format(
                   x="n_rows_risky::DOUBLE / n_rows::DOUBLE"
               )} AS risky_share
        FROM levels ORDER BY level
    """,
}
