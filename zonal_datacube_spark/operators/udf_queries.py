"""Custom-statistic query keys (SURVEY.md §2.12) — relational form.

Round 1 declared these through the Arrow→Python boundary (grouped-agg
pandas UDF / applyInPandas). Both statistics are relationally expressible,
so the *declared* keys now run JVM-side window pipelines: oracle-checkable
against DuckDB and ~5× faster (no Arrow transfer of every row). The pandas
kernels stay in ``zonal_datacube_spark/functions/udfs.py`` as the
documented extension surface — tests/test_functions.py asserts both
formulations agree on the fixture.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from zonal_datacube_spark.functions.exact import micro_mean, micro_units, wide
from zonal_datacube_spark.operators.zonal import ZONES_SQL_VALUES, assign_zones
from zonal_datacube_spark.sources.loader import load_table


def q_udaf_zonal_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-zone 10%-trimmed mean over the zonal assignment — the custom-
    statistic slot of the reference's per-tile analysis registry.

    Relational trim: rank within zone, drop the bottom/top ``n div 10``
    rows, average the core. One shuffle (window over zone_id) + one
    partial/final aggregate; semantics identical to the pandas kernel
    (``int(n*0.1) == n div 10`` for all n here). Equal values trim the
    same multiset whichever tie order row_number picks."""
    assigned = assign_zones(load_table(spark, sf_dir, "events")).select(
        "zone_id", "value"
    )
    w = Window.partitionBy("zone_id")
    ranked = assigned.select(
        "zone_id",
        "value",
        F.row_number().over(w.orderBy("value")).alias("rn"),
        F.count("*").over(w).alias("n"),
    )
    trimmed = ranked.filter(
        (F.col("rn") > F.expr("n div 10")) & (F.col("rn") <= F.col("n") - F.expr("n div 10"))
    )
    v6 = micro_units(F.col("value"))
    return (
        trimmed.withColumn("_v6", v6)
        .groupBy("zone_id")
        .agg(micro_mean(F.sum(wide(F.col("_v6"))), F.count("*")).alias("trimmed_mean"))
    )


def q_udf_grouped_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user z-scored event values, reduced to per-user extremes.

    Window mean/stddev per user (one shuffle), z-score as a JVM-side
    expression, then the same per-user reduction. sd == 0 or single-row
    groups z-score to 0.0, matching the applyInPandas kernel."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    w = Window.partitionBy("user_id")
    scored = ev.select(
        "user_id",
        F.when(
            F.stddev_samp("value").over(w) > 0,
            (F.col("value") - F.avg("value").over(w)) / F.stddev_samp("value").over(w),
        )
        .otherwise(F.lit(0.0))
        .alias("zscore"),
    )
    return scored.groupBy("user_id").agg(
        F.round(F.max("zscore"), 6).alias("max_z"),
        F.round(F.min("zscore"), 6).alias("min_z"),
        F.count("*").alias("n"),
    )


def q_udtf_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF through a LATERAL join, oracle-checked: the tokenizer
    table function (functions/udtf_demo.py) fans each document into
    (pos, token, is_stop) rows. UDTFs are row-at-a-time Python — the slow
    path by design (operators/text.py does this JVM-side); the declared
    key keeps the input to a deterministic 1-in-20 document slice so the
    surface is proven without putting Python on a hot path."""
    from zonal_datacube_spark.functions.udtf_demo import register

    register(spark)
    load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 20 == 0
    ).createOrReplaceTempView("zds_udtf_docs")
    return spark.sql(
        """
        SELECT d.doc_id, t.pos, t.token, t.is_stop
        FROM zds_udtf_docs d, LATERAL zds_tokenize(d.doc_id, d.text) t
        """
    )


def q_udf_arrow_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-OPTIMIZED Python scalar UDF (Spark 4 ``useArrow=True``):
    the vowel-density scorer runs as a pandas-Series-in/Series-out
    kernel over Arrow batches — the ~10-100× faster replacement for
    row-at-a-time pickled UDFs, and the form any custom Python scalar
    logic should ship in when no builtin expresses it. The declared key
    keeps the input to the same deterministic 1-in-20 document slice as
    the UDTF (Python off the hot path by design); integer counts make
    the oracle exact."""
    from pyspark.sql.functions import udf

    @udf("int", useArrow=True)
    def vowel_count(s: str) -> int:
        return sum(c in "aeiou" for c in s.lower()) if s else 0

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 20 == 0
    )
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        vowel_count("text").alias("n_vowels"),
    ).withColumn(
        "vowel_ratio",
        F.round(F.col("n_vowels") / F.col("n_chars"), 6),
    )


PARAM_MIN_PRICE = 150_000.0
PARAM_STATUS = "F"


def q_sql_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARAMETERIZED spark.sql (Spark 4): named ``:param`` markers bound
    server-side plus DataFrame interpolation via ``{df}`` — the
    injection-safe templating surface an application layer builds on
    (string-concatenated SQL is the classic injection + plan-cache-miss
    footgun). Constant folding sees the bound literals, so pushdown is
    identical to inlined SQL."""
    orders = load_table(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o_orderpriority,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS revenue
        FROM {orders}
        WHERE o_totalprice > :minp AND o_orderstatus = :status
        GROUP BY o_orderpriority
        """,
        args={"minp": PARAM_MIN_PRICE, "status": PARAM_STATUS},
        orders=orders,
    )


QUERIES = {
    "q_udtf_tokenize": q_udtf_tokenize,
    "q_udaf_zonal_trimmed_mean": q_udaf_zonal_trimmed_mean,
    "q_udf_grouped_zscore": q_udf_grouped_zscore,
    "q_udf_arrow_scalar": q_udf_arrow_scalar,
    "q_sql_parameterized": q_sql_parameterized,
}

ORACLE = {
    "q_udf_arrow_scalar": """
        SELECT doc_id,
               length(text) AS n_chars,
               (length(lower(text))
                - length(regexp_replace(lower(text), '[aeiou]', '', 'g')))
                   ::INT AS n_vowels,
               round((length(lower(text))
                      - length(regexp_replace(lower(text), '[aeiou]', '',
                                              'g')))
                     * 1.0 / length(text), 6) AS vowel_ratio
        FROM documents WHERE doc_id % 20 = 0
    """,
    "q_sql_parameterized": f"""
        SELECT o_orderpriority,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS revenue
        FROM orders
        WHERE o_totalprice > {PARAM_MIN_PRICE}
          AND o_orderstatus = '{PARAM_STATUS}'
        GROUP BY o_orderpriority
    """,
    "q_udtf_tokenize": """
        WITH toks AS (
            SELECT doc_id, string_split(lower(text), ' ') AS t
            FROM documents WHERE doc_id % 20 = 0
        )
        SELECT doc_id, (i - 1)::INT AS pos, t[i] AS token,
               t[i] IN ('the', 'a') AS is_stop
        FROM toks, unnest(range(1, len(t) + 1)) AS u(i)
    """,
    "q_udaf_zonal_trimmed_mean": f"""
        WITH zones(zone_id, lo, hi) AS (VALUES {ZONES_SQL_VALUES}),
        assigned AS (
            SELECT zone_id, value FROM events JOIN zones ON value >= lo AND value < hi
        ),
        ranked AS (
            SELECT zone_id, value,
                   row_number() OVER (PARTITION BY zone_id ORDER BY value) AS rn,
                   count(*) OVER (PARTITION BY zone_id) AS n
            FROM assigned
        )
        SELECT zone_id,
               round(CAST(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT))
                          AS DOUBLE) / count(*) / 1000000, 6)
                   AS trimmed_mean
        FROM ranked
        WHERE rn > n // 10 AND rn <= n - n // 10
        GROUP BY zone_id
        ORDER BY zone_id
    """,
    "q_udf_grouped_zscore": """
        WITH scored AS (
            SELECT user_id,
                   CASE WHEN stddev_samp(value) OVER (PARTITION BY user_id) > 0
                        THEN (value - avg(value) OVER (PARTITION BY user_id))
                             / stddev_samp(value) OVER (PARTITION BY user_id)
                        ELSE 0.0 END AS zscore
            FROM events
        )
        SELECT user_id,
               round(max(zscore), 6) AS max_z,
               round(min(zscore), 6) AS min_z,
               count(*) AS n
        FROM scored
        GROUP BY user_id
    """,
}
