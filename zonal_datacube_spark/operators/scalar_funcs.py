"""Scalar function battery — string / regexp / date / math / array / json /
map (SURVEY.md §2.7).

Everything stays JVM-side inside whole-stage codegen (built-in
``pyspark.sql.functions`` only — no Python UDFs on query paths). Integer
outputs are cast to BIGINT on the Spark side to match DuckDB's 64-bit
defaults (schema parity, SURVEY.md §5.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zonal_datacube_spark.functions.exact import micro_mean, micro_units, wide
from zonal_datacube_spark.sources.loader import load_table


def q_str_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.lower("p_name").alias("name_lower"),
        F.upper("p_brand").alias("brand_upper"),
        F.substring("p_type", 1, 5).alias("type_head"),
        F.trim(F.concat(F.lit("  "), F.col("p_brand"), F.lit("  "))).alias("brand_trim"),
        F.length("p_name").cast("bigint").alias("name_len"),
        F.lpad("p_brand", 12, "*").alias("brand_pad"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
    )


def q_str_regexp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp_extract (group capture) + regexp_replace + regexp filter."""
    part = load_table(spark, sf_dir, "part")
    return (
        part.filter(F.col("p_type").rlike("^(STANDARD|ECONOMY)"))
        .select(
            "p_partkey",
            F.regexp_extract("p_type", r"(\w+)$", 1).alias("type_last_word"),
            F.regexp_replace("p_name", r"[aeiou]", "").alias("name_novowels"),
        )
    )


def q_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").cast("bigint").alias("yr"),
        F.month("o_orderdate").cast("bigint").alias("mo"),
        F.dayofmonth("o_orderdate").cast("bigint").alias("dom"),
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias("month_start"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")
        ).cast("bigint").alias("days_since_95"),
        F.date_format(F.date_add(F.col("o_orderdate").cast("date"), 30), "yyyy-MM-dd").alias(
            "due_day"
        ),
    )


def q_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.round(F.abs(F.col("p_retailprice") - 1000.0), 2).alias("abs_diff"),
        F.ceil("p_retailprice").cast("bigint").alias("price_ceil"),
        F.floor("p_retailprice").cast("bigint").alias("price_floor"),
        F.round(F.pow(F.col("p_size").cast("double"), 2.0), 2).alias("size_sq"),
        F.round(F.log(F.col("p_retailprice")), 6).alias("price_ln"),
        (F.col("p_size") % 7).cast("bigint").alias("size_mod7"),
    )


def q_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """size / element_at / slice over the embedding array (scalars only in
    the output — array columns don't hash-compare portably)."""
    emb = load_table(spark, sf_dir, "embeddings")
    sl = F.slice("embedding", 1, 3)
    return emb.select(
        "vec_id",
        F.size("embedding").cast("bigint").alias("dim"),
        F.round(F.element_at("embedding", 1).cast("double"), 6).alias("e1"),
        F.round(F.element_at("embedding", 64).cast("double"), 6).alias("e64"),
        F.round(
            F.element_at(sl, 1).cast("double")
            + F.element_at(sl, 2).cast("double")
            + F.element_at(sl, 3).cast("double"),
            6,
        ).alias("head3_sum"),
    )


def q_array_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions: L2 norm via aggregate∘transform and a
    self dot product via zip_with — the JVM-side vectorized path used by the
    similarity operators. Elements are cast float→double *before* arithmetic
    on both engines (SURVEY.md §5.4)."""
    emb = load_table(spark, sf_dir, "embeddings")
    sq_sum = F.expr(
        "aggregate(transform(embedding, v -> cast(v AS double) * cast(v AS double)),"
        " 0D, (acc, x) -> acc + x)"
    )
    dot_self = F.expr(
        "aggregate(zip_with(embedding, embedding,"
        " (x, y) -> cast(x AS double) * cast(y AS double)), 0D, (acc, x) -> acc + x)"
    )
    return emb.select(
        "vec_id",
        F.round(F.sqrt(sq_sum), 6).alias("l2_norm"),
        F.round(dot_self, 6).alias("dot_self"),
    )


def q_json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction from events.props, aggregated by the value."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    v6 = micro_units(F.col("value"))
    return (
        ev.withColumn("k", k)
        .withColumn("_v6", v6)
        .groupBy("k")
        .agg(
            F.count("*").alias("n_events"),
            micro_mean(F.sum(wide(F.col("_v6"))), F.count("*")).alias("avg_value"),
        )
    )


def q_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """props parsed into a MapType and read via element_at — projected to
    scalars before returning (map columns never cross the result boundary,
    FIXTURES.md rule 4)."""
    ev = load_table(spark, sf_dir, "events")
    kv = F.element_at(F.from_json("props", "map<string,int>"), F.lit("k")).cast("bigint")
    return (
        ev.withColumn("kv", kv)
        .filter(F.col("kv").isNotNull())
        .groupBy("event_type")
        .agg(
            F.sum("kv").alias("sum_k"),
            F.max("kv").alias("max_k"),
            F.count("*").alias("n_rows"),
        )
    )


def q_json_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT for semi-structured data: parse_json → a binary
    variant column (no schema declared up front), typed variant_get
    extraction, then a relational aggregate. At 100 TB variant beats
    per-row string JSON parsing: the encoding is parsed once and fields
    are extracted positionally. The oracle extracts the same path with
    DuckDB's JSON operators — value-identical."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn("v", F.parse_json("props"))
        .withColumn("k", F.expr("variant_get(v, '$.k', 'bigint')"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.round(F.avg("k"), 6).alias("avg_k"),
            F.max("k").alias("max_k"),
        )
    )


def q_agg_approx_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via the approx_top_k frequency sketch (rows-only key:
    sketch output is implementation-defined under ties, same policy as the
    HLL and quantile-sketch keys). Exploded to one row per hitter.

    Since r13 each hitter carries its own referee (VERDICT r12
    next-round #8): the EXACT count of the reported item (one bounded
    groupBy on the enum type column, broadcast back), the absolute
    error, and ``in_bound`` at 0.5% of total rows — the frequency-sketch
    guarantee class (count error ≤ N/capacity; the default capacity far
    exceeds this domain, so the sketch is exact here and the bound is
    loose on purpose — it must hold at any SF, not just the fixture)."""
    ev = load_table(spark, sf_dir, "events")
    top = ev.agg(F.expr("approx_top_k(event_type, 3)").alias("tk"))
    hits = top.select(F.posexplode("tk").alias("rank", "hit")).select(
        "rank", F.col("hit.item").alias("item"), F.col("hit.count").alias("n")
    )
    exact = ev.groupBy(F.col("event_type").alias("item")).agg(
        F.count("*").alias("exact_n")
    )
    total = exact.agg(F.sum("exact_n").alias("n_total"))
    err = F.col("n") - F.col("exact_n")
    return (
        hits.join(F.broadcast(exact), "item", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "rank",
            "item",
            "n",
            "exact_n",
            err.alias("err"),
            (F.abs(err) <= 0.005 * F.col("n_total")).alias("in_bound"),
        )
    )


def q_str_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String COLLATION (Spark 4): case-insensitive comparison semantics
    as a COLUMN PROPERTY instead of lower()-wrapping every predicate —
    the i18n-correct way to do CI grouping/joins (UTF8_LCASE here; ICU
    locales in general, where lower() round-trips break for Turkish
    dotted-I etc.). Part names land in deliberately mixed case; the
    CI-collated distinct count collapses the case variants the binary
    count keeps apart. The oracle expresses the same semantics with
    lower(), exact for this ASCII domain."""
    part = load_table(spark, sf_dir, "part")
    mixed = F.when(
        F.col("p_partkey") % 2 == 0, F.upper("p_name")
    ).otherwise(F.lower("p_name"))
    return part.select("p_brand", mixed.alias("name_mixed")).groupBy(
        "p_brand"
    ).agg(
        F.count("*").alias("n_parts"),
        F.countDistinct("name_mixed").alias("n_distinct_binary"),
        F.countDistinct(
            F.expr("collate(name_mixed, 'UTF8_LCASE')")
        ).alias("n_distinct_ci"),
    )


def q_sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL (Spark 4 / modern-SQL shorthand): every non-aggregate
    select item becomes a grouping key — removes the classic
    stale-GROUP-BY-list bug when a report adds a dimension. The oracle
    spells out the explicit grouping list; identical plans, identical
    results."""
    orders = load_table(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT year(o_orderdate) AS yr,
               o_orderstatus,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS revenue
        FROM {orders}
        GROUP BY ALL
        """,
        orders=orders,
    )


def q_str_split_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """split_part / reverse / repeat string surface."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.split_part("p_type", F.lit(" "), F.lit(2)).alias("type_mid"),
        F.reverse("p_brand").alias("brand_rev"),
        F.repeat(F.lit("*"), F.col("p_size") % 5).alias("stars"),
    )


def q_explode_ordinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode with ordinality: token position survives the explode —
    required by any positional text pipeline (n-grams, windows over
    tokens). The oracle enumerates positions with unnest(range())."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("lang") == "de")
    return docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower("text"), " ")).alias("pos", "token"),
    )


def q_str_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance fuzzy matching: levenshtein of each part's type
    against a target string, plus a normalized similarity ratio — the
    cheap tier of fuzzy entity resolution (blocking + edit distance)."""
    part = load_table(spark, sf_dir, "part")
    target = F.lit("PROMO BURNISHED COPPER")
    dist = F.levenshtein("p_type", target)
    maxlen = F.greatest(F.length("p_type"), F.length(target))
    return part.select(
        "p_partkey",
        "p_type",
        dist.alias("edit_dist"),
        F.round(1 - dist / maxlen, 6).alias("similarity"),
    ).filter(F.col("edit_dist") <= 18)


QUERIES = {
    "q_str_collation": q_str_collation,
    "q_sql_group_by_all": q_sql_group_by_all,
    "q_str_funcs": q_str_funcs,
    "q_str_regexp": q_str_regexp,
    "q_date_funcs": q_date_funcs,
    "q_math_funcs": q_math_funcs,
    "q_array_funcs": q_array_funcs,
    "q_array_hof": q_array_hof,
    "q_json_funcs": q_json_funcs,
    "q_json_variant": q_json_variant,
    "q_agg_approx_topk": q_agg_approx_topk,
    "q_map_funcs": q_map_funcs,
    "q_str_split_part": q_str_split_part,
    "q_explode_ordinality": q_explode_ordinality,
    "q_str_fuzzy": q_str_fuzzy,
}

ORACLE = {
    "q_str_collation": """
        WITH mixed AS (
            SELECT p_brand,
                   CASE WHEN p_partkey % 2 = 0 THEN upper(p_name)
                        ELSE lower(p_name) END AS name_mixed
            FROM part
        )
        SELECT p_brand,
               count(*) AS n_parts,
               count(DISTINCT name_mixed) AS n_distinct_binary,
               count(DISTINCT lower(name_mixed)) AS n_distinct_ci
        FROM mixed GROUP BY p_brand
    """,
    "q_sql_group_by_all": """
        SELECT year(o_orderdate) AS yr,
               o_orderstatus,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS revenue
        FROM orders GROUP BY 1, 2
    """,
    "q_str_funcs": """
        SELECT p_partkey,
               lower(p_name) AS name_lower,
               upper(p_brand) AS brand_upper,
               substr(p_type, 1, 5) AS type_head,
               trim('  ' || p_brand || '  ') AS brand_trim,
               length(p_name) AS name_len,
               lpad(p_brand, 12, '*') AS brand_pad,
               p_brand || '|' || p_type AS brand_type
        FROM part
    """,
    "q_str_regexp": """
        SELECT p_partkey,
               regexp_extract(p_type, '(\\w+)$', 1) AS type_last_word,
               regexp_replace(p_name, '[aeiou]', '', 'g') AS name_novowels
        FROM part
        WHERE regexp_matches(p_type, '^(STANDARD|ECONOMY)')
    """,
    "q_date_funcs": """
        SELECT o_orderkey,
               year(o_orderdate) AS yr,
               month(o_orderdate) AS mo,
               day(o_orderdate) AS dom,
               strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
               date_diff('day', DATE '1995-01-01', o_orderdate::DATE) AS days_since_95,
               strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS due_day
        FROM orders
    """,
    "q_math_funcs": """
        SELECT p_partkey,
               round(abs(p_retailprice - 1000.0), 2) AS abs_diff,
               ceil(p_retailprice)::BIGINT AS price_ceil,
               floor(p_retailprice)::BIGINT AS price_floor,
               round(pow(p_size::DOUBLE, 2.0), 2) AS size_sq,
               round(ln(p_retailprice), 6) AS price_ln,
               (p_size % 7)::BIGINT AS size_mod7
        FROM part
    """,
    "q_array_funcs": """
        SELECT vec_id,
               len(embedding) AS dim,
               round(embedding[1]::DOUBLE, 6) AS e1,
               round(embedding[64]::DOUBLE, 6) AS e64,
               round(embedding[1]::DOUBLE + embedding[2]::DOUBLE + embedding[3]::DOUBLE, 6)
                   AS head3_sum
        FROM embeddings
    """,
    "q_array_hof": """
        SELECT vec_id,
               round(sqrt(list_sum(list_transform(embedding::DOUBLE[], v -> v * v))), 6)
                   AS l2_norm,
               round(list_sum(list_transform(embedding::DOUBLE[], v -> v * v)), 6)
                   AS dot_self
        FROM embeddings
    """,
    "q_json_variant": """
        SELECT event_type,
               count(*) AS n_events,
               sum(json_extract(props, '$.k')::BIGINT)::BIGINT AS sum_k,
               round(avg(json_extract(props, '$.k')::BIGINT), 6) AS avg_k,
               max(json_extract(props, '$.k')::BIGINT) AS max_k
        FROM events GROUP BY 1
    """,
    "q_json_funcs": """
        SELECT json_extract(props, '$.k')::BIGINT AS k,
               count(*) AS n_events,
               round(CAST(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT))
                          AS DOUBLE) / count(*) / 1000000, 6) AS avg_value
        FROM events
        GROUP BY k
    """,
    "q_map_funcs": """
        SELECT event_type,
               sum(json_extract(props, '$.k')::BIGINT)::BIGINT AS sum_k,
               max(json_extract(props, '$.k')::BIGINT) AS max_k,
               count(*) AS n_rows
        FROM events
        WHERE json_extract(props, '$.k') IS NOT NULL
        GROUP BY event_type
    """,
    "q_str_split_part": """
        SELECT p_partkey,
               split_part(p_type, ' ', 2) AS type_mid,
               reverse(p_brand) AS brand_rev,
               repeat('*', p_size % 5) AS stars
        FROM part
    """,
    "q_explode_ordinality": """
        WITH toks AS (
            SELECT doc_id, string_split(lower(text), ' ') AS t
            FROM documents WHERE lang = 'de'
        )
        SELECT doc_id, i - 1 AS pos, t[i] AS token
        FROM toks, unnest(range(1, len(t) + 1)) AS u(i)
    """,
    "q_str_fuzzy": """
        SELECT p_partkey, p_type,
               levenshtein(p_type, 'PROMO BURNISHED COPPER') AS edit_dist,
               round(1 - levenshtein(p_type, 'PROMO BURNISHED COPPER')
                     * 1.0 / greatest(length(p_type),
                                      length('PROMO BURNISHED COPPER')),
                     6) AS similarity
        FROM part
        WHERE levenshtein(p_type, 'PROMO BURNISHED COPPER') <= 18
    """,
}
