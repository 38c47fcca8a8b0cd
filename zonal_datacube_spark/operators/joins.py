"""Join taxonomy (SURVEY.md §2.3).

Reference analogue: the raster⋈vector join — fishnet tiles range-joined to
zone bboxes, then a broadcast join of small zones against huge pixel sets
(the Raptor decomposition, PAPERS.md:9). The star schema exercises the full
relational taxonomy around that core.

Scale notes (100 TB):
- large⋈large equi joins shuffle on the key → AQE handles skew splitting;
- every dimension side here is explicitly ``broadcast()``-hinted so the fact
  table never shuffles for them;
- non-equi joins (range/interval) plan as BroadcastNestedLoopJoin, correct
  while the broadcast side is small; the §4.3 bucketing rewrite
  (``functions/range_bucket.py``) converts them to equi joins at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from zonal_datacube_spark.functions.exact import half_up, revenue, wide
from zonal_datacube_spark.functions.local_rel import local_relation
from zonal_datacube_spark.operators.zonal import (
    ZONES_SQL_VALUES,
    assign_zones,
    zones_df,
)
from zonal_datacube_spark.sources.loader import load_table

TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"
TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S.%f"


def q_join_inner_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large⋈large equi inner join: orders⋈lineitem → shuffled sort-merge/
    hash join on the key, AQE picks the physical strategy at runtime."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return orders.join(li, orders.o_orderkey == li.l_orderkey).select(
        "o_orderkey",
        "o_orderstatus",
        "l_linenumber",
        # round to 4 (the product's true decimal precision): rounding a
        # 4-decimal quantity to 2 hits exact half-cent ties where Spark
        # (HALF_UP) and DuckDB disagree — SURVEY.md §5.4
        F.round(revenue(), 4).alias("net_price"),
    )


def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈dims with explicit broadcast hints: supplier→nation→region chain
    ships to every executor; lineitem never shuffles (the reference's
    ship-zones-to-workers pattern)."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = F.broadcast(load_table(spark, sf_dir, "supplier"))
    nat = F.broadcast(load_table(spark, sf_dir, "nation"))
    reg = F.broadcast(load_table(spark, sf_dir, "region"))
    return (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(nat, supp.s_nationkey == nat.n_nationkey)
        .join(reg, nat.n_regionkey == reg.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_lines"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
    )


def q_join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: region→nation→customer→orders→lineitem, revenue per
    nation for ASIA orders in 1996-1998. Catalyst/AQE reorders the chain."""
    reg = F.broadcast(
        load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    )
    nat = F.broadcast(load_table(spark, sf_dir, "nation"))
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        reg.join(nat, reg.r_regionkey == nat.n_regionkey)
        .join(cust, nat.n_nationkey == cust.c_nationkey)
        .join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(revenue()), 4).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


def q_join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with/without orders: left outer keeps zero-order customers
    with n_orders=0 (count over the null-extended side)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("sum_spend"),
        )
    )


def q_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer of two per-nation aggregates (customers vs suppliers) —
    nations present on only one side survive with a NULL count."""
    cust_per_nation = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("ck"))
        .agg(F.count("*").alias("n_customers"))
    )
    supp_per_nation = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("sk"))
        .agg(F.count("*").alias("n_suppliers"))
    )
    joined = cust_per_nation.join(
        supp_per_nation, cust_per_nation.ck == supp_per_nation.sk, "full"
    )
    return joined.select(
        F.coalesce("ck", "sk").alias("nationkey"),
        "n_customers",
        "n_suppliers",
    )


def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left semi (EXISTS): customers having at least one big order."""
    cust = load_table(spark, sf_dir, "customer")
    big = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 150000)
    return cust.join(
        big, cust.c_custkey == big.o_custkey, "left_semi"
    ).select("c_custkey", "c_name", "c_mktsegment")


def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left anti (NOT EXISTS): customers with no orders at all."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name", "c_mktsegment")


def q_join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi range join (the fishnet/zonal assignment): each purchase
    event assigned to its value band. BroadcastNestedLoopJoin with the tiny
    zone side broadcast; see §4.3 bucketing rewrite for the 100 TB path."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    return assign_zones(ev).select(
        "event_id", "zone_id", F.round("value", 2).alias("value_r")
    )


def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each non-signup event matched to the latest prior-or-equal
    signup of the same user.

    Spark has no native ASOF JOIN; the scalable emulation is a single-pass
    window: order each user's events by (ts, signup-first) and carry the last
    seen signup ts forward with ``last(ignoreNulls)``. One shuffle on
    user_id, no self-join — at 100 TB this beats the O(n·m) conditional-join
    emulation outright.
    """
    ev = load_table(spark, sf_dir, "events")
    is_signup = (F.col("event_type") == "signup").cast("int")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), is_signup.desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = ev.withColumn(
        "signup_ts",
        F.last(F.when(F.col("event_type") == "signup", F.col("ts")), ignorenulls=True).over(w),
    )
    return (
        carried.filter((F.col("event_type") != "signup") & F.col("signup_ts").isNotNull())
        .select(
            "event_id",
            "user_id",
            F.date_format("ts", TS_FMT).alias("event_ts"),
            F.date_format("signup_ts", TS_FMT).alias("signup_ts"),
        )
    )


def q_join_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join: events within inline [lo, hi) maintenance
    windows (possibly overlapping → an event can match several)."""
    intervals = [
        (0, "2024-01-01 00:00:00", "2024-01-08 00:00:00"),
        (1, "2024-01-05 00:00:00", "2024-01-12 00:00:00"),
        (2, "2024-01-10 00:00:00", "2024-01-20 00:00:00"),
        (3, "2024-01-15 00:00:00", "2024-01-25 00:00:00"),
        (4, "2024-01-20 00:00:00", "2024-02-01 00:00:00"),
        (5, "2024-01-03 00:00:00", "2024-01-04 12:00:00"),
    ]
    iv = F.broadcast(
        local_relation(spark, intervals, "interval_id INT, lo STRING, hi STRING")
        .withColumn("lo", F.col("lo").cast("timestamp_ntz"))
        .withColumn("hi", F.col("hi").cast("timestamp_ntz"))
    )
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.join(iv, (ev.ts >= iv.lo) & (ev.ts < iv.hi))
        .groupBy("interval_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


_INTERVALS_SQL = """
    (VALUES (0, TIMESTAMP '2024-01-01 00:00:00', TIMESTAMP '2024-01-08 00:00:00'),
            (1, TIMESTAMP '2024-01-05 00:00:00', TIMESTAMP '2024-01-12 00:00:00'),
            (2, TIMESTAMP '2024-01-10 00:00:00', TIMESTAMP '2024-01-20 00:00:00'),
            (3, TIMESTAMP '2024-01-15 00:00:00', TIMESTAMP '2024-01-25 00:00:00'),
            (4, TIMESTAMP '2024-01-20 00:00:00', TIMESTAMP '2024-02-01 00:00:00'),
            (5, TIMESTAMP '2024-01-03 00:00:00', TIMESTAMP '2024-01-04 12:00:00'))
"""

def q_join_range_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_join_theta_range's semantics through the bucketed equi-join
    rewrite (functions/range_bucket.py): intervals explode into the integer
    buckets they overlap, the fact side joins on floor(value/width) — a
    plain hash join — and the exact range predicate runs as a residual
    filter. Identical rows to the NLJ formulation (same oracle); this is
    the 100 TB path when the interval side outgrows a broadcast."""
    from zonal_datacube_spark.functions.range_bucket import bucketed_range_join

    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    joined = bucketed_range_join(ev, zones_df(spark), value_col="value", width=25.0)
    return joined.select("event_id", "zone_id", F.round("value", 2).alias("value_r"))


NULLSAFE_DIM = (
    ("2-HIGH", "high"),
    ("3-MEDIUM", "medium"),
    ("4-NOT SPECIFIED", "unspecified"),
    ("5-LOW", "low"),
    (None, "urgent-or-missing"),
)


def q_join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    MATCH each other instead of silently dropping — the semantics CDC and
    sentinel-key pipelines need. Urgent orders are nulled into the
    sentinel and still land in the 'urgent-or-missing' dim row; a plain
    equi-join would lose a fifth of the table here (and whole key ranges
    at 100 TB)."""
    counts = (
        load_table(spark, sf_dir, "orders")
        .select(F.nullif("o_orderpriority", F.lit("1-URGENT")).alias("pk"))
        .groupBy("pk")
        .agg(F.count("*").alias("n_orders"))
    )
    dim = local_relation(spark, list(NULLSAFE_DIM), "dk string, label string")
    return (
        counts.join(F.broadcast(dim), counts.pk.eqNullSafe(dim.dk))
        .select("label", "n_orders")
    )


def q_cache_inmemory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The in-memory columnar cache tier: a projected lineitem slice is
    `.cache()`d and aggregated — the scan becomes InMemoryTableScan
    (plan-locked) with per-batch stats pruning. At 100 TB this tier holds
    hot dimensions and iteration working sets (the k-means/PageRank
    pattern), never whole fact tables; results are identical by contract,
    which is exactly what the oracle hash checks."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_linestatus", "l_quantity")
        .cache()
    )
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_items"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


BLOOM_REGION = "ASIA"
BLOOM_M_BITS = 1 << 14
BLOOM_K = 3


def q_join_bloom_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered semi-join: revenue per nation for lineitems
    supplied from one region. The supplier-key set is folded into a
    2 KB broadcast Bloom bitset (functions/bloom.py); the fact scan
    tests membership MAP-SIDE (whole-stage-codegen bit probes — no
    join, no Python) and only surviving candidates enter the exact
    join that removes false positives. At 100 TB this is the pattern
    for semi-joins whose build side outgrows broadcast: the bitset
    always fits, and the probe-side shuffle carries candidates, not
    the whole fact table. Exactness is restored by the trailing exact
    join — Bloom filters have no false negatives, so no qualifying row
    is ever dropped."""
    from zonal_datacube_spark.functions.bloom import build_bloom, might_contain

    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == BLOOM_REGION)
        .select("s_suppkey", "n_name")
    )
    words = build_bloom(supp, "s_suppkey", BLOOM_M_BITS, BLOOM_K)
    li = load_table(spark, sf_dir, "lineitem").filter(
        might_contain(F.col("l_suppkey"), words, BLOOM_M_BITS, BLOOM_K)
    )
    return (
        li.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum(revenue()), 2).alias("revenue"),
        )
    )


LATERAL_TOPN = 2


def q_join_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL join: per nation, the top-2 customers by
    account balance, written as the SQL-standard LATERAL subquery
    (ORDER BY … LIMIT inside the correlated derived table). Catalyst
    decorrelates it into the same ranked-window plan as
    q_window_topk_per_group — the point of the key is the OPERATOR
    SURFACE: a user migrating LATERAL-heavy SQL (Postgres/DuckDB
    idiom) runs it verbatim. Deterministic via the c_custkey
    tie-break."""
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("zds_nation")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "zds_customer"
    )
    return spark.sql(
        f"""
        SELECT n_name, c.c_name, c.c_acctbal
        FROM zds_nation JOIN LATERAL (
            SELECT c_name, c_acctbal FROM zds_customer
            WHERE c_nationkey = n_nationkey
            ORDER BY c_acctbal DESC, c_custkey LIMIT {LATERAL_TOPN}
        ) c
        """
    )


def q_join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cross join of two small dims (the only sane cardinality for
    a cross product — anything larger is a plan bug, see §4.3)."""
    reg = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return reg.crossJoin(nat).select(
        "r_regionkey",
        "n_nationkey",
        F.concat_ws("/", "r_name", "n_name").alias("pair_name"),
    )


def q_join_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS subquery — Catalyst rewrites it into a left-semi
    join (same physical plan as q_join_semi; the surface is the point)."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("zds_cust_ex")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("zds_orders_ex")
    return spark.sql(
        """
        SELECT c_custkey, c_name
        FROM zds_cust_ex c
        WHERE EXISTS (
            SELECT 1 FROM zds_orders_ex o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_orderpriority = '1-URGENT'
        )
        """
    )


def q_join_nearest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-event alignment: each purchase pairs with the temporally
    closest non-purchase event of the same user, BEFORE or AFTER (ties
    go to the earlier side) — the bidirectional generalization of the
    as-of join that attribution and root-cause tooling ask for. One
    user-keyed window pass computes both candidates (carry-forward and
    carry-backward IGNORE NULLS), plain arithmetic picks the nearer;
    never a per-purchase range join."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "eps",
        F.expr(
            "timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        ),
    )
    touch = F.when(
        F.col("event_type") != "purchase",
        F.struct(F.col("eps").alias("t"), F.col("event_type").alias("ty")),
    )
    fwd = (
        Window.partitionBy("user_id")
        .orderBy("eps", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bwd = (
        Window.partitionBy("user_id")
        .orderBy("eps", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    paired = ev.select(
        "user_id",
        "event_type",
        "eps",
        F.last(touch, ignorenulls=True).over(fwd).alias("prev_t"),
        F.first(touch, ignorenulls=True).over(bwd).alias("next_t"),
    ).filter(F.col("event_type") == "purchase")
    d_prev = F.col("eps") - F.col("prev_t.t")
    d_next = F.col("next_t.t") - F.col("eps")
    pick_prev = F.col("next_t").isNull() | (
        F.col("prev_t").isNotNull() & (d_prev <= d_next)
    )
    chosen = paired.filter(
        F.col("prev_t").isNotNull() | F.col("next_t").isNotNull()
    ).select(
        F.when(pick_prev, F.col("prev_t.ty"))
        .otherwise(F.col("next_t.ty"))
        .alias("nearest_type"),
        F.when(pick_prev, d_prev).otherwise(d_next).alias("dist_s"),
        F.when(pick_prev, F.lit("before"))
        .otherwise(F.lit("after"))
        .alias("side"),
    )
    return chosen.groupBy("nearest_type", "side").agg(
        F.count("*").alias("n_purchases"),
        F.round(F.avg("dist_s"), 2).alias("avg_dist_s"),
        F.max("dist_s").alias("max_dist_s"),
    )


# --------------------------------------------------------------------------
# as-of join with tolerance
# --------------------------------------------------------------------------

ASOF_TOLERANCE_US = 48 * 3600 * 1_000_000  # 48 h


def q_join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a 48 h match tolerance (pandas
    merge_asof(tolerance=...) / kdb wj semantics): each non-signup
    event matches the latest prior-or-equal signup of its user ONLY if
    that signup is at most 48 h old — stale anchors are not matches.
    Same scalable shape as q_join_asof (joins.py:160): one window
    carry over the user_id shuffle, zero self-joins; the tolerance is
    one integer-microsecond filter on top. Output: matched events with
    their exact lag in microseconds."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP '1970-01-01 00:00:00', ts)"
        ).alias("us"),
    )
    is_signup = (F.col("event_type") == "signup").cast("int")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("us").asc(), is_signup.desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = ev.withColumn(
        "signup_us",
        F.last(
            F.when(F.col("event_type") == "signup", F.col("us")),
            ignorenulls=True,
        ).over(w),
    )
    return carried.filter(
        (F.col("event_type") != "signup")
        & F.col("signup_us").isNotNull()
        & (F.col("us") - F.col("signup_us") <= ASOF_TOLERANCE_US)
    ).select(
        "event_id",
        "user_id",
        (F.col("us") - F.col("signup_us")).alias("lag_us"),
    )


# ---------------------------------------------------------------------------
# engineered-skew join (the AQE skew-split shape)
# ---------------------------------------------------------------------------

SKEW_HOT_KEY = 1  # every l_linenumber >= 4 row collapses onto this orderkey


def _rev_e4() -> F.Column:
    # revenue on the 1e4 integer grid: floor(x + 0.5) of one identical
    # IEEE chain (mul, mul, add) per row in both engines; Spark floor on
    # DOUBLE is already BIGINT
    return half_up(revenue(), 10000)


def q_join_skew_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈fact join on an engineered hot key — the skew-split stress
    shape. ~57% of lineitem rows (every l_linenumber ≥ 4) remap their
    join key to one hot orderkey, so the shuffle partition holding that
    key carries the majority of the fact table: the exact pathology
    ``spark.sql.adaptive.skewJoin`` exists to split (one oversized
    partition → N sub-partitions, the matching build rows replicated).

    The query itself is declarative and conf-free — the point is the
    DATA shape, not a hint: at fixture scale AQE broadcasts the
    dim-sized orders side (skew in a broadcast join is harmless — no
    partition boundary exists to overload); at 100 TB orders is
    fact-sized, the join sort-merges, and the skewed partition splits.
    tests/test_analytics_r10.py proves the split fires (executed plan
    ``skew=true``) by lowering the skew thresholds to fixture-reachable
    bytes with the broadcast path disabled, and that the split run's
    result is row-identical to the default run — AQE only re-plans
    the exchange, never the answer. Revenue folds on the 1e4 integer
    grid into an exact DECIMAL(38,0) sum emitted as its decimal string
    (the hot group's int64 sum would overflow near 2.6e10 rows/group;
    a double sum would round above 2^53 — see _skew_join_fold)."""
    li = _skewed_fact(load_table(spark, sf_dir, "lineitem"))
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    return _skew_join_fold(li, orders)


def _skewed_fact(lineitem: DataFrame) -> DataFrame:
    """(jk, rev_e4) projection with the engineered hot key."""
    return lineitem.select(
        F.when(F.col("l_linenumber") >= 4, F.lit(SKEW_HOT_KEY))
        .otherwise(F.col("l_orderkey"))
        .alias("jk"),
        _rev_e4().alias("rev_e4"),
    )


def _skew_join_fold(li: DataFrame, orders: DataFrame) -> DataFrame:
    """The join + fold, split out so the test can feed a MULTI-MAPPER
    fact side: AQE splits a skewed reducer partition by regrouping MAP
    outputs (PartialReducerPartitionSpec), so the split's granularity
    is one mapper — a single-file/single-row-group fixture scan yields
    ONE mapper and an unsplittable hot partition no matter the
    thresholds. At 100 TB the fact side arrives from thousands of
    mappers and the same plan splits freely; the test reproduces that
    precondition with a repartition on the fixture."""
    return (
        li.join(orders, li.jk == orders.o_orderkey)
        .groupBy(
            (F.col("jk") == SKEW_HOT_KEY).alias("is_hot"), "o_orderpriority"
        )
        .agg(
            F.count("*").alias("n_items"),
            # DECIMAL(38,0) accumulation, not BIGINT: the hot group holds
            # ~57% of the corpus, and at ~3.6e8 mean rev_e4 an int64 sum
            # overflows near 2.6e10 rows per group (~4 TB of lineitem) —
            # far below the 100 TB regime this key stress-tests. The
            # decimal fold is exact to 1e38; emitted as its exact decimal
            # string (the q_agg_decimal_exact convention — a cast back to
            # BIGINT would re-introduce the overflow, a double would
            # round above 2^53). DuckDB accumulates HUGEINT and renders
            # the same digits.
            F.sum(wide(F.col("rev_e4")))
            .cast("string")
            .alias("revenue_e4"),
        )
    )


QUERIES = {
    "q_join_null_safe": q_join_null_safe,
    "q_join_bloom_semi": q_join_bloom_semi,
    "q_join_lateral_topn": q_join_lateral_topn,
    "q_cache_inmemory": q_cache_inmemory,
    "q_join_inner_hash": q_join_inner_hash,
    "q_join_broadcast": q_join_broadcast,
    "q_join_multiway": q_join_multiway,
    "q_join_left_outer": q_join_left_outer,
    "q_join_full_outer": q_join_full_outer,
    "q_join_semi": q_join_semi,
    "q_join_anti": q_join_anti,
    "q_join_theta_range": q_join_theta_range,
    "q_join_asof": q_join_asof,
    "q_join_interval": q_join_interval,
    "q_join_range_bucketed": q_join_range_bucketed,
    "q_join_cross": q_join_cross,
    "q_join_exists": q_join_exists,
    "q_join_nearest_event": q_join_nearest_event,
    "q_join_asof_tolerance": q_join_asof_tolerance,
    "q_join_skew_split": q_join_skew_split,
}

_NULLSAFE_VALUES = ", ".join(
    f"({'NULL' if k is None else repr(k)}, '{v}')" for k, v in NULLSAFE_DIM
)

ORACLE = {
    "q_join_lateral_topn": f"""
        SELECT n_name, c.c_name, c.c_acctbal
        FROM nation, LATERAL (
            SELECT c_name, c_acctbal FROM customer
            WHERE c_nationkey = n_nationkey
            ORDER BY c_acctbal DESC, c_custkey LIMIT {LATERAL_TOPN}
        ) c
    """,
    "q_join_bloom_semi": f"""
        SELECT n_name,
               count(*) AS n_items,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = '{BLOOM_REGION}'
        GROUP BY n_name
    """,
    "q_join_null_safe": f"""
        WITH counts AS (
            SELECT nullif(o_orderpriority, '1-URGENT') AS pk,
                   count(*)::BIGINT AS n_orders
            FROM orders GROUP BY 1
        ),
        dim(dk, label) AS (VALUES {_NULLSAFE_VALUES})
        SELECT d.label, c.n_orders
        FROM counts c JOIN dim d ON c.pk IS NOT DISTINCT FROM d.dk
    """,
    "q_cache_inmemory": """
        SELECT l_returnflag, l_linestatus,
               count(*)::BIGINT AS n_items,
               round(sum(l_quantity), 2) AS sum_qty
        FROM lineitem
        GROUP BY 1, 2
    """,
    "q_join_inner_hash": """
        SELECT o_orderkey, o_orderstatus, l_linenumber,
               round(l_extendedprice * (1 - l_discount), 4) AS net_price
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    """,
    "q_join_broadcast": """
        SELECT r_name, count(*) AS n_lines, round(sum(l_extendedprice), 2) AS sum_price
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name
    """,
    "q_join_multiway": """
        SELECT n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
               count(*) AS n_lines
        FROM region
        JOIN nation ON r_regionkey = n_regionkey
        JOIN customer ON n_nationkey = c_nationkey
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY n_name
    """,
    "q_join_left_outer": """
        SELECT c_custkey, c_name,
               count(o_orderkey) AS n_orders,
               round(coalesce(sum(o_totalprice), 0.0), 2) AS sum_spend
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey, c_name
    """,
    "q_join_full_outer": """
        WITH c AS (SELECT c_nationkey AS ck, count(*) AS n_customers
                   FROM customer GROUP BY c_nationkey),
             s AS (SELECT s_nationkey AS sk, count(*) AS n_suppliers
                   FROM supplier GROUP BY s_nationkey)
        SELECT coalesce(ck, sk) AS nationkey, n_customers, n_suppliers
        FROM c FULL JOIN s ON ck = sk
    """,
    "q_join_semi": """
        SELECT c_custkey, c_name, c_mktsegment
        FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > 150000)
    """,
    "q_join_anti": """
        SELECT c_custkey, c_name, c_mktsegment
        FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    "q_join_theta_range": f"""
        WITH zones(zone_id, lo, hi) AS (VALUES {ZONES_SQL_VALUES})
        SELECT event_id, zone_id, round(value, 2) AS value_r
        FROM events JOIN zones ON value >= lo AND value < hi
        WHERE event_type = 'purchase'
    """,
    "q_join_range_bucketed": f"""
        WITH zones(zone_id, lo, hi) AS (VALUES {ZONES_SQL_VALUES})
        SELECT event_id, zone_id, round(value, 2) AS value_r
        FROM events JOIN zones ON value >= lo AND value < hi
        WHERE event_type = 'purchase'
    """,
    "q_join_asof": f"""
        SELECT e.event_id, e.user_id,
               strftime(e.ts, '{TS_FMT_DUCK}') AS event_ts,
               strftime(s.ts, '{TS_FMT_DUCK}') AS signup_ts
        FROM (SELECT * FROM events WHERE event_type <> 'signup') e
        ASOF JOIN (SELECT user_id, ts FROM events WHERE event_type = 'signup') s
        ON e.user_id = s.user_id AND e.ts >= s.ts
    """,
    "q_join_interval": f"""
        WITH iv(interval_id, lo, hi) AS {_INTERVALS_SQL}
        SELECT interval_id, count(*) AS n_events, round(sum(value), 2) AS sum_value
        FROM events JOIN iv ON ts >= lo AND ts < hi
        GROUP BY interval_id
    """,
    "q_join_cross": """
        SELECT r_regionkey, n_nationkey, r_name || '/' || n_name AS pair_name
        FROM region CROSS JOIN nation
    """,
    "q_join_exists": """
        SELECT c_custkey, c_name
        FROM customer c
        WHERE EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_orderpriority = '1-URGENT'
        )
    """,
    "q_join_nearest_event": """
        WITH base AS (
            SELECT user_id, event_id, event_type,
                   date_diff('second', TIMESTAMP '1970-01-01 00:00:00', ts)
                       AS eps
            FROM events
        ),
        paired AS (
            SELECT user_id, event_type, eps,
                   last_value(CASE WHEN event_type <> 'purchase'
                                   THEN struct_pack(t := eps,
                                                    ty := event_type)
                              END IGNORE NULLS)
                       OVER (PARTITION BY user_id ORDER BY eps, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING) AS prev_t,
                   first_value(CASE WHEN event_type <> 'purchase'
                                    THEN struct_pack(t := eps,
                                                     ty := event_type)
                               END IGNORE NULLS)
                       OVER (PARTITION BY user_id ORDER BY eps, event_id
                             ROWS BETWEEN 1 FOLLOWING
                                   AND UNBOUNDED FOLLOWING) AS next_t
            FROM base
        ),
        chosen AS (
            SELECT CASE WHEN next_t IS NULL
                          OR (prev_t IS NOT NULL
                              AND eps - prev_t.t <= next_t.t - eps)
                        THEN prev_t.ty ELSE next_t.ty END AS nearest_type,
                   CASE WHEN next_t IS NULL
                          OR (prev_t IS NOT NULL
                              AND eps - prev_t.t <= next_t.t - eps)
                        THEN eps - prev_t.t ELSE next_t.t - eps
                   END AS dist_s,
                   CASE WHEN next_t IS NULL
                          OR (prev_t IS NOT NULL
                              AND eps - prev_t.t <= next_t.t - eps)
                        THEN 'before' ELSE 'after' END AS side
            FROM paired
            WHERE event_type = 'purchase'
              AND (prev_t IS NOT NULL OR next_t IS NOT NULL)
        )
        SELECT nearest_type, side,
               count(*) AS n_purchases,
               round(avg(dist_s), 2) AS avg_dist_s,
               max(dist_s) AS max_dist_s
        FROM chosen GROUP BY 1, 2
    """,
    "q_join_asof_tolerance": f"""
        WITH e AS (
            SELECT event_id, user_id, event_type,
                   date_diff('microsecond', TIMESTAMP '1970-01-01',
                             ts)::BIGINT AS us
            FROM events
        ),
        carried AS (
            SELECT event_id, user_id, event_type, us,
                   last_value(
                       CASE WHEN event_type = 'signup' THEN us END
                       IGNORE NULLS
                   ) OVER (
                       PARTITION BY user_id
                       ORDER BY us ASC,
                                CASE WHEN event_type = 'signup'
                                     THEN 0 ELSE 1 END ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS signup_us
            FROM e
        )
        SELECT event_id, user_id, us - signup_us AS lag_us
        FROM carried
        WHERE event_type <> 'signup'
          AND signup_us IS NOT NULL
          AND us - signup_us <= {ASOF_TOLERANCE_US}
    """,
    "q_join_skew_split": f"""
        WITH l AS (
            SELECT CASE WHEN l_linenumber >= 4 THEN {SKEW_HOT_KEY}
                        ELSE l_orderkey END AS jk,
                   floor(l_extendedprice * (1 - l_discount) * 10000
                         + 0.5)::BIGINT AS rev_e4
            FROM lineitem
        )
        SELECT (jk = {SKEW_HOT_KEY}) AS is_hot, o_orderpriority,
               count(*)::BIGINT AS n_items,
               sum(rev_e4)::DECIMAL(38,0)::VARCHAR AS revenue_e4
        FROM l JOIN orders ON o_orderkey = jk
        GROUP BY 1, 2
        ORDER BY 1, 2
    """,
}
