"""SQL-surface operators (SURVEY.md §2.17): the Spark 4
SQL-scripting surface (session variables + EXECUTE IMMEDIATE, SQL-macro
UDFs, lateral column aliases), a custom Python DataSource WRITER proven
lossless end-to-end, spend-quartile migration through the distributed
ntile, and Neyman-allocation stratified sampling — each with an
independent DuckDB oracle.

Scale notes (100 TB):
- SQL UDFs and lateral aliases are pure Catalyst expression macros:
  they inline into whole-stage codegen, so the "function" surface costs
  nothing at runtime (PLANS.md shows no Python eval for these keys).
- session variables bind on the driver at ANALYSIS time — the executor
  plan carries resolved literals, so predicate pushdown sees the value
  exactly like a hand-inlined constant (asserted in tests).
- the jsonl sink writes one file per partition on executors with a
  driver-side manifest commit (sources/jsonl_sink.py) — no collect.
- segment migration ranks each year's customer-spend table through the
  range-bucketed prefix sweep + arithmetic ANSI ntile — two shallow
  independent sweeps joined on the natural key, never a global window.
- Neyman allocation needs one tiny per-stratum moment aggregate
  (broadcast) and one hash-rank window PER STRATUM (market segments are
  balanced, skew-free keys); the deterministic md5 rank replaces an RNG
  so both engines and any re-run select the identical sample.

Determinism: stddev quantizes to the 1e-2 grid BEFORE the allocation
arithmetic, making every downstream double op identical on both engines
(FIXTURES.md rule 8's grid-exactness discipline); migration counts and
allocations are exact integers; money sums round on their data grid.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from zonal_datacube_spark.functions.exact import (
    cents,
    g6,
    half_up,
    revenue,
    round4_half_up,
)
from zonal_datacube_spark.functions.prefix_sweep import (
    ntile_from_row_number,
    prefix_sweep,
)
from zonal_datacube_spark.functions.tempdirs import fresh_dirs
from zonal_datacube_spark.sources.derived import layout
from zonal_datacube_spark.sources.loader import load_table, read_layout

VAR_MIN_QTY = 30.0
VAR_FLAG = "R"


def q_sql_session_variable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL session variables + EXECUTE IMMEDIATE: DECLARE/SET VAR
    binds typed, injection-safe parameters on the driver; the final
    statement runs through EXECUTE IMMEDIATE (the SQL-scripting dispatch
    path). Variables resolve at analysis time, so the executor plan is
    bit-identical to hand-inlined literals — including parquet pushdown
    of the variable-bound predicate. The oracle inlines the same
    constants."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "zds_li_var"
    )
    spark.sql(
        "DECLARE OR REPLACE VARIABLE zds_min_qty DOUBLE DEFAULT 0.0"
    )
    spark.sql("DECLARE OR REPLACE VARIABLE zds_flag STRING DEFAULT 'A'")
    spark.sql(f"SET VAR zds_min_qty = {VAR_MIN_QTY}")
    spark.sql(f"SET VAR zds_flag = '{VAR_FLAG}'")
    return spark.sql(
        """
        EXECUTE IMMEDIATE
        'SELECT l_linestatus,
                count(*) AS n_rows,
                floor(sum(l_extendedprice * (1 - l_discount)) * 10000 + 0.5)
                    / 10000 AS revenue
         FROM zds_li_var
         WHERE l_quantity >= zds_min_qty AND l_returnflag = zds_flag
         GROUP BY l_linestatus'
        """
    )


def q_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-macro UDFs (Spark 4 CREATE FUNCTION … RETURN <expr>): named,
    reusable business logic that inlines into Catalyst as expressions —
    zero runtime cost, full codegen/pushdown, the form shared logic
    should ship in BEFORE anyone reaches for Python. One UDF composes
    the other (banding over discounted revenue); the oracle spells out
    the expanded expressions."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "zds_li_udf"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION zds_rev(p DOUBLE, d DOUBLE)"
        " RETURNS DOUBLE RETURN p * (1 - d)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION zds_qband(q DOUBLE)"
        " RETURNS STRING RETURN CASE WHEN q < 10 THEN 'low'"
        " WHEN q < 30 THEN 'mid' ELSE 'high' END"
    )
    return spark.sql(
        """
        SELECT zds_qband(l_quantity) AS band,
               count(*) AS n_rows,
               floor(sum(zds_rev(l_extendedprice, l_discount)) * 10000 + 0.5)
                   / 10000 AS revenue
        FROM zds_li_udf
        GROUP BY zds_qband(l_quantity)
        """
    )


def q_sql_lateral_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral column aliases: later select items reference earlier ones
    by alias (gross → disc_amt → net → net_ratio), killing the
    copy-pasted-subexpression bug class; Catalyst expands the chain into
    one projection. Derived values stay grid-exact because each link
    rounds on its data grid before reuse; DuckDB evaluates the identical
    chain natively."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "zds_li_lat"
    )
    return spark.sql(
        """
        SELECT l_returnflag,
               floor(sum(l_extendedprice) * 100 + 0.5) / 100 AS gross,
               floor(sum(l_extendedprice * l_discount) * 10000 + 0.5)
                   / 10000 AS disc_amt,
               gross - disc_amt AS net,
               floor(net / gross * 1000000 + 0.5) / 1000000 AS net_share
        FROM zds_li_lat
        GROUP BY l_returnflag
        """
    )


def q_sink_python_ds_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource WRITER (sources/jsonl_sink.py): the
    revenue rollup streams partition-parallel through the Spark 4 sink
    API (executor write() → driver commit() manifest), then reads back
    with an explicit schema and returns — the DuckDB oracle computes the
    same rollup directly, so a hash match proves the custom write path
    is lossless end-to-end (full-precision JSON float round-trip) and
    the manifest's two-phase commit published every partition exactly
    once."""
    from zonal_datacube_spark.sources.jsonl_sink import (
        JSONL_SINK_NAME,
        read_manifest,
        register_jsonl_sink,
    )

    register_jsonl_sink(spark)
    result = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n_rows"),
            round4_half_up(F.sum(revenue())).alias("revenue"),
        )
    )
    (out,) = fresh_dirs("q_sink_python_ds_write", "zds_jsonl_sink_")
    result.write.format(JSONL_SINK_NAME).option("path", out).mode(
        "append"
    ).save()
    # read back ONLY the manifest's committed file list — a part file on
    # disk that commit() never published (failed/speculated/retried task)
    # must stay invisible, or the read path would undo the two-phase
    # commit's exactly-once guarantee
    committed = [
        f"{out}/{name}" for name, _ in read_manifest(out)["files"]
    ]
    return (
        spark.read.schema(
            "l_returnflag string, l_linestatus string,"
            " n_rows bigint, revenue double"
        )
        .json(committed)
    )


MIGRATION_TILES = 4
MIGRATION_Y0, MIGRATION_Y1 = 1996, 1997


def q_report_segment_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spend-quartile migration matrix: customers ranked into annual-spend
    quartiles in 1996 and again in 1997; the 4×4 transition census (plus
    each origin quartile's row share) is the churn/upsell mobility chart.
    Each year's quartile assignment is a distributed row_number through
    the range-bucketed prefix sweep + arithmetic ANSI ntile — the
    customer-grain tables never enter a global window. Counts are exact
    integers; the one share ratio floors half-up at 6dp.

    r13 (guide §2.4 — share one exchange; the q_stats_spearman stacking
    trick): the two per-year quartile assignments ran as two separate
    orders scans + two quantile sweeps (each a GK-sketch aggregate plus
    a bucketed window) joined on custkey. The year now rides the
    sweep's PARTITION key instead: ONE year-filtered scan groups to the
    (year, custkey) spend grain, ONE sweep ranks both years (edges are
    drawn per part key, so each year keeps its own boundaries and its
    per-year row_number/total are IDENTICAL to the separate sweeps'),
    and the 4×4 census folds from a year-pivot of the score table —
    22 jobs → ~8, one fact scan instead of two."""
    orders = load_table(spark, sf_dir, "orders")
    yr = F.year("o_orderdate")
    spend = (
        orders.filter(yr.isin(MIGRATION_Y0, MIGRATION_Y1))
        .groupBy(yr.alias("_yr"), F.col("o_custkey"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("spend"))
    )
    swept = prefix_sweep(
        spend,
        ["_yr"],
        "spend",
        descending=True,
        tiebreak=["o_custkey"],
        row_number_col="_rn",
        total_count_col="_n",
        boundaries="quantile",
    )
    tiles = swept.select(
        "_yr",
        "o_custkey",
        ntile_from_row_number(
            F.col("_rn"), F.col("_n"), MIGRATION_TILES
        ).alias("_tile"),
    )
    # year-pivot to (custkey, q_from, q_to); the inner join the two
    # score tables had is the non-null filter on both pivoted columns
    per_cust = tiles.groupBy("o_custkey").agg(
        F.max(F.when(F.col("_yr") == MIGRATION_Y0, F.col("_tile"))).alias(
            "q_from"
        ),
        F.max(F.when(F.col("_yr") == MIGRATION_Y1, F.col("_tile"))).alias(
            "q_to"
        ),
    )
    cells = (
        per_cust.filter(
            F.col("q_from").isNotNull() & F.col("q_to").isNotNull()
        )
        .groupBy("q_from", "q_to")
        .agg(F.count("*").alias("n_customers"))
    )
    row_tot = F.sum("n_customers").over(Window.partitionBy("q_from"))
    return cells.select(
        "q_from",
        "q_to",
        "n_customers",
        g6(F.col("n_customers") / row_tot).alias("row_share"),
    )


NEYMAN_TOTAL = 100


def _bal_c_sum() -> F.Column:
    """Exact cent sum of c_acctbal as a double (order-independent —
    floor-half-up is sign-consistent in both engines for the 2dp grid)."""
    return F.sum(
        cents(F.col("c_acctbal"))
    ).cast("double")


def q_sample_neyman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-allocation stratified sampling: the variance-optimal
    allocation n_h ∝ N_h·S_h over market-segment strata of customer
    balances, drawn DETERMINISTICALLY by md5-hash rank within each
    stratum (the distributed, re-runnable replacement for an RNG draw —
    q_sample_hash's discipline). The per-stratum stddev quantizes to the
    1e-2 grid BEFORE the allocation arithmetic so both engines run
    identical exact doubles into the floor-half-up quota. Output: stratum
    size, optimal quota, and the sampled balance mean against the true
    stratum mean — the design-effect readout."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    moments = cust.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_h"),
        (half_up(F.stddev_samp("c_acctbal"), 100) / 100).alias(
            "s_h"
        ),
        # exact cent-grid fold (q_agg_global r11 discipline): acctbal is
        # 2dp money, so the 6dp mean folds as an integer cent sum — a raw
        # double avg's partition order can flip the 6dp rounding
        F.round(_bal_c_sum() / F.count("*") / 100, 6).alias("true_mean"),
    )
    tot = moments.agg(
        F.sum(F.col("n_h") * F.col("s_h")).alias("weight_total")
    )
    alloc = moments.crossJoin(F.broadcast(tot)).select(
        "c_mktsegment",
        "n_h",
        "true_mean",
        F.least(
            F.col("n_h"),
            F.floor(
                F.lit(NEYMAN_TOTAL)
                * F.col("n_h")
                * F.col("s_h")
                / F.col("weight_total")
                + F.lit(0.5)
            ),
        )
        .cast("bigint")
        .alias("n_alloc"),
    )
    # deterministic draw rank through the prefix sweep on a NUMERIC hash
    # (first 15 md5 hex digits as bigint, custkey tiebreak) — the r06
    # self-audit retired the 5-segment-partition row_number over the
    # data-scaled customer table (q_sample_stratified's rewrite twin)
    from zonal_datacube_spark.functions.prefix_sweep import prefix_sweep

    h = F.expr(
        "CAST(conv(substr(md5(CAST(c_custkey AS STRING)), 1, 15), 16, 10)"
        " AS BIGINT)"
    )
    ranked = prefix_sweep(
        cust.select("c_mktsegment", "c_acctbal", "c_custkey").withColumn(
            "h", h
        ),
        ["c_mktsegment"],
        "h",
        tiebreak=["c_custkey"],
        row_number_col="rnk",
    )
    picked = ranked.join(F.broadcast(alloc), "c_mktsegment").filter(
        F.col("rnk") <= F.col("n_alloc")
    )
    return (
        picked.groupBy("c_mktsegment")
        .agg(
            F.first("n_h").alias("n_stratum"),
            F.first("n_alloc").alias("n_alloc"),
            F.round(_bal_c_sum() / F.count("*") / 100, 6).alias(
                "sample_mean"
            ),
            F.first("true_mean").alias("true_mean"),
        )
    )


def q_agg_grouping_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with GROUPING()/GROUPING_ID() flags — the surface that
    disambiguates a genuine NULL group value from a subtotal row (the
    classic reporting-layer bug q_agg_rollup alone cannot catch). The
    DataFrame rollup + F.grouping/grouping_id compile to one
    Expand+partial-agg plan; the oracle reconstructs grouping_id as
    2·g(flag) + g(status), pinning the bit encoding."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("int").alias("g_flag"),
            F.grouping("l_linestatus").cast("int").alias("g_status"),
            F.grouping_id().cast("int").alias("gid"),
            F.count("*").alias("n_rows"),
            round4_half_up(F.sum(revenue())).alias("revenue"),
        )
    )


HOUR_US = 3_600_000_000


def q_ts_range_interval_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-interval RANGE frame (trailing 1 hour per event type),
    reported as per-type hourly-load extremes. Spark 4 accepts the ANSI
    `RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW` frame
    directly — but an enum-partitioned interval window caps parallelism
    at |event types| and becomes the straggler at 100 TB, so the engine
    ships the time-chunk+halo rewrite (functions/chunked_window.py) over
    integer epoch µs: identical frame multisets, (type × chunk)
    parallelism. The DuckDB oracle uses the literal ANSI interval frame,
    so the hash match IS the equivalence proof. Window sums round at 4dp
    before the max (frame accumulation order differs per engine);
    counts are exact."""
    from zonal_datacube_spark.functions.chunked_window import (
        with_trailing_range_window,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "value", F.expr(_EPOCH_US_EV).alias("ep_us")
    )
    windowed = with_trailing_range_window(
        ev,
        ["event_type"],
        "ep_us",
        HOUR_US,
        lambda w: {
            "n1h": F.count("*").over(w),
            "s1h": F.round(F.sum("value").over(w), 4),
        },
        upper_bound=0,
    )
    return (
        windowed.groupBy("event_type")
        .agg(
            F.count("*").alias("n_rows"),
            F.max("n1h").alias("max_hourly_n"),
            F.max("s1h").alias("max_hourly_sum"),
            F.round(F.avg("n1h"), 6).alias("avg_hourly_n"),
        )
    )


_EPOCH_US_EV = (
    "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
)


def q_sql_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe try_* arithmetic (Spark 4 runs ANSI mode by DEFAULT, so
    a zero divisor or dirty cast in plain arithmetic now FAILS THE JOB —
    try_divide/try_cast are the per-row quarantine valves a 100 TB
    ingest needs instead of a crash at hour three). Per event type:
    rows whose json-extracted k is divisible by 5 null out of the safe
    division, rows whose k is divisible by 3 simulate a dirty string for
    the safe cast; counts and the surviving sum prove the null-not-crash
    semantics. The oracle spells the same guards with nullif/TRY_CAST
    (DuckDB has no try_divide)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "value",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )
    derived = ev.select(
        "event_type",
        F.expr("try_divide(value, k % 5)").alias("safe_div"),
        F.expr(
            "try_cast(CASE WHEN k % 3 = 0 THEN concat('x', k)"
            " ELSE cast(k AS string) END AS INT)"
        ).alias("safe_cast"),
    )
    return (
        derived.groupBy("event_type")
        .agg(
            F.count("*").alias("n_rows"),
            F.count("safe_div").alias("n_div_ok"),
            F.round(F.sum("safe_div"), 4).alias("sum_safe_div"),
            F.count("safe_cast").alias("n_clean_casts"),
            F.sum("safe_cast").alias("sum_clean_k"),
        )
    )


def _metadata_layout_path(spark: SparkSession, sf_dir: str) -> str:
    """events partitioned by type, ONE file per partition directory
    (repartition by the partition key first) — deterministic file counts
    so the oracle can pin them."""
    return layout(
        sf_dir, ("events",), "events_by_type_1f",
        lambda p: load_table(spark, sf_dir, "events")
        .repartition("event_type")
        .write.mode("overwrite")
        .partitionBy("event_type")
        .parquet(p),
    )


def q_scan_metadata_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hidden `_metadata` file columns on file sources — the lineage
    surface incremental pipelines key on (which file did this row come
    from, how big was it, when was it written) without a custom reader.
    Over a one-file-per-partition layout the per-type distinct file
    count is provably 1 and every file non-empty; row counts tie the
    lineage accounting back to the flat original, which is what the
    oracle scans (it cannot see Spark's hidden columns — the pinned
    literals ARE the cross-engine contract)."""
    ev = read_layout(spark, _metadata_layout_path(spark, sf_dir))
    return (
        ev.select(
            "event_type",
            F.col("_metadata.file_name").alias("fname"),
            F.col("_metadata.file_size").alias("fsize"),
        )
        .groupBy("event_type")
        .agg(
            F.count_distinct("fname").alias("n_files"),
            (F.min("fsize") > 0).alias("files_nonempty"),
            F.count("*").alias("n_rows"),
        )
    )


def q_sql_scripting_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL scripting (BEGIN…END compound statements): a script
    DECLAREs a variable, computes a data-derived threshold into it
    (scalar subquery via SET), branches on it with IF/ELSE, and the
    taken branch's SELECT is the script's result set — multi-statement
    procedural SQL without leaving the engine. The threshold floors to
    an INTEGER before the comparison so the branch predicate is
    grid-safe (cookbook rule 8), and the oracle inlines the same
    threshold + the branch the data provably takes."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "zds_li_script"
    )
    return spark.sql(
        """
        BEGIN
          DECLARE cut BIGINT DEFAULT 0;
          SET cut = (SELECT floor(avg(l_quantity)) FROM zds_li_script);
          IF cut >= 10 THEN
            SELECT l_returnflag,
                   count(*) AS n_rows,
                   floor(sum(l_extendedprice * (1 - l_discount)) * 10000
                         + 0.5) / 10000 AS revenue
            FROM zds_li_script
            WHERE l_quantity >= cut
            GROUP BY l_returnflag
            ORDER BY l_returnflag;
          ELSE
            SELECT 'unexpected' AS l_returnflag,
                   0L AS n_rows, 0.0D AS revenue;
          END IF;
        END
        """
    )


PVM_Y0, PVM_Y1 = 1996, 1997


def q_report_pvm_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-volume decomposition of year-over-year revenue change per
    return flag: Δrev = (q₁−q₀)·p₀ + (p₁−p₀)·q₁ with p = rev/qty — an
    exact algebraic identity, so the two effects reconstruct the delta
    to rounding and the analyst sees HOW much of the change was selling
    more vs charging more. One grouped scan per year (conditional
    aggregation — a single pass), revenue on its 1e-4 grid before the
    division, all derived doubles identical on both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = revenue()
    yr = F.year("l_shipdate")
    base = li.filter(yr.isin(PVM_Y0, PVM_Y1)).groupBy("l_returnflag").agg(
        F.sum(F.when(yr == PVM_Y0, F.col("l_quantity"))).alias("q0"),
        round4_half_up(F.sum(F.when(yr == PVM_Y0, rev))).alias("rev0"),
        F.sum(F.when(yr == PVM_Y1, F.col("l_quantity"))).alias("q1"),
        round4_half_up(F.sum(F.when(yr == PVM_Y1, rev))).alias("rev1"),
    )
    p0 = F.col("rev0") / F.col("q0")
    p1 = F.col("rev1") / F.col("q1")

    # signed effects round on the same 1e-4 half-up grid as rev0/rev1
    return (
        # flags absent from one of the two years have no price/volume
        # split — drop them instead of emitting NULL effect columns
        base.filter(F.col("q0").isNotNull() & F.col("q1").isNotNull())
        .select(
            "l_returnflag",
            "rev0",
            "rev1",
            round4_half_up(F.col("rev1") - F.col("rev0")).alias("delta_rev"),
            round4_half_up((F.col("q1") - F.col("q0")) * p0).alias("volume_effect"),
            round4_half_up((p1 - p0) * F.col("q1")).alias("price_effect"),
        )
    )


def q_subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery: orders above the global average price.
    Catalyst plans the subquery as a broadcast single-row join."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("zds_orders_sq")
    return spark.sql(
        """
        SELECT o_orderkey,
               round(o_totalprice, 2) AS price,
               round(o_totalprice - (SELECT avg(o_totalprice) FROM zds_orders_sq), 4)
                   AS above_avg_by
        FROM zds_orders_sq
        WHERE o_totalprice > (SELECT avg(o_totalprice) FROM zds_orders_sq)
        """
    )


def q_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE (Spark 4.x) building a month spine over the order
    date span, then a left join for per-month counts — recursive calendar
    gap-fill (q_ts_gapfill does the same with sequence()).

    The recursion DOUBLES its step each round ((m, step) → (m, 2·step) and
    (m+step, 2·step)), reaching every month as the binary decomposition of
    its offset — depth O(log span) instead of one round per month. Spark
    executes each recursive round as a job, so a naive month-at-a-time
    spine pays ~80 sequential jobs (measured 26 s); the doubling shape
    pays 8. The same consideration applies to any long recursive spine at
    scale; DuckDB's oracle mirrors the doubling exactly.

    r13 (guide §1.2 "don't compute things you throw away"): the span
    bounds are HOISTED to literals before the recursion. As a `bounds`
    CTE they were re-planned as scalar subqueries over the fact table
    INSIDE every recursive round (UnionLoop re-executes its step plan
    per round: 4 subquery slots × 8 rounds ≈ 32 of the key's measured
    65 jobs at sf0.1 — plans/r13/q_recursive_cte_before.txt nodes 7–10
    show the per-round Aggregate over the relation). One 2-column
    aggregate collect replaces them; the spine and every output row are
    unchanged. The bounds collect is a 1-row fold of min/max — driver
    traffic is O(1) at any corpus size."""
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("zds_orders_rc")
    b = orders.agg(
        F.date_format(
            F.date_trunc("month", F.min("o_orderdate")), "yyyy-MM-dd HH:mm:ss"
        ).alias("lo"),
        F.date_format(
            F.date_trunc("month", F.max("o_orderdate")), "yyyy-MM-dd HH:mm:ss"
        ).alias("hi"),
    ).collect()[0]
    return spark.sql(
        _RECURSIVE_SQL.format(lo=f"TIMESTAMP '{b['lo']}'", hi=f"TIMESTAMP '{b['hi']}'")
    )


_RECURSIVE_SQL = """
    WITH RECURSIVE months(m, step) AS (
        SELECT {lo}, 1
        UNION ALL
        SELECT new_m, step * 2 FROM (
            SELECT m AS new_m, step FROM months
            WHERE {lo} + make_interval(0, step) <= {hi}
            UNION ALL
            SELECT m + make_interval(0, step), step FROM months
            WHERE m + make_interval(0, step) <= {hi}
        )
    ),
    spine AS (SELECT DISTINCT m FROM months),
    per_month AS (
        SELECT date_trunc('month', o_orderdate) AS m,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS sum_total
        FROM zds_orders_rc GROUP BY 1
    )
    SELECT date_format(spine.m, 'yyyy-MM') AS month,
           coalesce(n_orders, 0) AS n_orders,
           round(coalesce(sum_total, 0.0), 2) AS sum_total
    FROM spine LEFT JOIN per_month ON spine.m = per_month.m
"""


def q_subquery_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subqueries (per-customer count and max) —
    Catalyst decorrelates both into left-outer aggregate joins; the
    count subquery's empty-group-is-zero semantics are the classic
    decorrelation trap, handled identically by both engines."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("zds_cust_corr")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("zds_orders_corr")
    return spark.sql(
        """
        SELECT c_custkey,
               (SELECT count(*) FROM zds_orders_corr o
                WHERE o.o_custkey = c.c_custkey) AS n_orders,
               round((SELECT max(o_totalprice) FROM zds_orders_corr o
                      WHERE o.o_custkey = c.c_custkey), 2) AS max_price
        FROM zds_cust_corr c
        """
    )


def q_sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL pipe syntax (`|>`): the classic pricing-summary shape
    written as a left-to-right pipeline — FROM |> WHERE |> EXTEND
    |> AGGREGATE … GROUP BY |> ORDER BY. Catalyst resolves pipe stages
    to the identical logical plan as the nested form, so pushdown /
    partial aggregation behave exactly like q_agg_groupby; the revenue
    sum rounds on its 1e-4 data grid half-up on both engines (rule 6)."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "zds_li_pipe"
    )
    return spark.sql(
        """
        FROM zds_li_pipe
        |> WHERE l_quantity > 5
        |> EXTEND l_extendedprice * (1 - l_discount) AS rev
        |> AGGREGATE
               floor(SUM(rev) * 10000 + 0.5) / 10000 AS revenue,
               COUNT(*) AS n_rows,
               floor(SUM(l_quantity) * 10 + 0.5) / 10 AS sum_qty
           GROUP BY l_returnflag, l_linestatus
        |> ORDER BY l_returnflag, l_linestatus
        """
    )


# --------------------------------------------------------------------------
# SQL named WINDOW clause
# --------------------------------------------------------------------------


def q_sql_named_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL WINDOW-clause surface: two NAMED window specs over the same
    o_custkey partitioning (a data-scaled key — task count grows with
    customers, no enum or global sort), shared by three window
    functions — price rank, running cent spend in order-date order, and
    days since the previous order. Inputs are exact integers (cent
    grid, epoch days), the rank tiebreaks on the unique key, and the
    final filter keeps each customer's top-2 priciest orders."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "zds_nw_orders"
    )
    return spark.sql(
        """
        SELECT o_custkey, o_orderkey, price_rank, cum_cents, gap_days
        FROM (
            SELECT o_custkey, o_orderkey,
                   row_number() OVER w_price AS price_rank,
                   sum(cents)   OVER w_time  AS cum_cents,
                   coalesce(od - lag(od) OVER w_time, -1) AS gap_days
            FROM (
                SELECT o_custkey, o_orderkey,
                       CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                           AS cents,
                       CAST(datediff(CAST(o_orderdate AS DATE),
                                     DATE '1970-01-01') AS BIGINT) AS od
                FROM zds_nw_orders
            )
            WINDOW w_price AS (PARTITION BY o_custkey
                               ORDER BY cents DESC, o_orderkey),
                   w_time  AS (PARTITION BY o_custkey
                               ORDER BY od, o_orderkey)
        )
        WHERE price_rank <= 2
        """
    )


QUERIES = {
    "q_sql_session_variable": q_sql_session_variable,
    "q_sql_udf": q_sql_udf,
    "q_sql_lateral_alias": q_sql_lateral_alias,
    "q_sink_python_ds_write": q_sink_python_ds_write,
    "q_report_segment_migration": q_report_segment_migration,
    "q_sample_neyman": q_sample_neyman,
    "q_agg_grouping_flags": q_agg_grouping_flags,
    "q_ts_range_interval_window": q_ts_range_interval_window,
    "q_sql_try_arithmetic": q_sql_try_arithmetic,
    "q_scan_metadata_cols": q_scan_metadata_cols,
    "q_sql_scripting_block": q_sql_scripting_block,
    "q_report_pvm_decomposition": q_report_pvm_decomposition,
    "q_subquery_scalar": q_subquery_scalar,
    "q_recursive_cte": q_recursive_cte,
    "q_subquery_correlated": q_subquery_correlated,
    "q_sql_pipe_syntax": q_sql_pipe_syntax,
    "q_sql_named_window": q_sql_named_window,
}

ORACLE = {
    "q_sql_session_variable": f"""
        SELECT l_linestatus,
               count(*) AS n_rows,
               floor(sum(l_extendedprice * (1 - l_discount)) * 10000 + 0.5)
                   / 10000 AS revenue
        FROM lineitem
        WHERE l_quantity >= {VAR_MIN_QTY} AND l_returnflag = '{VAR_FLAG}'
        GROUP BY l_linestatus
        ORDER BY l_linestatus
    """,
    "q_sql_udf": """
        SELECT CASE WHEN l_quantity < 10 THEN 'low'
                    WHEN l_quantity < 30 THEN 'mid'
                    ELSE 'high' END AS band,
               count(*) AS n_rows,
               floor(sum(l_extendedprice * (1 - l_discount)) * 10000 + 0.5)
                   / 10000 AS revenue
        FROM lineitem
        GROUP BY 1
        ORDER BY band
    """,
    "q_sql_lateral_alias": """
        SELECT l_returnflag,
               floor(sum(l_extendedprice) * 100 + 0.5) / 100 AS gross,
               floor(sum(l_extendedprice * l_discount) * 10000 + 0.5)
                   / 10000 AS disc_amt,
               gross - disc_amt AS net,
               floor(net / gross * 1000000 + 0.5) / 1000000 AS net_share
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
    "q_sink_python_ds_write": """
        SELECT l_returnflag, l_linestatus,
               count(*) AS n_rows,
               floor(sum(l_extendedprice * (1 - l_discount)) * 10000 + 0.5)
                   / 10000 AS revenue
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    "q_report_segment_migration": f"""
        WITH y0 AS (
            SELECT o_custkey, round(sum(o_totalprice), 2) AS spend
            FROM orders WHERE year(o_orderdate) = {MIGRATION_Y0}
            GROUP BY o_custkey
        ),
        y1 AS (
            SELECT o_custkey, round(sum(o_totalprice), 2) AS spend
            FROM orders WHERE year(o_orderdate) = {MIGRATION_Y1}
            GROUP BY o_custkey
        ),
        t0 AS (
            SELECT o_custkey,
                   ntile({MIGRATION_TILES}) OVER (ORDER BY spend DESC,
                                                  o_custkey) AS q_from
            FROM y0
        ),
        t1 AS (
            SELECT o_custkey,
                   ntile({MIGRATION_TILES}) OVER (ORDER BY spend DESC,
                                                  o_custkey) AS q_to
            FROM y1
        ),
        cells AS (
            SELECT q_from, q_to, count(*)::BIGINT AS n_customers
            FROM t0 JOIN t1 USING (o_custkey)
            GROUP BY 1, 2
        )
        SELECT q_from, q_to, n_customers,
               floor(n_customers
                     / (sum(n_customers) OVER (PARTITION BY q_from))::DOUBLE
                     * 1000000 + 0.5) / 1000000 AS row_share
        FROM cells
        ORDER BY q_from, q_to
    """,
    "q_sql_scripting_block": """
        SELECT l_returnflag,
               count(*) AS n_rows,
               floor(sum(l_extendedprice * (1 - l_discount)) * 10000 + 0.5)
                   / 10000 AS revenue
        FROM lineitem
        WHERE l_quantity >= (SELECT floor(avg(l_quantity)) FROM lineitem)
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
    "q_report_pvm_decomposition": f"""
        WITH base AS (
            SELECT l_returnflag,
                   sum(CASE WHEN year(l_shipdate) = {PVM_Y0}
                            THEN l_quantity END) AS q0,
                   floor(sum(CASE WHEN year(l_shipdate) = {PVM_Y0}
                                  THEN l_extendedprice * (1 - l_discount)
                             END) * 10000 + 0.5) / 10000 AS rev0,
                   sum(CASE WHEN year(l_shipdate) = {PVM_Y1}
                            THEN l_quantity END) AS q1,
                   floor(sum(CASE WHEN year(l_shipdate) = {PVM_Y1}
                                  THEN l_extendedprice * (1 - l_discount)
                             END) * 10000 + 0.5) / 10000 AS rev1
            FROM lineitem
            WHERE year(l_shipdate) IN ({PVM_Y0}, {PVM_Y1})
            GROUP BY l_returnflag
        )
        SELECT l_returnflag, rev0, rev1,
               floor((rev1 - rev0) * 10000 + 0.5) / 10000 AS delta_rev,
               floor((q1 - q0) * (rev0 / q0) * 10000 + 0.5) / 10000
                   AS volume_effect,
               floor((rev1 / q1 - rev0 / q0) * q1 * 10000 + 0.5) / 10000
                   AS price_effect
        FROM base
        WHERE q0 IS NOT NULL AND q1 IS NOT NULL
        ORDER BY l_returnflag
    """,
    "q_sql_try_arithmetic": """
        WITH ev AS (
            SELECT event_type, value,
                   json_extract(props, '$.k')::INT AS k
            FROM events
        ),
        derived AS (
            SELECT event_type,
                   value / nullif(k % 5, 0) AS safe_div,
                   TRY_CAST(CASE WHEN k % 3 = 0 THEN 'x' || k
                                 ELSE k::VARCHAR END AS INT) AS safe_cast
            FROM ev
        )
        SELECT event_type,
               count(*) AS n_rows,
               count(safe_div)::BIGINT AS n_div_ok,
               round(sum(safe_div), 4) AS sum_safe_div,
               count(safe_cast)::BIGINT AS n_clean_casts,
               sum(safe_cast)::BIGINT AS sum_clean_k
        FROM derived GROUP BY event_type ORDER BY event_type
    """,
    "q_scan_metadata_cols": """
        SELECT event_type,
               1::BIGINT AS n_files,
               TRUE AS files_nonempty,
               count(*) AS n_rows
        FROM events GROUP BY event_type ORDER BY event_type
    """,
    "q_agg_grouping_flags": """
        SELECT l_returnflag, l_linestatus,
               grouping(l_returnflag)::INT AS g_flag,
               grouping(l_linestatus)::INT AS g_status,
               (grouping(l_returnflag) * 2 + grouping(l_linestatus))::INT
                   AS gid,
               count(*) AS n_rows,
               floor(sum(l_extendedprice * (1 - l_discount)) * 10000 + 0.5)
                   / 10000 AS revenue
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
        ORDER BY gid, l_returnflag, l_linestatus
    """,
    "q_ts_range_interval_window": """
        WITH w AS (
            SELECT event_type,
                   count(*) OVER win AS n1h,
                   round(sum(value) OVER win, 4) AS s1h
            FROM events
            WINDOW win AS (PARTITION BY event_type ORDER BY ts
                           RANGE BETWEEN INTERVAL 1 HOUR PRECEDING
                           AND CURRENT ROW)
        )
        SELECT event_type,
               count(*)::BIGINT AS n_rows,
               max(n1h)::BIGINT AS max_hourly_n,
               max(s1h) AS max_hourly_sum,
               round(avg(n1h), 6) AS avg_hourly_n
        FROM w GROUP BY event_type ORDER BY event_type
    """,
    "q_sample_neyman": f"""
        WITH moments AS (
            SELECT c_mktsegment, count(*)::BIGINT AS n_h,
                   floor(stddev_samp(c_acctbal) * 100 + 0.5) / 100 AS s_h,
                   round(CAST(sum(CAST(floor(c_acctbal * 100 + 0.5)
                                       AS BIGINT)) AS DOUBLE)
                         / count(*) / 100, 6) AS true_mean
            FROM customer GROUP BY c_mktsegment
        ),
        tot AS (SELECT sum(n_h * s_h) AS weight_total FROM moments),
        alloc AS (
            SELECT c_mktsegment, n_h, true_mean,
                   least(n_h,
                         floor({NEYMAN_TOTAL} * n_h * s_h / weight_total
                               + 0.5)::BIGINT) AS n_alloc
            FROM moments, tot
        ),
        ranked AS (
            SELECT c_mktsegment, c_acctbal,
                   row_number() OVER (
                       PARTITION BY c_mktsegment
                       ORDER BY ('0x' || substr(md5(c_custkey::VARCHAR), 1, 15))::BIGINT,
                                c_custkey) AS rnk
            FROM customer
        )
        SELECT r.c_mktsegment,
               any_value(a.n_h) AS n_stratum,
               any_value(a.n_alloc) AS n_alloc,
               round(CAST(sum(CAST(floor(r.c_acctbal * 100 + 0.5)
                                   AS BIGINT)) AS DOUBLE)
                     / count(*) / 100, 6) AS sample_mean,
               any_value(a.true_mean) AS true_mean
        FROM ranked r JOIN alloc a USING (c_mktsegment)
        WHERE r.rnk <= a.n_alloc
        GROUP BY r.c_mktsegment
        ORDER BY r.c_mktsegment
    """,
    "q_subquery_scalar": """
        SELECT o_orderkey,
               round(o_totalprice, 2) AS price,
               round(o_totalprice - (SELECT avg(o_totalprice) FROM orders), 4)
                   AS above_avg_by
        FROM orders
        WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
    """,
    "q_recursive_cte": """
        WITH RECURSIVE bounds AS (
            SELECT date_trunc('month', min(o_orderdate)) AS lo,
                   date_trunc('month', max(o_orderdate)) AS hi
            FROM orders
        ),
        months(m, step) AS (
            SELECT lo, 1 FROM bounds
            UNION ALL
            SELECT new_m, step * 2 FROM (
                SELECT m AS new_m, step FROM months
                WHERE (SELECT lo FROM bounds) + to_months(step)
                      <= (SELECT hi FROM bounds)
                UNION ALL
                SELECT m + to_months(step), step FROM months
                WHERE m + to_months(step) <= (SELECT hi FROM bounds)
            )
        ),
        spine AS (SELECT DISTINCT m FROM months),
        per_month AS (
            SELECT date_trunc('month', o_orderdate) AS m,
                   count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS sum_total
            FROM orders GROUP BY 1
        )
        SELECT strftime(spine.m, '%Y-%m') AS month,
               coalesce(n_orders, 0) AS n_orders,
               round(coalesce(sum_total, 0.0), 2) AS sum_total
        FROM spine LEFT JOIN per_month ON spine.m = per_month.m
    """,
    "q_subquery_correlated": """
        SELECT c_custkey,
               (SELECT count(*) FROM orders o
                WHERE o.o_custkey = c.c_custkey) AS n_orders,
               round((SELECT max(o_totalprice) FROM orders o
                      WHERE o.o_custkey = c.c_custkey), 2) AS max_price
        FROM customer c
    """,
    "q_sql_pipe_syntax": """
        SELECT l_returnflag, l_linestatus,
               floor(sum(l_extendedprice * (1 - l_discount)) * 10000 + 0.5)
                   / 10000 AS revenue,
               count(*) AS n_rows,
               floor(sum(l_quantity) * 10 + 0.5) / 10 AS sum_qty
        FROM lineitem
        WHERE l_quantity > 5
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    "q_sql_named_window": """
        SELECT o_custkey, o_orderkey, price_rank, cum_cents, gap_days
        FROM (
            SELECT o_custkey, o_orderkey,
                   row_number() OVER w_price AS price_rank,
                   CAST(sum(cents) OVER w_time AS BIGINT) AS cum_cents,
                   coalesce(od - lag(od) OVER w_time, -1) AS gap_days
            FROM (
                SELECT o_custkey, o_orderkey,
                       CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                           AS cents,
                       date_diff('day', DATE '1970-01-01',
                                 CAST(o_orderdate AS DATE))::BIGINT AS od
                FROM orders
            )
            WINDOW w_price AS (PARTITION BY o_custkey
                               ORDER BY cents DESC, o_orderkey),
                   w_time  AS (PARTITION BY o_custkey
                               ORDER BY od, o_orderkey)
        )
        WHERE price_rank <= 2
        ORDER BY o_custkey, price_rank
    """,
}
