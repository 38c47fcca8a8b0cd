"""Warehouse-maintenance operators (SURVEY.md §2.13): SCD type-2 interval
builds and declarative data-quality constraint checks — the ops that run
around an analytics engine's tables rather than inside a single report.

Scale notes (100 TB):
- `q_scd2_build` is one window pass partitioned by the entity key — the
  same single shuffle a dimension-history rebuild needs at any scale; no
  self-join (the naive SCD2 formulation joins each row to its successor).
- `q_dq_checks` fuses each table's constraint battery into ONE scan +
  aggregate per table (conditional counts), and the referential check is
  a left join + null count, not a per-row lookup. Adding a constraint to
  an existing table costs zero extra scans.
"""

from __future__ import annotations

import json
import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from zonal_datacube_spark.functions.exact import CENTS_SQL, G6_SQL, cents, g6
from zonal_datacube_spark.functions.local_rel import local_relation
from zonal_datacube_spark.functions.tempdirs import fresh_dirs
from zonal_datacube_spark.sources.derived import layout
from zonal_datacube_spark.sources.loader import load_table, read_layout

EVENT_TYPES = ("signup", "click", "error", "view", "purchase")


def daily_events_mv_path(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (once per corpus) the daily-grain continuous aggregate
    of events — the materialized view every warehouse keeps under its
    time-series tables. Unrounded partial sums/counts are stored so any
    coarser rollup can be answered from the MV exactly."""
    return layout(
        sf_dir, ("events",), "mv_daily_events",
        lambda p: load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").alias("day"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("sv"))
        .write.mode("overwrite")
        .parquet(p),
    )


BRIDGE_YEAR_A, BRIDGE_YEAR_B = 1996, 1997


def q_report_revenue_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period revenue BRIDGE (waterfall): decompose the
    1996→1997 revenue delta per market segment into new / churned /
    expanded / contracted customer components — the report a finance
    review runs on every close, and an identity check by construction
    (components sum exactly to the delta; the test pins it). One
    customer-grain full outer self-comparison via conditional aggregation
    (never two scans: both years come out of one grouped pass), then a
    broadcast dim join and the segment rollup."""
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        orders.filter(F.year("o_orderdate").isin(BRIDGE_YEAR_A, BRIDGE_YEAR_B))
        .groupBy("o_custkey")
        .agg(
            F.round(
                F.sum(
                    F.when(
                        F.year("o_orderdate") == BRIDGE_YEAR_A, F.col("o_totalprice")
                    ).otherwise(0.0)
                ),
                2,
            ).alias("rev_a"),
            F.round(
                F.sum(
                    F.when(
                        F.year("o_orderdate") == BRIDGE_YEAR_B, F.col("o_totalprice")
                    ).otherwise(0.0)
                ),
                2,
            ).alias("rev_b"),
        )
    )
    cust = F.broadcast(
        load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    )
    classified = per_cust.join(
        cust, per_cust.o_custkey == cust.c_custkey
    ).select(
        "c_mktsegment",
        "rev_a",
        "rev_b",
        F.when((F.col("rev_a") == 0) & (F.col("rev_b") > 0), "new")
        .when((F.col("rev_a") > 0) & (F.col("rev_b") == 0), "churned")
        .when(F.col("rev_b") >= F.col("rev_a"), "expanded")
        .otherwise("contracted")
        .alias("component"),
    )
    return classified.groupBy("c_mktsegment", "component").agg(
        F.count("*").alias("n_customers"),
        F.round(F.sum(F.col("rev_b") - F.col("rev_a")), 2).alias("delta_rev"),
    )


def q_mv_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view rollup answering: the monthly report is computed
    from the DAILY continuous aggregate, never rescanning the base table
    — sums re-sum and counts re-sum, the average is derived as sum/count
    (avg-of-avgs would be wrong). The oracle computes the same report
    directly over base events, proving the MV path exact. At 100 TB the
    MV is ~3 orders of magnitude smaller than the fact table, which is
    the entire point of a continuous aggregate."""
    mv = read_layout(spark, daily_events_mv_path(spark, sf_dir))
    return mv.groupBy(
        F.date_format(F.date_trunc("month", "day"), "yyyy-MM").alias("month"),
        "event_type",
    ).agg(
        F.sum("n").alias("n_events"),
        F.round(F.sum("sv"), 2).alias("sum_value"),
        F.round(F.sum("sv") / F.sum("n"), 6).alias("avg_value"),
    )


def q_scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 history build: treat each order as a state change for its
    customer and derive validity intervals — valid_from = the change's
    timestamp, valid_to = the next change's (NULL on the open/current
    row). One window shuffle on the entity key; ties broken on the unique
    order key so the interval chain is total-ordered and deterministic."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderdate").alias("valid_from"),
        F.lead("o_orderdate").over(w).alias("valid_to"),
        F.when(F.lead("o_orderdate").over(w).isNull(), 1)
        .otherwise(0)
        .alias("is_current"),
        F.round("o_totalprice", 2).alias("state_price"),
    )


def q_scd2_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME join against the SCD2 dimension: each lineitem
    shipment is joined to the state its customer was in AT SHIP TIME
    (valid_from ≤ ship < valid_to, open current row) — the temporal-
    correctness join every feature store needs to avoid label leakage
    (training rows must see the dimension as it was, never the future).

    LEFT join: a shipment matches AT MOST one interval (intervals
    partition [first_order, ∞) per customer; zero-length intervals from
    same-day changes match nothing), and this synthetic fixture ships
    some lineitems before their customer's first state — those must
    surface as NULL state (counted in n_no_state), never silently drop
    and never leak a later state backward. The join is equi on custkey
    with the interval predicate as a residual — hash-join scaling with
    per-customer interval scans; at extreme per-key interval counts the
    q_join_asof union + carry-forward single-pass rewrite applies
    unchanged."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    dim = orders.select(
        F.col("o_custkey").alias("d_custkey"),
        F.col("o_orderdate").alias("valid_from"),
        F.lead("o_orderdate").over(w).alias("valid_to"),
        F.round("o_totalprice", 2).alias("state_price"),
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    fact = li.join(
        orders.select("o_orderkey", "o_custkey"),
        li.l_orderkey == F.col("o_orderkey"),
    )
    # open intervals close at a sentinel far-future endpoint: the residual
    # becomes two pure inequalities (no OR), which DuckDB's IEJoin and
    # Spark's range-predicate codegen both handle without degenerating to
    # a nested-loop scan per probe row
    pit = fact.join(
        dim.withColumn(
            "valid_to_c",
            F.coalesce("valid_to", F.lit("9999-12-31").cast("timestamp_ntz")),
        ),
        (fact.o_custkey == F.col("d_custkey"))
        & (F.col("l_shipdate") >= F.col("valid_from"))
        & (F.col("l_shipdate") < F.col("valid_to_c")),
        "left",
    )
    return pit.groupBy(F.year("l_shipdate").alias("ship_year")).agg(
        F.count("*").alias("n_shipments"),
        F.round(F.sum("state_price"), 2).alias("sum_state_price"),
        F.sum(
            (F.col("valid_to").isNull() & F.col("d_custkey").isNotNull()).cast(
                "bigint"
            )
        ).alias("n_on_current"),
        F.sum(F.col("d_custkey").isNull().cast("bigint")).alias("n_no_state"),
    )


def q_dq_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law screen on order totals — the forensic DQ check for
    fabricated or truncated monetary data: the leading-digit distribution
    of naturally-occurring multi-decade amounts should track
    log10(1 + 1/d); a flat or spiked profile flags synthetic injection
    or clipped exports. One map-side digit extraction + a 9-row
    aggregate; the deviation column localizes which digit drifts."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") >= 1
    )
    digit = F.substring(
        F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
    ).cast("int")
    counts = orders.select(digit.alias("d")).groupBy("d").agg(
        F.count("*").alias("n")
    )
    total = counts.agg(F.sum("n").alias("tot"))
    expected = F.log10(1 + 1 / F.col("d"))
    return counts.crossJoin(F.broadcast(total)).select(
        "d",
        "n",
        F.round(F.col("n") / F.col("tot"), 6).alias("share"),
        F.round(expected, 6).alias("benford_expected"),
        F.round(F.col("n") / F.col("tot") - expected, 6).alias("deviation"),
    )


def q_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality battery: one row per constraint with its
    violation count and pass flag. Constraints are fused per table —
    orders runs pk-uniqueness and customer-FK integrity in one join+agg,
    lineitem runs all range checks in one conditional aggregate, events
    runs the enum/null checks in another. A clean fixture yields all
    zeros; the *shape* (scan count, join strategy) is what must survive
    scale-up."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders_checked = (
        orders.join(cust, orders.o_custkey == cust.c_custkey, "left")
        .agg(
            (F.count("*") - F.countDistinct("o_orderkey")).alias("pk_dup"),
            F.count(F.when(F.col("c_custkey").isNull(), 1)).alias("fk_orphan"),
        )
        .select(
            F.explode(
                F.create_map(
                    F.lit("orders_pk_unique"), F.col("pk_dup"),
                    F.lit("orders_fk_customer"), F.col("fk_orphan"),
                )
            ).alias("check_name", "n_violations")
        )
    )
    li = load_table(spark, sf_dir, "lineitem")
    li_checked = li.agg(
        F.count(
            F.when(~F.col("l_discount").between(0.0, 1.0), 1)
        ).alias("bad_discount"),
        F.count(F.when(~F.col("l_tax").between(0.0, 1.0), 1)).alias("bad_tax"),
        F.count(F.when(F.col("l_quantity") <= 0, 1)).alias("bad_qty"),
    ).select(
        F.explode(
            F.create_map(
                F.lit("lineitem_discount_range"), F.col("bad_discount"),
                F.lit("lineitem_tax_range"), F.col("bad_tax"),
                F.lit("lineitem_qty_positive"), F.col("bad_qty"),
            )
        ).alias("check_name", "n_violations")
    )
    ev = load_table(spark, sf_dir, "events")
    ev_checked = ev.agg(
        F.count(F.when(~F.col("event_type").isin(*EVENT_TYPES), 1)).alias("bad_enum"),
        F.count(F.when(F.col("props").isNull(), 1)).alias("null_props"),
    ).select(
        F.explode(
            F.create_map(
                F.lit("events_type_enum"), F.col("bad_enum"),
                F.lit("events_props_not_null"), F.col("null_props"),
            )
        ).alias("check_name", "n_violations")
    )
    return (
        orders_checked.unionByName(li_checked)
        .unionByName(ev_checked)
        .withColumn("passed", F.when(F.col("n_violations") == 0, 1).otherwise(0))
    )


CDC_CUT_A = "2000-01-01"
CDC_CUT_B = "2001-01-01"


def q_cdc_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC change-feed GENERATION (the inverse of q_merge_upsert's
    apply): diff two snapshots of the "active customer" dimension —
    customers with any order in the trailing 12 months of each cutoff,
    carrying (order count, spend) — into INSERT / UPDATE / DELETE ops
    with their spend deltas. One full-outer join on the key; op
    classification is pure projection; unchanged rows drop out. This is
    how a warehouse without a CDC log bootstraps one from periodic
    snapshots (I=appeared, D=went inactive, U=state moved)."""
    orders = load_table(spark, sf_dir, "orders")

    def snapshot(cut: str) -> DataFrame:
        return (
            orders.filter(
                (F.col("o_orderdate") < F.lit(cut).cast("timestamp_ntz"))
                & (
                    F.col("o_orderdate")
                    >= F.lit(cut).cast("timestamp_ntz")
                    - F.expr("INTERVAL 12 MONTHS")
                )
            )
            .groupBy("o_custkey")
            .agg(
                F.count("*").alias("n_orders"),
                F.round(F.sum("o_totalprice"), 2).alias("spend"),
            )
        )

    a = snapshot(CDC_CUT_A).select(
        F.col("o_custkey").alias("k"),
        F.col("n_orders").alias("n_a"),
        F.col("spend").alias("s_a"),
    )
    b = snapshot(CDC_CUT_B).select(
        F.col("o_custkey").alias("k"),
        F.col("n_orders").alias("n_b"),
        F.col("spend").alias("s_b"),
    )
    diff = (
        a.join(b, "k", "full_outer")
        .select(
            "k",
            F.when(F.col("n_a").isNull(), F.lit("I"))
            .when(F.col("n_b").isNull(), F.lit("D"))
            .when(
                (F.col("n_a") != F.col("n_b"))
                | (F.col("s_a") != F.col("s_b")),
                F.lit("U"),
            )
            .alias("op"),
            (F.coalesce("s_b", F.lit(0.0)) - F.coalesce("s_a", F.lit(0.0))).alias(
                "delta"
            ),
        )
        .filter(F.col("op").isNotNull())  # unchanged rows are not changes
    )
    return diff.groupBy("op").agg(
        F.count("*").alias("n_customers"),
        F.round(F.sum("delta"), 2).alias("spend_delta"),
        F.min("k").alias("min_key"),
        F.max("k").alias("max_key"),
    )


def q_dq_daily_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily pipeline-health panel: events, distinct users, null/zero
    values, and purchase share per day — the first dashboard any
    ingestion pipeline grows. One day-grain rollup, integer counts plus
    one rounded ratio."""
    ev = load_table(spark, sf_dir, "events")
    day = F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
    return ev.groupBy(day.alias("day")).agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(
            (F.col("value").isNull() | (F.col("value") == 0)).cast("bigint")
        ).alias("n_null_or_zero"),
        F.round(
            F.avg((F.col("event_type") == "purchase").cast("double")), 6
        ).alias("purchase_share"),
    )


# --------------------------------------------------------------------------
# snapshot time travel
# --------------------------------------------------------------------------

TT_V1_CUT = "1997-01-01"
TT_V2_CUT = "1998-01-01"
TT_PURGE_CUT = "1996-01-01"


def q_warehouse_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot time travel over a manifest log — the AS OF read every
    table format (Iceberg/Delta) provides, built from first principles:
    three versions of an orders extract land as immutable delta parquet
    files (v0 base load, v1 append of 1997, v2 append of 1998+ PLUS a
    retention purge tombstoning 'F' orders older than 1996), each
    version's JSON manifest lists exactly the live delta files and
    tombstone files visible at that version. Reading AS OF v = union the
    manifest's delta files, broadcast-anti-join its tombstone keys —
    file-level pruning, no copy-per-version. The result audits all three
    versions (row count, cent-exact price sum, rows removed by
    tombstones); the oracle reconstructs each version relationally."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderdate",
        "o_orderstatus",
        cents(F.col("o_totalprice"))
        .alias("price_c"),
    )
    (root,) = fresh_dirs("q_warehouse_time_travel", "zds_timetravel_")
    deltas = os.path.join(root, "deltas")
    d0 = os.path.join(deltas, "ver=0")
    d1 = os.path.join(deltas, "ver=1")
    d2 = os.path.join(deltas, "ver=2")
    tomb2 = os.path.join(root, "tomb_v2")
    v1c = F.lit(TT_V1_CUT).cast("timestamp_ntz")
    v2c = F.lit(TT_V2_CUT).cast("timestamp_ntz")
    cols = ("o_orderkey", "o_orderstatus", "o_orderdate", "price_c")

    # r14 (guide §1.2 job count, §2.6 overlap independent jobs): the three
    # version extracts used to be three sequential write jobs over the
    # same orders scan; ONE dynamic-partitioned write routes every row to
    # its delta dir in a single pass (`ver` is a routing column only —
    # partitionBy excludes it from the data files, so each ver=N dir holds
    # exactly the old delta schema and as_of() reads are unchanged). The
    # independent tombstone extract overlaps it from a second driver
    # thread instead of waiting behind it.
    def _write_deltas() -> None:
        orders.withColumn(
            "ver",
            F.when(F.col("o_orderdate") < v1c, F.lit(0))
            .when(F.col("o_orderdate") < v2c, F.lit(1))
            .otherwise(F.lit(2)),
        ).select(*cols, "ver").write.mode("overwrite").partitionBy(
            "ver"
        ).parquet(deltas)

    def _write_tombstones() -> None:
        orders.filter(
            (F.col("o_orderstatus") == "F")
            & (
                F.col("o_orderdate")
                < F.lit(TT_PURGE_CUT).cast("timestamp_ntz")
            )
        ).select("o_orderkey").write.mode("overwrite").parquet(tomb2)

    with ThreadPoolExecutor(max_workers=2) as pool:
        futures = [pool.submit(_write_deltas), pool.submit(_write_tombstones)]
        for fut in futures:
            fut.result()  # surface any write failure, don't swallow it
    manifests = {
        0: {"deltas": [d0], "tombstones": []},
        1: {"deltas": [d0, d1], "tombstones": []},
        2: {"deltas": [d0, d1, d2], "tombstones": [tomb2]},
    }
    for v, m in manifests.items():
        with open(os.path.join(root, f"manifest_v{v}.json"), "w") as fh:
            json.dump({"version": v, **m}, fh)

    def as_of(v: int) -> DataFrame:
        with open(os.path.join(root, f"manifest_v{v}.json")) as fh:
            m = json.load(fh)
        df = spark.read.parquet(*m["deltas"])
        removed = df
        for t in m["tombstones"]:
            keys = spark.read.parquet(t)
            df = df.join(F.broadcast(keys), "o_orderkey", "left_anti")
        stat = df.agg(
            F.count("*").alias("n_rows"),
            F.sum("price_c").alias("sum_price_c"),
        )
        if m["tombstones"]:
            gone = removed.join(
                F.broadcast(spark.read.parquet(*m["tombstones"])),
                "o_orderkey",
                "left_semi",
            ).agg(F.count("*").alias("n_tombstoned"))
        else:
            gone = spark.range(1).select(
                F.lit(0).cast("bigint").alias("n_tombstoned")
            )
        return stat.crossJoin(gone).select(
            F.lit(v).alias("version"), "n_rows", "sum_price_c", "n_tombstoned"
        )

    out = as_of(0).unionByName(as_of(1)).unionByName(as_of(2))
    return out


# --------------------------------------------------------------------------
# write-audit-publish
# --------------------------------------------------------------------------


def q_sink_write_audit_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-audit-publish — the production sink contract that keeps bad
    batches out of consumer-visible tables: the daily×type rollup lands
    in a STAGING dir; four audits run against the staged read-back (row
    count covers every source day, no null keys, no non-positive counts,
    staged event total reconciles to the source scan); only when all
    pass does the publish step write the consumer manifest + data. The
    result is the audit ledger itself (check, observed value, verdict)
    plus the published row count read back through the manifest — the
    artifact an on-call engineer actually looks at."""
    ev = load_table(spark, sf_dir, "events")
    cand = ev.groupBy(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        "event_type",
    ).agg(
        F.count("*").alias("n"),
        F.sum(cents(F.col("value"))).alias(
            "sum_v_c"
        ),
    )
    (root,) = fresh_dirs("q_sink_write_audit_publish", "zds_wap_")
    n_src = ev.count()
    return _audit_and_publish(spark, cand, n_src, root)


def _audit_and_publish(spark, cand: DataFrame, n_src: int, root: str) -> DataFrame:
    """The stage → audit → publish machinery, factored so the failing
    path is injectable: tests/test_analytics_r5d.py feeds a candidate
    batch with a poisoned key and asserts the WAP CONTRACT — a batch
    that fails any audit leaves NO manifest and NO published data
    (consumer-invisible), while the ledger records the failure."""
    staging = os.path.join(root, "staging")
    publish = os.path.join(root, "published")
    cand.write.mode("overwrite").parquet(staging)
    staged = spark.read.parquet(staging)
    m = staged.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("day").alias("n_days"),
        # coalesce: F.sum over an EMPTY staged batch returns NULL, and the
        # ledger build below casts every observed value with int(o) — the
        # injectable empty-candidate failure must emit a failed ledger row,
        # never crash on a None.
        F.coalesce(
            F.sum(
                (F.col("day").isNull() | F.col("event_type").isNull()).cast(
                    "bigint"
                )
            ),
            F.lit(0),
        ).alias("n_nullkey"),
        F.coalesce(
            F.sum((F.col("n") <= 0).cast("bigint")), F.lit(0)
        ).alias("n_nonpos"),
        F.coalesce(F.sum("n"), F.lit(0)).alias("staged_total"),
    )
    row = m.collect()[0]
    audits = [
        ("1_row_count", row.n_rows, row.n_rows >= row.n_days),
        ("2_null_keys", row.n_nullkey, row.n_nullkey == 0),
        ("3_nonpos_counts", row.n_nonpos, row.n_nonpos == 0),
        (
            "4_reconcile_total",
            (row.staged_total or 0) - n_src,
            row.staged_total == n_src,
        ),
    ]
    if all(p for _, _, p in audits):
        staged.write.mode("overwrite").parquet(publish)
        with open(os.path.join(root, "manifest.json"), "w") as fh:
            json.dump({"published": publish, "audits": "pass"}, fh)
        with open(os.path.join(root, "manifest.json")) as fh:
            published_path = json.load(fh)["published"]
        n_pub = spark.read.parquet(published_path).count()
        audits.append(("5_published_rows", n_pub, True))
    else:
        audits.append(("5_published_rows", 0, False))
    return local_relation(
        spark,
        [(c, int(o), bool(p)) for c, o, p in audits],
        "check_name string, observed bigint, passed boolean",
    )


# --------------------------------------------------------------------------
# statistical process control
# --------------------------------------------------------------------------


def q_dq_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-bar control chart per event type: each day is a subgroup, the
    center line is the pooled mean S/N and the limits are ±3σ/√n_d with
    the pooled population σ — the monitoring chart a data-quality SLA
    dashboard renders. Every moment is an exact cent-grid integer; the
    out-of-control DECISION compares squared deviations ((x̄_d − c)² ·
    n_d · N² > 9·σ²·N² …) entirely in arithmetic both engines perform
    identically on the same exact integers — no sqrt, no tolerance.
    Reports per-type day census, out-of-control day count, and the
    worst day's deviation."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("d")
    ).agg(
        F.count("*").alias("nd"),
        F.sum(cents(F.col("value"))).alias("sd"),
    )
    tot = daily.groupBy("event_type").agg(
        F.sum("nd").alias("n"),
        F.sum("sd").alias("s"),
    )
    # pooled second moment must come from the raw rows, not daily sums
    tot2 = ev.groupBy("event_type").agg(
        F.sum(cents(F.col("value")) * cents(F.col("value"))).alias("ss")
    )
    stats = tot.join(tot2, "event_type")
    j = daily.join(F.broadcast(stats), "event_type")
    nd, sd = F.col("nd").cast("double"), F.col("sd").cast("double")
    n, s, ss = (
        F.col("n").cast("double"),
        F.col("s").cast("double"),
        F.col("ss").cast("double"),
    )
    xbar = sd / nd
    center = s / n
    var = ss / n - center * center  # population variance, exact-int inputs
    dev_sq = (xbar - center) * (xbar - center)
    ooc = dev_sq * nd > F.lit(9.0) * var
    flagged = j.select(
        "event_type",
        "nd",
        ooc.alias("ooc"),
        dev_sq.alias("dev_sq"),
        center.alias("center"),
        var.alias("var"),
    )
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count("*").alias("n_days"),
            F.sum(F.col("ooc").cast("bigint")).alias("n_ooc_days"),
            F.max("dev_sq").alias("max_dev_sq"),
            F.first("center").alias("c"),
            F.first("var").alias("v"),
        )
        .select(
            "event_type",
            "n_days",
            "n_ooc_days",
            g6(F.col("c") / 100).alias("center_line"),
            g6(F.sqrt(F.col("v")) / 100).alias("sigma"),
            g6(F.sqrt(F.col("max_dev_sq")) / 100).alias("max_day_dev"),
        )
    )


QUERIES = {
    "q_cdc_diff": q_cdc_diff,
    "q_scd2_build": q_scd2_build,
    "q_scd2_pit_join": q_scd2_pit_join,
    "q_dq_checks": q_dq_checks,
    "q_dq_benford": q_dq_benford,
    "q_mv_rewrite": q_mv_rewrite,
    "q_report_revenue_bridge": q_report_revenue_bridge,
    "q_dq_daily_health": q_dq_daily_health,
    "q_warehouse_time_travel": q_warehouse_time_travel,
    "q_sink_write_audit_publish": q_sink_write_audit_publish,
    "q_dq_control_chart": q_dq_control_chart,
}

_EVENT_TYPES_SQL = ", ".join(f"'{t}'" for t in EVENT_TYPES)


_PC_SQL = "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"

ORACLE = {
    "q_cdc_diff": f"""
        WITH a AS (
            SELECT o_custkey AS k, count(*) AS n_a,
                   round(sum(o_totalprice), 2) AS s_a
            FROM orders
            WHERE o_orderdate < TIMESTAMP '{CDC_CUT_A}'
              AND o_orderdate >= TIMESTAMP '{CDC_CUT_A}' - INTERVAL 12 MONTH
            GROUP BY o_custkey
        ),
        b AS (
            SELECT o_custkey AS k, count(*) AS n_b,
                   round(sum(o_totalprice), 2) AS s_b
            FROM orders
            WHERE o_orderdate < TIMESTAMP '{CDC_CUT_B}'
              AND o_orderdate >= TIMESTAMP '{CDC_CUT_B}' - INTERVAL 12 MONTH
            GROUP BY o_custkey
        ),
        diff AS (
            SELECT coalesce(a.k, b.k) AS k,
                   CASE WHEN a.k IS NULL THEN 'I'
                        WHEN b.k IS NULL THEN 'D'
                        WHEN a.n_a != b.n_b OR a.s_a != b.s_b THEN 'U'
                   END AS op,
                   coalesce(s_b, 0.0) - coalesce(s_a, 0.0) AS delta
            FROM a FULL OUTER JOIN b ON a.k = b.k
        )
        SELECT op,
               count(*) AS n_customers,
               round(sum(delta), 2) AS spend_delta,
               min(k) AS min_key,
               max(k) AS max_key
        FROM diff WHERE op IS NOT NULL
        GROUP BY op
    """,
    "q_report_revenue_bridge": f"""
        WITH per_cust AS (
            SELECT o_custkey,
                   round(sum(CASE WHEN extract(year FROM o_orderdate)
                                       = {BRIDGE_YEAR_A}
                                  THEN o_totalprice ELSE 0 END), 2) AS rev_a,
                   round(sum(CASE WHEN extract(year FROM o_orderdate)
                                       = {BRIDGE_YEAR_B}
                                  THEN o_totalprice ELSE 0 END), 2) AS rev_b
            FROM orders
            WHERE extract(year FROM o_orderdate)
                      IN ({BRIDGE_YEAR_A}, {BRIDGE_YEAR_B})
            GROUP BY o_custkey
        ),
        classified AS (
            SELECT c.c_mktsegment, p.rev_a, p.rev_b,
                   CASE WHEN p.rev_a = 0 AND p.rev_b > 0 THEN 'new'
                        WHEN p.rev_a > 0 AND p.rev_b = 0 THEN 'churned'
                        WHEN p.rev_b >= p.rev_a THEN 'expanded'
                        ELSE 'contracted' END AS component
            FROM per_cust p JOIN customer c ON p.o_custkey = c.c_custkey
        )
        SELECT c_mktsegment, component,
               count(*) AS n_customers,
               round(sum(rev_b - rev_a), 2) AS delta_rev
        FROM classified
        GROUP BY c_mktsegment, component
    """,
    "q_dq_benford": """
        WITH counts AS (
            SELECT substr(floor(o_totalprice)::BIGINT::VARCHAR, 1, 1)::INT AS d,
                   count(*) AS n
            FROM orders WHERE o_totalprice >= 1
            GROUP BY 1
        ),
        total AS (SELECT sum(n) AS tot FROM counts)
        SELECT d, n,
               round(n * 1.0 / tot, 6) AS share,
               round(log10(1 + 1.0 / d), 6) AS benford_expected,
               round(n * 1.0 / tot - log10(1 + 1.0 / d), 6) AS deviation
        FROM counts CROSS JOIN total
    """,
    "q_scd2_pit_join": """
        WITH dim AS (
            SELECT o_custkey AS d_custkey,
                   o_orderdate AS valid_from,
                   lead(o_orderdate) OVER (PARTITION BY o_custkey
                                           ORDER BY o_orderdate, o_orderkey)
                       AS valid_to,
                   round(o_totalprice, 2) AS state_price
            FROM orders
        ),
        fact AS (
            SELECT l.l_shipdate, o.o_custkey
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        )
        SELECT extract(year FROM f.l_shipdate)::INT AS ship_year,
               count(*) AS n_shipments,
               round(sum(d.state_price), 2) AS sum_state_price,
               sum(CASE WHEN d.valid_to IS NULL AND d.d_custkey IS NOT NULL
                        THEN 1 ELSE 0 END)::BIGINT AS n_on_current,
               sum(CASE WHEN d.d_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT
                   AS n_no_state
        FROM fact f LEFT JOIN dim d
          ON f.o_custkey = d.d_custkey
         AND f.l_shipdate >= d.valid_from
         AND f.l_shipdate < coalesce(d.valid_to, TIMESTAMP '9999-12-31')
        GROUP BY ship_year
    """,
    "q_mv_rewrite": """
        SELECT strftime(date_trunc('month', ts), '%Y-%m') AS month,
               event_type,
               count(*) AS n_events,
               round(sum(value), 2) AS sum_value,
               round(sum(value) / count(*), 6) AS avg_value
        FROM events
        GROUP BY month, event_type
    """,
    "q_scd2_build": """
        SELECT o_custkey, o_orderkey,
               o_orderdate AS valid_from,
               lead(o_orderdate) OVER w AS valid_to,
               CASE WHEN lead(o_orderdate) OVER w IS NULL THEN 1 ELSE 0
               END AS is_current,
               round(o_totalprice, 2) AS state_price
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    "q_dq_checks": f"""
        WITH checks AS (
            SELECT 'orders_pk_unique' AS check_name,
                   (SELECT count(*) - count(DISTINCT o_orderkey) FROM orders)
                   AS n_violations
            UNION ALL
            SELECT 'orders_fk_customer',
                   (SELECT count(*) FROM orders
                    LEFT JOIN customer ON o_custkey = c_custkey
                    WHERE c_custkey IS NULL)
            UNION ALL
            SELECT 'lineitem_discount_range',
                   (SELECT count(*) FROM lineitem
                    WHERE l_discount NOT BETWEEN 0.0 AND 1.0)
            UNION ALL
            SELECT 'lineitem_tax_range',
                   (SELECT count(*) FROM lineitem
                    WHERE l_tax NOT BETWEEN 0.0 AND 1.0)
            UNION ALL
            SELECT 'lineitem_qty_positive',
                   (SELECT count(*) FROM lineitem WHERE l_quantity <= 0)
            UNION ALL
            SELECT 'events_type_enum',
                   (SELECT count(*) FROM events
                    WHERE event_type NOT IN ({_EVENT_TYPES_SQL}))
            UNION ALL
            SELECT 'events_props_not_null',
                   (SELECT count(*) FROM events WHERE props IS NULL)
        )
        SELECT check_name, n_violations,
               CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS passed
        FROM checks
    """,
    "q_dq_daily_health": """
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               count(*) AS n_events,
               count(DISTINCT user_id) AS n_users,
               sum(CASE WHEN value IS NULL OR value = 0
                        THEN 1 ELSE 0 END)::BIGINT AS n_null_or_zero,
               round(avg(CASE WHEN event_type = 'purchase'
                              THEN 1.0 ELSE 0.0 END), 6) AS purchase_share
        FROM events GROUP BY 1
    """,
    "q_warehouse_time_travel": f"""
        WITH pc AS (
            SELECT o_orderkey, o_orderdate, o_orderstatus,
                   {_PC_SQL} AS price_c
            FROM orders
        ),
        tomb AS (
            SELECT o_orderkey FROM pc
            WHERE o_orderstatus = 'F'
              AND o_orderdate < TIMESTAMP '{TT_PURGE_CUT}'
        ),
        v2 AS (
            SELECT * FROM pc
            WHERE o_orderkey NOT IN (SELECT o_orderkey FROM tomb)
        )
        SELECT 0 AS version, count(*)::BIGINT AS n_rows,
               sum(price_c)::BIGINT AS sum_price_c, 0::BIGINT AS n_tombstoned
        FROM pc WHERE o_orderdate < TIMESTAMP '{TT_V1_CUT}'
        UNION ALL
        SELECT 1, count(*)::BIGINT, sum(price_c)::BIGINT, 0::BIGINT
        FROM pc WHERE o_orderdate < TIMESTAMP '{TT_V2_CUT}'
        UNION ALL
        SELECT 2, count(*)::BIGINT, sum(price_c)::BIGINT,
               (SELECT count(*)::BIGINT FROM tomb)
        FROM v2
        ORDER BY version
    """,
    "q_sink_write_audit_publish": """
        WITH cand AS (
            SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                   event_type, count(*)::BIGINT AS n
            FROM events GROUP BY 1, 2
        ),
        m AS (
            SELECT count(*)::BIGINT AS n_rows,
                   count(DISTINCT day)::BIGINT AS n_days,
                   count_if(day IS NULL OR event_type IS NULL)::BIGINT
                       AS n_nullkey,
                   count_if(n <= 0)::BIGINT AS n_nonpos,
                   sum(n)::BIGINT AS staged_total
            FROM cand
        ),
        src AS (SELECT count(*)::BIGINT AS n_src FROM events)
        SELECT '1_row_count' AS check_name, m.n_rows AS observed,
               m.n_rows >= m.n_days AS passed FROM m
        UNION ALL
        SELECT '2_null_keys', n_nullkey, n_nullkey = 0 FROM m
        UNION ALL
        SELECT '3_nonpos_counts', n_nonpos, n_nonpos = 0 FROM m
        UNION ALL
        SELECT '4_reconcile_total', staged_total - n_src,
               staged_total = n_src FROM m, src
        UNION ALL
        SELECT '5_published_rows', n_rows, true FROM m
        ORDER BY check_name
    """,
    "q_dq_control_chart": f"""
        WITH daily AS (
            SELECT event_type, date_trunc('day', ts) AS d,
                   count(*)::BIGINT AS nd,
                   sum({CENTS_SQL.format(x='value')})::BIGINT AS sd
            FROM events GROUP BY 1, 2
        ),
        tot AS (
            SELECT event_type, count(*)::BIGINT AS n,
                   sum({CENTS_SQL.format(x='value')})::BIGINT AS s,
                   sum({CENTS_SQL.format(x='value')}::HUGEINT
                       * {CENTS_SQL.format(x='value')}::HUGEINT) AS ss
            FROM events GROUP BY 1
        ),
        j AS (
            SELECT daily.event_type, nd,
                   (sd::DOUBLE / nd::DOUBLE - s::DOUBLE / n::DOUBLE)
                       * (sd::DOUBLE / nd::DOUBLE - s::DOUBLE / n::DOUBLE)
                       AS dev_sq,
                   s::DOUBLE / n::DOUBLE AS c,
                   ss::DOUBLE / n::DOUBLE
                       - (s::DOUBLE / n::DOUBLE) * (s::DOUBLE / n::DOUBLE)
                       AS v
            FROM daily JOIN tot USING (event_type)
        )
        SELECT event_type, count(*)::BIGINT AS n_days,
               count_if(dev_sq * nd::DOUBLE > 9.0 * v)::BIGINT AS n_ooc_days,
               {G6_SQL.format(x='any_value(c) / 100')} AS center_line,
               {G6_SQL.format(x='sqrt(any_value(v)) / 100')} AS sigma,
               {G6_SQL.format(x='sqrt(max(dev_sq)) / 100')} AS max_day_dev
        FROM j GROUP BY event_type ORDER BY event_type
    """,
}
