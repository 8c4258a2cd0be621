"""Generic relational demonstrations on the TPC-H-ish tables.

The engine's relational substrate (joins, partial+final aggregation,
broadcast selection, top-k) exercised on the driver's star schema.
Arithmetic runs decimal-exact internally, but every OUTPUT money column
is BIGINT cents (floor(sum*100)): DECIMAL columns are banned from the
emitted schema because engine bindings disagree on how to surface them
(pandas coerces DECIMAL->float64) — the reference's own discipline is
integer output domains everywhere (report_modules.py emits
ints/fractions-of-ints).  Semantics: the exact decimal sum is truncated
to cents once, after aggregation — never per row.  Every money sum runs
through ``money`` (the exact long split on codegen longs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from sequali_spark.operators import money
from sequali_spark.sources.tables import load


def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary; exact decimal sums (map-side
    partial agg + final agg, AQE-coalesced)."""
    from sequali_spark.session import spread

    li = load(spark, sf_dir, "lineitem")
    # r9 (two changes, both measured at sf1.0 — 1.065 -> 0.756 s, value-
    # identical by integer-exactness, MATCH-verified + mirror-swept):
    #
    # 1. Spread: lineitem arrives in a handful of row groups (6 at
    #    sf1.0), so the partial aggregation ran 6-wide on 32 cores.
    #    Project to the consumed columns FIRST so the spread exchange
    #    ships only them, hash-spread on the high-cardinality order key
    #    (no-op once row groups >= cores; session.spread).
    # 2. Long-split exact sums (money): the decimal(28,6)/(37,12) sum
    #    buffers fell off Spark's compact-long fast path, and the per-row
    #    decimal adds dominated the stage.
    sel = money.split(
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02")),
        ["l_orderkey", "l_returnflag", "l_linestatus"],
        qty="l_quantity",
        base_price="l_extendedprice",
        disc_price=("l_extendedprice", "l_discount"),
    )
    return (
        spread(sel, key="l_orderkey")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            *money.sums(sel, "qty", "base_price", "disc_price"),
            F.count("*").alias("count_order"),
        )
        .select(
            "l_returnflag", "l_linestatus",
            money.cents(sel, "qty").alias("sum_qty_cents"),
            money.cents(sel, "base_price").alias("sum_base_price_cents"),
            money.cents(sel, "disc_price").alias("sum_disc_price_cents"),
            "count_order",
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def top_unshipped_orders(spark: SparkSession, sf_dir: str, top_n: int = 10) -> DataFrame:
    """TPC-H Q3-style: 3-way join (broadcast dim, shuffled fact) +
    revenue top-k."""
    # r9: revenue via the exact long split (money), computed AFTER
    # the joins+filters, not on the full lineitem side: an earlier
    # variant that pre-projected the components ran the per-row math on
    # every shipdate-filtered row (~3M at sf1.0) instead of the ~290k
    # join survivors and measured 0.55 -> 0.90 s — a regression the
    # interleaved r8/r9 series caught; the doubles ride the join (16 B,
    # as in r8) and only survivors pay the conversion.
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15")
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust.filter(F.col("c_mktsegment") == "BUILDING")), F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("o_orderdate") < F.lit("1995-03-15"))
    )
    sel = money.split(
        joined, ["l_orderkey", "o_orderdate"], revenue=("l_extendedprice", "l_discount")
    )
    return (
        sel.groupBy("l_orderkey", "o_orderdate")
        .agg(*money.sums(sel, "revenue"))
        .select("l_orderkey", "o_orderdate", money.cents(sel, "revenue").alias("revenue_cents"))
        # rank on the emitted integer so both engines cut the same top-k
        .orderBy(F.desc("revenue_cents"), "l_orderkey")
        .limit(top_n)
    )


def order_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-style: semi-join (EXISTS) + priority counts."""
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey").distinct()
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join: customers with no orders, counted per market segment —
    the NOT-EXISTS shape (left_anti in Spark), the complement of the
    semi-join in order_priority_counts."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").select("o_custkey").distinct()
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
        .orderBy("c_mktsegment")
    )


def pricing_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (returnflag, linestatus): subtotals + grand total —
    the OLAP hierarchy-aggregation primitive (module ordering T4's
    priority-map spirit as grouping sets)."""
    # r9: exact long-split quantity sum (money; 1.15 -> 0.58 s at
    # sf1.0, MATCH-verified).  No spread: the rollup's map-side partial
    # aggregation compresses to a handful of rows per task, so the
    # 6-task scan is not the bottleneck (spread measured slightly
    # worse, 0.64 s).
    li = money.split(
        load(spark, sf_dir, "lineitem"), ["l_returnflag", "l_linestatus"], qty="l_quantity"
    )
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("orders"), *money.sums(li, "qty"))
        .select(
            "l_returnflag", "l_linestatus", "orders",
            money.cents(li, "qty").alias("sum_qty_cents"),
        )
        .orderBy(
            F.asc_nulls_first("l_returnflag"), F.asc_nulls_first("l_linestatus")
        )
    )


def region_revenue(spark: SparkSession, sf_dir: str, region: str = "ASIA") -> DataFrame:
    """TPC-H Q5-style six-table join: local-supplier revenue per nation
    within a region and date window — the deep star-join shape.
    lineitem/orders/customer/supplier co-shuffle (supplier scales with
    SF, so it gets NO broadcast hint — AQE picks broadcast while it fits
    and degrades to shuffle join at scale); nation/region are true
    fixed-size dims and broadcast explicitly.  Revenue emitted as BIGINT
    cents."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    supp = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    reg = load(spark, sf_dir, "region")
    # r9: exact long-split revenue sum (money), computed on the
    # JOIN SURVIVORS, as in top_unshipped_orders: only ~1/125 of
    # lineitem reaches this projection (one region, local-supplier
    # match, one order year), so the doubles ride the joins and the
    # split costs ~nothing; the decimal(37,12) sum buffer it replaces
    # was the per-group hot loop.
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        # "local supplier": the customer's nation == the supplier's nation
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .join(F.broadcast(reg.filter(F.col("r_name") == region)), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(
            (F.col("o_orderdate") >= F.lit("1994-01-01"))
            & (F.col("o_orderdate") < F.lit("1995-01-01"))
        )
    )
    sel = money.split(joined, ["n_name"], revenue=("l_extendedprice", "l_discount"))
    return (
        sel.groupBy("n_name")
        .agg(*money.sums(sel, "revenue"))
        .select("n_name", money.cents(sel, "revenue").alias("revenue_cents"))
        .orderBy(F.desc("revenue_cents"), "n_name")
    )


def part_type_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-style: per part-type revenue share of a date-windowed
    month — fact-to-dimension join (part broadcasts while it fits; AQE
    decides, no hint — p_partkey cardinality scales with SF) +
    conditional share-of-total.  Revenue in BIGINT cents; share in
    integer bps via pure integer division.  Overflow discipline (no
    silent wrap): the share's operands are guarded — both engines emit
    NULL identically when 10000*revenue_cents or the decimal-domain
    total would leave int64, instead of Spark wrapping while DuckDB
    raises."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    # r9: exact long-split revenue sum (money) on the join survivors
    # (one month of lineitem).  The downstream share-of-total window
    # reads only the emitted revenue_cents.
    sel = money.split(
        li.filter(
            (F.col("l_shipdate") >= F.lit("1995-09-01"))
            & (F.col("l_shipdate") < F.lit("1995-10-01"))
        ).join(part, li.l_partkey == part.p_partkey),
        ["p_type"],
        revenue=("l_extendedprice", "l_discount"),
    )
    per_type = (
        sel.groupBy("p_type")
        .agg(F.count("*").alias("line_items"), *money.sums(sel, "revenue"))
        .select("p_type", "line_items", money.cents(sel, "revenue").alias("revenue_cents"))
    )
    i64 = 9223372036854775807
    # global window over the PER-PART-TYPE aggregate (~150 rows) — the
    # single-partition exchange is safe only because the frame is an
    # aggregate, never row-level data
    total_dec = F.sum(F.col("revenue_cents").cast("decimal(19,0)")).over(W.partitionBy())
    share = F.when(
        F.col("revenue_cents") <= F.lit(i64 // 10000),
        F.expr("(10000 * revenue_cents) DIV _total"),
    )
    return (
        per_type.withColumn("_total_dec", total_dec)
        .withColumn(
            "_total",
            F.when(F.col("_total_dec") <= F.lit(i64), F.col("_total_dec").cast("long")),
        )
        .select(
            "p_type",
            "line_items",
            "revenue_cents",
            share.alias("revenue_share_bps"),
        )
        .orderBy("p_type")
    )


def value_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (range) join: classify events into value bands via a
    broadcast BETWEEN join — the theta-join shape (Catalyst picks
    BroadcastNestedLoopJoin for the tiny band table)."""
    e = load(spark, sf_dir, "events")
    bands = spark.createDataFrame(
        [("low", 0.0, 10.0), ("mid", 10.0, 100.0), ("high", 100.0, 1e9)],
        schema="band string, lo double, hi double",
    )
    joined = e.join(
        F.broadcast(bands), (e.value >= bands.lo) & (e.value < bands.hi), "inner"
    )
    # r9: exact long-split value sum (money), computed after the
    # BroadcastNestedLoopJoin so the stream side ships only (value) and
    # the band predicates see the raw double.
    sel = money.split(joined, ["band"], value="value")
    return (
        sel.groupBy("band")
        .agg(F.count("*").alias("events"), *money.sums(sel, "value"))
        .select("band", "events", money.cents(sel, "value").alias("value_sum_cents"))
        .orderBy("band")
    )
