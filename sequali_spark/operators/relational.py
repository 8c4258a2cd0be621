"""Generic relational demonstrations on the TPC-H-ish tables.

The engine's relational substrate (joins, partial+final aggregation,
broadcast selection, top-k) exercised on the driver's star schema.
Arithmetic runs decimal-exact internally, but every OUTPUT money column
is BIGINT cents (floor(sum*100)): DECIMAL columns are banned from the
emitted schema because engine bindings disagree on how to surface them
(pandas coerces DECIMAL->float64) — the reference's own discipline is
integer output domains everywhere (report_modules.py emits
ints/fractions-of-ints).  Semantics: the exact decimal sum is truncated
to cents once, after aggregation — never per row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from sequali_spark.operators.textqc import load


def _cents(dec_sum: F.Column) -> F.Column:
    """Exact decimal aggregate -> BIGINT cents.  The cast to
    decimal(30,s) before *100 keeps the multiply inside decimal range on
    both engines (a precision-38 operand would spill the product to
    double on DuckDB and truncate scale on Spark).

    r9: retained as the REFERENCE formulation (it is what oracle_sql
    still computes) — the Spark query paths now use the exact long-split
    component sums from pricing_summary, which are numerically identical
    (collect-compare + DuckDB mirror) and stay on codegen longs."""
    return F.floor(dec_sum.cast("decimal(30,6)") * 100).cast("long")


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
    # 2. Long-split exact sums: the decimal(28,6)/(37,12) sum buffers
    #    fall off Spark's compact-long fast path, and the per-row
    #    decimal adds dominated the stage.  Each value is converted ONCE
    #    to exact integer micro-units via the same decimal(18,6) cast
    #    the old path used (so rounding is bit-identical), then split
    #    into (whole units, non-negative sub-unit remainder) component
    #    sums — plain codegen long sums.  floor(sum*100) is recomposed
    #    from the components with pure integer arithmetic; the
    #    derivation and the per-group overflow bound (~1e12 rows/group
    #    under ANSI's loud addExact, vs silent BigDecimal before) are in
    #    OPTIMIZATION_r09.md.  pmod keeps remainders in [0, scale) so
    #    the recomposition is floor-exact for either sign.
    # NOTE: `div` (integer division), never `/` — long `/` is double
    # division in Spark and loses exactness past 2^53 (v12 reaches 1e17).
    sel = (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .selectExpr(
            "l_orderkey", "l_returnflag", "l_linestatus",
            "cast(cast(l_quantity as decimal(18,6)) * 1000000 as long) as q6",
            "cast(cast(l_extendedprice as decimal(18,6)) * 1000000 as long) as p6",
            "cast(cast(l_discount as decimal(18,6)) * 1000000 as long) as d6",
        )
        .selectExpr(
            "l_orderkey", "l_returnflag", "l_linestatus",
            "q6", "p6", "p6 * (1000000 - d6) as v12",
        )
        .selectExpr(
            "l_orderkey", "l_returnflag", "l_linestatus",
            "(q6 - pmod(q6, 1000000)) div 1000000 as qu", "pmod(q6, 1000000) as qr",
            "(p6 - pmod(p6, 1000000)) div 1000000 as pu", "pmod(p6, 1000000) as pr",
            "((v12 - pmod(v12, 1000000)) div 1000000 - pmod((v12 - pmod(v12, 1000000)) div 1000000, 1000000)) div 1000000 as du",
            "pmod((v12 - pmod(v12, 1000000)) div 1000000, 1000000) as dm",
            "pmod(v12, 1000000) as dr",
        )
    )
    return (
        spread(sel, key="l_orderkey")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("qu").alias("squ"), F.sum("qr").alias("sqr"),
            F.sum("pu").alias("spu"), F.sum("pr").alias("spr"),
            F.sum("du").alias("sdu"), F.sum("dm").alias("sdm"), F.sum("dr").alias("sdr"),
            F.count("*").alias("count_order"),
        )
        .selectExpr(
            "l_returnflag", "l_linestatus",
            "squ * 100 + sqr div 10000 as sum_qty_cents",
            "spu * 100 + spr div 10000 as sum_base_price_cents",
            "sdu * 100 + (sdm + sdr div 1000000) div 10000 as sum_disc_price_cents",
            "count_order",
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def top_unshipped_orders(spark: SparkSession, sf_dir: str, top_n: int = 10) -> DataFrame:
    """TPC-H Q3-style: 3-way join (broadcast dim, shuffled fact) +
    revenue top-k."""
    # r9: revenue via the exact long-split component sums (same
    # derivation + per-row decimal cast as pricing_summary, so the
    # emitted cents are bit-identical).  The split is computed AFTER
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
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust.filter(F.col("c_mktsegment") == "BUILDING")), F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("o_orderdate") < F.lit("1995-03-15"))
        .selectExpr(
            "l_orderkey", "o_orderdate",
            "cast(cast(l_extendedprice as decimal(18,6)) * 1000000 as long) as p6",
            "cast(cast(l_discount as decimal(18,6)) * 1000000 as long) as d6",
        )
        .selectExpr(
            "l_orderkey", "o_orderdate", "p6 * (1000000 - d6) as v12"
        )
        .selectExpr(
            "l_orderkey", "o_orderdate",
            "((v12 - pmod(v12, 1000000)) div 1000000 - pmod((v12 - pmod(v12, 1000000)) div 1000000, 1000000)) div 1000000 as du",
            "pmod((v12 - pmod(v12, 1000000)) div 1000000, 1000000) as dm",
            "pmod(v12, 1000000) as dr",
        )
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.sum("du").alias("sdu"), F.sum("dm").alias("sdm"), F.sum("dr").alias("sdr")
        )
        .selectExpr(
            "l_orderkey", "o_orderdate",
            "sdu * 100 + (sdm + sdr div 1000000) div 10000 as revenue_cents",
        )
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
    # r9: exact long-split quantity sum (same recipe + derivation as
    # pricing_summary; 1.15 -> 0.58 s at sf1.0, MATCH-verified).  No
    # spread: the rollup's map-side partial aggregation compresses to a
    # handful of rows per task, so the 6-task scan is not the bottleneck
    # (spread measured slightly worse, 0.64 s).
    li = load(spark, sf_dir, "lineitem").selectExpr(
        "l_returnflag", "l_linestatus",
        "cast(cast(l_quantity as decimal(18,6)) * 1000000 as long) as q6",
    ).selectExpr(
        "l_returnflag", "l_linestatus",
        "(q6 - pmod(q6, 1000000)) div 1000000 as qu", "pmod(q6, 1000000) as qr",
    )
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("orders"),
            F.sum("qu").alias("squ"),
            F.sum("qr").alias("sqr"),
        )
        .selectExpr(
            "l_returnflag", "l_linestatus", "orders",
            "squ * 100 + sqr div 10000 as sum_qty_cents",
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
    # r9: exact long-split revenue sum (same derivation + per-row
    # decimal(18,6) cast as pricing_summary, so the emitted cents are
    # bit-identical — MATCH-verified + mirror-swept).  Computed on the
    # JOIN SURVIVORS, as in top_unshipped_orders: only ~1/125 of
    # lineitem reaches this projection (one region, local-supplier
    # match, one order year), so the doubles ride the joins and the
    # split costs ~nothing; the decimal(37,12) sum buffer it replaces
    # was the per-group hot loop.
    return (
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
        .selectExpr(
            "n_name",
            "cast(cast(l_extendedprice as decimal(18,6)) * 1000000 as long) as p6",
            "cast(cast(l_discount as decimal(18,6)) * 1000000 as long) as d6",
        )
        .selectExpr("n_name", "p6 * (1000000 - d6) as v12")
        .selectExpr(
            "n_name",
            "((v12 - pmod(v12, 1000000)) div 1000000 - pmod((v12 - pmod(v12, 1000000)) div 1000000, 1000000)) div 1000000 as du",
            "pmod((v12 - pmod(v12, 1000000)) div 1000000, 1000000) as dm",
            "pmod(v12, 1000000) as dr",
        )
        .groupBy("n_name")
        .agg(F.sum("du").alias("sdu"), F.sum("dm").alias("sdm"), F.sum("dr").alias("sdr"))
        .selectExpr(
            "n_name",
            "sdu * 100 + (sdm + sdr div 1000000) div 10000 as revenue_cents",
        )
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
    # r9: exact long-split revenue sum on the join survivors (one month
    # of lineitem — same recipe/derivation as pricing_summary, cents
    # bit-identical; MATCH-verified + mirror-swept).  The downstream
    # share-of-total window reads only the emitted revenue_cents, which
    # is unchanged by construction.
    per_type = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1995-09-01"))
            & (F.col("l_shipdate") < F.lit("1995-10-01"))
        )
        .join(part, li.l_partkey == part.p_partkey)
        .selectExpr(
            "p_type",
            "cast(cast(l_extendedprice as decimal(18,6)) * 1000000 as long) as p6",
            "cast(cast(l_discount as decimal(18,6)) * 1000000 as long) as d6",
        )
        .selectExpr("p_type", "p6 * (1000000 - d6) as v12")
        .selectExpr(
            "p_type",
            "((v12 - pmod(v12, 1000000)) div 1000000 - pmod((v12 - pmod(v12, 1000000)) div 1000000, 1000000)) div 1000000 as du",
            "pmod((v12 - pmod(v12, 1000000)) div 1000000, 1000000) as dm",
            "pmod(v12, 1000000) as dr",
        )
        .groupBy("p_type")
        .agg(
            F.count("*").alias("line_items"),
            F.sum("du").alias("sdu"), F.sum("dm").alias("sdm"), F.sum("dr").alias("sdr"),
        )
        .selectExpr(
            "p_type",
            "line_items",
            "sdu * 100 + (sdm + sdr div 1000000) div 10000 as revenue_cents",
        )
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
    # r9: exact long-split value sum (scale-6 recipe from
    # pricing_summary: same per-row decimal(18,6) cast, so cents are
    # bit-identical; MATCH-verified + mirror-swept).  Computed after the
    # BroadcastNestedLoopJoin so the stream side ships only (value) and
    # the band predicates see the raw double.
    return (
        joined.selectExpr(
            "band",
            "cast(cast(value as decimal(18,6)) * 1000000 as long) as v6",
        )
        .selectExpr(
            "band",
            "(v6 - pmod(v6, 1000000)) div 1000000 as vu", "pmod(v6, 1000000) as vr",
        )
        .groupBy("band")
        .agg(
            F.count("*").alias("events"),
            F.sum("vu").alias("svu"), F.sum("vr").alias("svr"),
        )
        .selectExpr(
            "band", "events",
            "svu * 100 + svr div 10000 as value_sum_cents",
        )
        .orderBy("band")
    )
