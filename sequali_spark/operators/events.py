"""Event-time analytics over the events table.

The NanoStats/time-series lineage (reference: report_modules.py:1951-2045
buckets reads into time slots with per-slot aggregates and distinct
channels) expressed as tumbling-window groupBys, window-function
cumulatives (A20's cumsum pattern), and gap-based sessionization.
Exact value sums (integer cents) run through ``money``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from sequali_spark.operators import money
from sequali_spark.sources.tables import load


def hourly_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-hour: events, distinct users, exact value sum in integer
    cents — the A17 time-slot report (distinct users ≙ distinct
    channels)."""
    from sequali_spark.session import spread

    # r9 (three changes, value-identical, mirror-swept):
    # 1. Spread: the events table is one parquet row group, so the whole
    #    map side ran on one core (no-op at production row-group counts).
    # 2. The countDistinct was planned as an Expand (every row duplicated
    #    per aggregate branch) — replaced by a two-level aggregation:
    #    partial sums per (hour, user), then per hour where distinct
    #    users = count of non-null user rows.  Exactly countDistinct's
    #    semantics (NULL users are not counted; rows still count toward
    #    `events` via the summed per-user counts).
    # 3. Long-split exact value sum (money), exact across both levels.
    e = spread(load(spark, sf_dir, "events"), key="event_id")
    sel = money.split(e, ["date_trunc('hour', ts) as hour", "user_id"], value="value")
    per_user = sel.groupBy("hour", "user_id").agg(
        F.count("*").alias("cnt"), *money.sums(sel, "value")
    )
    return (
        per_user.groupBy("hour")
        .agg(
            F.sum("cnt").alias("events"),
            F.count("user_id").alias("distinct_users"),
            *money.sums(sel, "value"),
        )
        .select("hour", "events", "distinct_users", money.cents(sel, "value").alias("value_sum_cents"))
        .orderBy("hour")
    )


def event_type_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r9: same three changes as hourly_report (spread + two-level
    # aggregation instead of the countDistinct Expand + long-split
    # value sum); value-identical, mirror-swept
    from sequali_spark.session import spread

    e = spread(load(spark, sf_dir, "events"), key="event_id")
    sel = money.split(e, ["event_type", "user_id"], value="value")
    per_user = sel.groupBy("event_type", "user_id").agg(
        F.count("*").alias("cnt"), *money.sums(sel, "value")
    )
    return (
        per_user.groupBy("event_type")
        .agg(
            F.sum("cnt").alias("events"),
            F.count("user_id").alias("distinct_users"),
            *money.sums(sel, "value"),
        )
        .select("event_type", "events", "distinct_users", money.cents(sel, "value").alias("value_sum_cents"))
        .orderBy("event_type")
    )


def daily_cumulative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type daily counts + running cumulative — the AdapterContent
    cumulative-curve pattern A20 (reference: report_modules.py:1438-1475)."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count("*").alias("events"))
    w = W.partitionBy("event_type").orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    return daily.select(
        "event_type", "day", "events", F.sum("events").over(w).alias("cum_events")
    ).orderBy("event_type", "day")


def sessionize(spark: SparkSession, sf_dir: str, gap_minutes: int = 30) -> DataFrame:
    """Gap-based sessionization per user: a new session starts when the
    gap to the previous event exceeds the threshold; returns per-user
    session counts + max session length.  lag + cumulative-sum-of-starts
    — the standard Spark sessionization idiom (stateful streaming
    version lives in streaming/)."""
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    starts = F.when(gap.isNull() | (gap > gap_minutes * 60), 1).otherwise(0)
    sess = e.select(
        "user_id",
        "ts",
        F.sum(starts).over(w.rowsBetween(W.unboundedPreceding, W.currentRow)).alias("session_id"),
    )
    per_session = sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("session_events")
    )
    return (
        per_session.groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.max("session_events").alias("max_session_events"),
            F.sum("session_events").alias("total_events"),
        )
        .orderBy("user_id")
    )


def top_users_by_value(spark: SparkSession, sf_dir: str, top_n: int = 25) -> DataFrame:
    """Top-N users by exact value sum in integer cents (T1 sort/limit
    pattern).  Ordering is on the emitted cents column so both engines
    rank by the identical integer key (floor ties broken by user_id the
    same way on both sides)."""
    # r9: long-split value sum (money); no distinct here so a single
    # two-phase groupBy suffices.  NOT spread: the 15k-group map-side
    # partial agg is cheap and the spread exchange measured as a net
    # tax (ABAB 0.59/0.60 s unspread-r8 vs 0.72/0.74 s spread)
    sel = money.split(load(spark, sf_dir, "events"), ["user_id"], value="value")
    return (
        sel.groupBy("user_id")
        .agg(*money.sums(sel, "value"), F.count("*").alias("events"))
        .select("user_id", money.cents(sel, "value").alias("value_sum_cents"), "events")
        .orderBy(F.desc("value_sum_cents"), "user_id")
        .limit(top_n)
    )


# the events table's closed event-type vocabulary (TESTDATA.md); a
# static list keeps the pivot builder free of driver round-trips — at
# scale a collected distinct() would be a blocking job per query build
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def event_type_hourly_pivot(
    spark: SparkSession, sf_dir: str, event_types: tuple[str, ...] = EVENT_TYPES
) -> DataFrame:
    """Per-day event-type pivot — the quality-bin pivot of A17 (per-slot
    12-bin quality distribution) as conditional aggregation.  Pivot
    columns come from an explicit vocabulary (caller-supplied for open
    vocabularies), never a driver-side distinct() collect in the build
    path.  ``n_other`` is the drift canary: an event type absent from
    the vocabulary lands there instead of silently vanishing from the
    report, so vocabulary drift is visible on both engines."""
    if not event_types:
        raise ValueError("event_types vocabulary must be non-empty")
    if "other" in event_types:
        raise ValueError(
            "'other' collides with the n_other drift column; rename the "
            "vocabulary entry or the canary"
        )
    e = load(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts").alias("day")
    aggs = [
        F.sum((F.col("event_type") == t).cast("long")).alias(f"n_{t}")
        for t in event_types
    ]
    # NULL is drift too: coalesce the membership test so a null type
    # counts in n_other on both engines (SQL NOT IN yields NULL for NULL)
    aggs.append(
        F.sum(
            (~F.coalesce(F.col("event_type").isin(*event_types), F.lit(False))).cast("long")
        ).alias("n_other")
    )
    return e.groupBy(day).agg(*aggs).orderBy("day")


def asof_last_click_before_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join: each error event matched to the same user's most
    recent click at-or-before it — a custom operator Spark lacks
    natively, expressed as the union+ordered-window composition (the
    (a)-tier strategy of SURVEY's custom-operator ladder: plain
    DataFrame ops, no UDF):

      union(tagged left, tagged right)
        -> window last_value(right_ts, ignorenulls) over
           (partition by key order by ts, right-before-left rows
            unbounded preceding..current)
        -> keep left rows.

    One shuffle on the join key; both sides sorted once — the same cost
    shape as a sort-merge join, which is exactly what an as-of join is.
    """
    e = load(spark, sf_dir, "events")
    errors = e.filter(F.col("event_type") == "error").select(
        "user_id", "ts", "event_id", F.lit(None).cast("timestamp").alias("click_ts"),
        F.lit(1).alias("is_left"),
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.lit(None).cast("long").alias("event_id"),
        F.col("ts").alias("click_ts"), F.lit(0).alias("is_left"),
    )
    tagged = errors.unionByName(clicks)
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "is_left")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        tagged.withColumn("asof_click_ts", F.last("click_ts", ignorenulls=True).over(w))
        .filter(F.col("is_left") == 1)
        .select("event_id", "user_id", "ts", F.col("asof_click_ts").alias("click_ts"))
        .orderBy("event_id")
    )


def props_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column handling: extract a typed field from the
    JSON props column JVM-side (get_json_object) and aggregate — the
    typed-tag-accessor pattern of the reference's BAM tags
    (P10, _qcmodule.c:5054-5140) over JSON instead of binary tags."""
    e = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        e.select("event_type", k.alias("k"))
        .filter(F.col("k").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count("*").alias("events"),
            F.sum("k").alias("k_sum"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
        )
        .orderBy("event_type")
    )


def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup -> purchase funnel: per signed-up user, the first purchase
    at-or-after the first signup, conversion flag and latency — the
    event-sequence join shape (first-match semantics, A6's
    first-occurrence spirit on the time axis)."""
    e = load(spark, sf_dir, "events")
    signups = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_signup"))
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    conv = (
        signups.join(
            purchases,
            (F.col("user_id") == F.col("p_user")) & (F.col("p_ts") >= F.col("first_signup")),
            "left",
        )
        .groupBy("user_id", "first_signup")
        .agg(F.min("p_ts").alias("first_purchase"))
    )
    return conv.select(
        "user_id",
        "first_signup",
        "first_purchase",
        F.col("first_purchase").isNotNull().alias("converted"),
        (
            F.unix_timestamp("first_purchase") - F.unix_timestamp("first_signup")
        ).alias("secs_to_convert"),
    ).orderBy("user_id")


def retention_cohorts(spark: SparkSession, sf_dir: str, max_offset: int = 7) -> DataFrame:
    """Cohort retention: users grouped by first-activity day, distinct
    active users at each day offset — the standard engagement rollup
    (one distinct-projection, one shuffle on user, one small groupBy)."""
    e = load(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts")
    activity = e.select("user_id", day.alias("day")).distinct()
    first_day = activity.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    joined = activity.join(first_day, "user_id").select(
        "user_id",
        "cohort_day",
        F.datediff(F.to_date("day"), F.to_date("cohort_day")).cast("long").alias("day_offset"),
    )
    return (
        joined.filter(F.col("day_offset") <= max_offset)
        .groupBy("cohort_day", "day_offset")
        .agg(F.countDistinct("user_id").alias("active_users"))
        .orderBy("cohort_day", "day_offset")
    )


def value_percentiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-type value percentiles in integer cents via the
    histogram-walk (never a sketch — the reference's percentile
    discipline, report_modules.py:596-619, on a continuous column):
    bucket to cents -> per-(type, cents) counts -> cumulative walk over
    the small histogram -> smallest cents value reaching ceil(p% of n)."""
    e = load(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100).cast("long")
    hist = (
        e.select("event_type", cents.alias("cents"))
        .groupBy("event_type", "cents")
        .agg(F.count("*").alias("n"))
    )
    w = W.partitionBy("event_type").orderBy("cents").rowsBetween(W.unboundedPreceding, W.currentRow)
    total = W.partitionBy("event_type")
    marks = hist.select(
        "event_type",
        "cents",
        F.sum("n").over(w).alias("cum"),
        F.sum("n").over(total).alias("total"),
    )
    agg_cols = [
        F.min(
            F.when(F.col("cum") >= F.ceil(F.col("total") * p / 100), F.col("cents"))
        ).alias(f"p{p}_cents")
        for p in (50, 95, 99)
    ]
    return marks.groupBy("event_type").agg(*agg_cols).orderBy("event_type")


def hourly_anomaly(
    spark: SparkSession,
    sf_dir: str,
    k: int = 3,
    window: int = 24,
    min_slots: int = 12,
) -> DataFrame:
    """Per-(type, hour) spike detection against the trailing ``window``
    hours — the A19 deviation-flag pattern on the time axis, as an
    ingestion-health monitor.  The k-sigma test runs ENTIRELY in integer
    arithmetic so both engines agree bit-for-bit: with trailing count n,
    sum S, sum-of-squares Sq,

        |x - mean| > k*sigma  <=>  (n*x - S)^2 > k^2 * (n*Sq - S^2)

    (both sides multiplied by n^2) — no float mean/stddev anywhere.
    The squares evaluate in DECIMAL(38,0); the k^2 factor is a
    DECIMAL(1,0) literal so the product stays inside decimal width 38
    on both engines (domain: |n*x - S| < 1e19, i.e. trailing windows of
    hourly counts up to ~4e17 — beyond any real ingestion rate).
    is_spike is NULL until ``min_slots`` trailing hours exist."""
    e = load(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count("*").alias("events"))
    fr = (
        W.partitionBy("event_type").orderBy("hour").rowsBetween(-window, -1)
    )
    stats = hourly.select(
        "event_type",
        "hour",
        "events",
        F.count("*").over(fr).alias("trailing_slots"),
        # sum over an EMPTY frame is NULL — pin to 0 like the oracle
        F.coalesce(F.sum("events").over(fr), F.lit(0)).alias("trailing_events"),
        F.coalesce(F.sum(F.col("events") * F.col("events")).over(fr), F.lit(0)).alias("_sq"),
    )
    d19 = "decimal(19,0)"
    kk = k * k
    p = len(str(kk))  # k^2 literal width; var_term shrinks to keep <=38
    lhs = (
        F.col("trailing_slots").cast(d19) * F.col("events").cast(d19)
        - F.col("trailing_events").cast(d19)
    ).cast(d19)
    var_term = (
        F.col("trailing_slots").cast(d19) * F.col("_sq").cast(d19)
        - F.col("trailing_events").cast(d19) * F.col("trailing_events").cast(d19)
    ).cast(f"decimal({38 - p},0)")
    spike = (lhs * lhs) > (F.lit(kk).cast(f"decimal({p},0)") * var_term)
    return stats.select(
        "event_type",
        "hour",
        "events",
        "trailing_slots",
        "trailing_events",
        F.when(F.col("trailing_slots") >= min_slots, spike).alias("is_spike"),
    ).orderBy("event_type", "hour")


def inter_event_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event gap statistics (lead/lag window over the
    event stream): events, mean/max gap seconds — the arrival-cadence
    report (translocation-speed histogram spirit, A17)."""
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    gaps = e.select("user_id", gap.alias("gap_s")).filter(F.col("gap_s").isNotNull())
    return (
        gaps.groupBy("user_id")
        .agg(
            F.count("*").alias("gaps"),
            F.floor(F.avg("gap_s")).cast("long").alias("mean_gap_s"),
            F.max("gap_s").alias("max_gap_s"),
        )
        .orderBy("user_id")
    )
