"""Corpus-level aggregate reports over the metric DataFrame.

These are the Spark transplants of sequali's report modules
(reference: src/sequali/report_modules.py) — every one a relational
groupBy/window off the single metric stage's columns, so the whole
report battery costs one scan plus cheap shuffles of already-tiny
aggregates.  Catalyst handles partial+final aggregation (the analogue
of sequali's uint16-staging -> uint64-flush two-level scheme,
reference: _qcmodule.c:1908-1963).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def host_col() -> F.Column:
    """Host extracted from url — plays the role of the Illumina tile id
    (reference: _qcmodule.c:3088-3121 parses tile from the read header)."""
    return F.parse_url(F.col("url"), F.lit("HOST")).alias("host")


def corpus_counters(metric_df: DataFrame) -> DataFrame:
    """docs seen/kept/scrubbed + total bytes — the Summary analogue
    (reference: report_modules.py:2537-2604). One row."""
    return metric_df.agg(
        F.count("*").alias("docs_seen"),
        F.sum(F.col("keep").cast("long")).alias("docs_kept"),
        F.sum(((F.col("pii_hits") > 0) | (F.col("tox_hits") > 0)).cast("long")).alias(
            "docs_scrubbed"
        ),
        F.sum("n_bytes").alias("total_bytes"),
        F.sum("n_words").alias("total_words"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


def rule_hit_counts(metric_df: DataFrame) -> DataFrame:
    """Per-rule firing counts (explode the drop_reasons array)."""
    return (
        metric_df.select(F.explode("drop_reasons").alias("rule"))
        .groupBy("rule")
        .agg(F.count("*").alias("hits"))
        .orderBy(F.desc("hits"), "rule")
    )


def lang_histogram(metric_df: DataFrame) -> DataFrame:
    return (
        metric_df.groupBy(F.col("lang_pred").alias("lang"))
        .agg(F.count("*").alias("docs"))
        .orderBy(F.desc("docs"), "lang")
    )


def duplication_histogram(metric_df: DataFrame) -> DataFrame:
    """Counter-of-counters over dedup fingerprints — DuplicationCounts
    (reference: report_modules.py:1737-1756 builds Counter(counts);
    DedupEstimator finalize _qcmodule.c:4712-4750).

    Two shuffles on shrinking data: fingerprint -> count, count -> n.
    At 10^12-doc scale the first groupBy keys on a 63-bit hash, which
    distributes uniformly; a deterministic pre-filter
    ``pmod(fingerprint, 2^b) == 0`` bounds it (the fixed-modulo re-spec
    of the reference's adaptive subsampling, _qcmodule.c:4382-4423).
    """
    fp_counts = metric_df.groupBy("fingerprint").agg(F.count("*").alias("dup_count"))
    return (
        fp_counts.groupBy("dup_count")
        .agg(F.count("*").alias("n_fingerprints"))
        .orderBy("dup_count")
    )


def estimated_unique_fraction(metric_df: DataFrame) -> DataFrame:
    fp_counts = metric_df.groupBy("fingerprint").agg(F.count("*").alias("c"))
    return fp_counts.agg(
        (F.count("*") / F.sum("c")).alias("unique_fraction"),
        F.count("*").alias("unique_fingerprints"),
        F.sum("c").alias("docs_total"),
    )


def overrepresented_shingles(metric_df: DataFrame, min_count: int = 3, top_k: int = 100) -> DataFrame:
    """Global overrepresented-fragment table — OverrepresentedSequences
    finalize (reference: _qcmodule.c:4091-4180: threshold + sort desc).
    Within-doc distinct already applied by the kernel; sampling is the
    deterministic 1-in-8 url-hash mask.  Unbounded exact groupBy replaces
    the reference's insert-capped table (SURVEY.md §4 'semantic' row):
    exact and a superset, invariant to arrival order.
    """
    return (
        metric_df.select(F.explode("shingles").alias("shingle"))
        .groupBy("shingle")
        .agg(F.count("*").alias("count"))
        .filter(F.col("count") >= min_count)
        .orderBy(F.desc("count"), "shingle")
        .limit(top_k)
    )


def identify_overrepresented(
    overrep: DataFrame, boilerplate: DataFrame, retry_ks: tuple[int, ...] = (21, 13, 9)
) -> DataFrame:
    """Match overrepresented shingles against a known-boilerplate DB —
    the broadcast-lookup join J2 (reference:
    sequence_identification.py:88-181 ranks contaminant candidates by
    shared k-mers, retrying with smaller k (13 -> 11 -> 9) when nothing
    hits).  Here: containment of progressively shorter shingle prefixes,
    best (longest-k, then name) match per shingle via row_number.

    boilerplate: (name string, content string) — small, broadcast.

    ``overrep`` (the corpus-wide shingle explode + groupBy, top_k-
    limited) is referenced EXACTLY ONCE in the plan (code-review r6):
    instead of one join per retry tier unioned — which embeds the
    corpus agg in every branch, and AQE materializes union branches as
    concurrent jobs without exchange reuse (the failure mode measured
    in the connected_components audit) — the tier ladder itself is the
    broadcast side: boilerplate × retry_ks exploded to (name, content,
    tier, k) rows, one LEFT join against it, best match per shingle by
    (tier, name) with nulls last so unmatched shingles keep their null
    row.  Identical output, one corpus pass, no eager materialization
    at query-construction time."""
    # tiny×tiny expansion: |boilerplate| × |retry_ks| rows, the k-table
    # a driver-known literal — broadcast it so the plan is a
    # BroadcastNestedLoopJoin (the allowed tiny-theta-join shape), never
    # a CartesianProduct (plan-sweep-forbidden)
    bp_tiers = boilerplate.crossJoin(
        F.broadcast(
            boilerplate.sparkSession.createDataFrame(
                [(p, k) for p, k in enumerate(retry_ks)], "tier int, k int"
            )
        )
    )
    probe = F.col("shingle").substr(F.lit(1), F.col("k"))
    matched = overrep.join(
        F.broadcast(bp_tiers), F.col("content").contains(probe), "left"
    )
    w = W.partitionBy("shingle").orderBy(
        F.col("tier").asc_nulls_last(), F.col("name").asc_nulls_last()
    )
    # identity-scoring tier (the Smith-Waterman-identity analogue,
    # reference _seqidentmodule.c:20-370 ranks candidates by alignment
    # identity after the k-mer screen): fraction of the shingle's
    # overlapping 4-grams contained in the matched boilerplate, in bps —
    # cheap, deterministic, and ANSI-SQL-expressible on both engines
    n_grams = F.greatest(F.length("shingle") - 3, F.lit(1))
    grams = F.transform(
        F.sequence(F.lit(1), n_grams), lambda i: F.col("shingle").substr(i, F.lit(4))
    )
    contained = F.size(F.filter(grams, lambda g: F.col("content").contains(g)))
    score = F.when(
        F.col("name").isNotNull(),
        F.floor(F.lit(10000) * contained / n_grams).cast("long"),
    )
    return (
        matched.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "shingle",
            "count",
            F.col("name").alias("best_match"),
            F.col("tier").alias("match_tier"),
            score.alias("match_score_bps"),
        )
        .orderBy(F.desc("count"), "shingle")
    )


# deterministic known-boilerplate DB for the driver-checked
# identification query — plays the reference's contaminant FASTA list
# (reference: sequence_identification.py:20-60 ships a fixed DB);
# contents chosen so the retry ladder is exercised: full-shingle hits,
# prefix-only hits, and misses
BOILERPLATE_DB = [
    ("customer-notice", "dear customer your account statement is ready"),
    ("sql-reference", "select filter window column from stream"),
    ("cookie-banner", "we use cookies to improve your experience"),
]


def boilerplate_id_query(spark, sf_dir: str) -> DataFrame:
    """Driver-checked J2: overrepresented shingles matched against the
    known-boilerplate DB with the shrinking-prefix retry ladder — the
    contaminant-identification flagship (reference:
    sequence_identification.py:88-181; integration test asserts the
    Illumina adapter is named at tests/test_integration.py:97-124)."""
    from sequali_spark.operators.textqc import overrep_shingles_sql

    overrep = overrep_shingles_sql(spark, sf_dir).withColumnRenamed("cnt", "count")
    boiler = spark.createDataFrame(BOILERPLATE_DB, schema="name string, content string")
    out = identify_overrepresented(overrep, boiler, retry_ks=(8, 6, 4))
    return out.select(
        "shingle",
        F.col("count").alias("cnt"),
        "best_match",
        F.col("match_tier").cast("long").alias("match_tier"),
        "match_score_bps",
    ).orderBy(F.desc("cnt"), "shingle")


def per_host_report(metric_df: DataFrame) -> DataFrame:
    """Per-host quality — the PerTileQuality transplant (reference:
    _qcmodule.c:2971-3395 accumulates (tile, position)->error sums;
    report_modules.py:1494-1545 flags tiles deviating from the mean).

    groupBy(host) then a global-window deviation column; hosts are
    Zipf-skewed so AQE skew handling + salted upstream partitioning
    apply (north rule).
    """
    per_host = (
        metric_df.select(host_col(), "keep", "perplexity", "n_chars")
        .groupBy("host")
        .agg(
            F.count("*").alias("docs"),
            F.avg(F.col("keep").cast("double")).alias("keep_rate"),
            F.avg("perplexity").alias("mean_ppl"),
            F.avg("n_chars").alias("mean_chars"),
        )
    )
    w = W.partitionBy()
    return (
        per_host.withColumn("global_keep_rate", F.avg("keep_rate").over(w))
        .withColumn("keep_rate_deviation", F.col("keep_rate") - F.col("global_keep_rate"))
        .withColumn("flagged", F.col("keep_rate_deviation") < -0.3)
        .orderBy(F.desc("docs"), "host")
    )


def time_window_report(metric_df: DataFrame, window: str = "1 day") -> DataFrame:
    """Event-time report over warc_ts — the NanoStats transplant
    (reference: report_modules.py:1951-2045: per-time-slot reads, bases,
    distinct channels).  Tumbling windows via F.window; distinct hosts
    exact (count_distinct) since host cardinality is tiny relative to
    docs; at extreme cardinality swap approx_count_distinct.
    """
    return (
        metric_df.select(F.window("warc_ts", window).alias("w"), host_col(), "n_bytes", "keep")
        .groupBy("w")
        .agg(
            F.count("*").alias("docs"),
            F.sum("n_bytes").alias("bytes"),
            F.countDistinct("host").alias("distinct_hosts"),
            F.avg(F.col("keep").cast("double")).alias("keep_rate"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "docs",
            "bytes",
            "distinct_hosts",
            "keep_rate",
        )
        .orderBy("window_start")
    )


def length_distribution(metric_df: DataFrame, bucket: int = 100) -> DataFrame:
    """Doc-length histogram with cumulative fractions — the
    SequenceLengthDistribution transplant (reference:
    report_modules.py:574-636, incl. exact percentiles and N50 by
    cumulative walk).  The cumsum runs over the *histogram* (tiny), not
    the docs, exactly like the reference walks its histogram.
    """
    hist = (
        metric_df.groupBy((F.floor(F.col("n_chars") / bucket) * bucket).alias("length_bucket"))
        .agg(F.count("*").alias("docs"), F.sum("n_chars").alias("chars"))
    )
    w = W.orderBy("length_bucket").rowsBetween(W.unboundedPreceding, W.currentRow)
    # totals via a global window over the (tiny) histogram — one job,
    # no eager .first() mid-build (which cost an extra Spark job per
    # invocation and broke lazy composition)
    wg = W.partitionBy()
    return (
        hist.withColumn("cum_docs", F.sum("docs").over(w))
        .withColumn("cum_chars", F.sum("chars").over(w))
        .withColumn(
            "cum_doc_frac",
            F.col("cum_docs") / F.greatest(F.sum("docs").over(wg), F.lit(1)),
        )
        .withColumn(
            "cum_char_frac",
            F.col("cum_chars") / F.greatest(F.sum("chars").over(wg), F.lit(1)),
        )
        .orderBy("length_bucket")
    )


def n50_analogue(metric_df: DataFrame) -> DataFrame:
    """N50/N90 transplant (reference: report_modules.py:621-633): N50 is
    the length at the 50% ascending-cumulative-char crossing; N90 is the
    length at the **10%** crossing (docs at-or-above it carry 90% of the
    mass — the reference's ten_percent_bases walk, so n90 <= n50)."""
    dist = length_distribution(metric_df, bucket=1)
    out = dist.select(
        F.min(F.when(F.col("cum_char_frac") >= 0.5, F.col("length_bucket"))).alias("n50_length"),
        F.min(F.when(F.col("cum_char_frac") >= 0.1, F.col("length_bucket"))).alias("n90_length"),
    )
    return out


def corpus_report(metric_df: DataFrame) -> dict:
    """The JSON corpus report — sequali's one finalize step
    (report_modules.py), which ``sequali-report`` re-renders from the
    saved file.  The batch job's ``--report`` and ``--mode report`` over
    a saved labels table both call this.  A block is emitted iff the
    frame carries every column it reads, so a table saved with a pruned
    column set renders the blocks it supports; ``counters`` always."""
    cols = set(metric_df.columns)

    def rows(df: DataFrame) -> list[dict]:
        return [r.asDict() for r in df.collect()]

    counters = [F.count("*").alias("docs_seen")]
    if "keep" in cols:
        counters.append(F.sum(F.col("keep").cast("long")).alias("docs_kept"))
    report = {"counters": metric_df.agg(*counters).first().asDict()}
    if "drop_reasons" in cols:
        report["rule_hits"] = {r["rule"]: r["hits"] for r in rows(rule_hit_counts(metric_df))}
    if "lang_pred" in cols:
        report["lang_hist"] = {r["lang"]: r["docs"] for r in rows(lang_histogram(metric_df))}
    if "fingerprint" in cols:
        report["duplication"] = rows(duplication_histogram(metric_df))
    if "shingles" in cols:
        report["overrepresented"] = rows(overrepresented_shingles(metric_df))
    if "n_chars" in cols:
        # the SequenceLengthDistribution analogue (exact N50/N90 by
        # cumulative walk, report_modules.py:574-636)
        report["length_stats"] = n50_analogue(metric_df).first().asDict()
    if {"url", "keep", "perplexity", "n_chars"} <= cols:
        report["per_host"] = rows(per_host_report(metric_df).limit(20))
    return report


def per_host_distinct_urls_salted(metric_df: DataFrame, n_salts: int = 16) -> DataFrame:
    """Exact distinct-url count per host via salted two-stage
    aggregation — the skew-safe pattern for COUNT(DISTINCT) on a Zipf
    key: stage 1 groups on (host, hash(url) % S), so the mega-host's
    distinct set is counted across S reducers; stage 2 sums the partial
    distincts (url -> salt is deterministic, the per-salt sets are
    disjoint, so the sum is exact).  A plain countDistinct would funnel
    every mega-host url through one reducer.
    """
    salted = metric_df.select(
        host_col(), F.pmod(F.xxhash64("url"), F.lit(n_salts)).alias("salt"), "url"
    )
    partial = salted.groupBy("host", "salt").agg(
        F.countDistinct("url").alias("partial_distinct")
    )
    return (
        partial.groupBy("host")
        .agg(F.sum("partial_distinct").alias("distinct_urls"))
        .orderBy(F.desc("distinct_urls"), "host")
    )
