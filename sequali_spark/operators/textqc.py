"""Text-QC operators over a generic documents table — JVM-built-in edition.

The same rule battery as functions/metrics.py, expressed with
``pyspark.sql.functions`` only (no Python in the plan), for tables where
the metrics are SQL-expressible.  Every builder here has an ANSI-SQL
twin in __spark_entry__.oracle_sql() so the DuckDB gate checks it
value-exactly.

Exactness discipline: ratios are emitted as basis-points integers
``floor(10000 * count / len)`` — integer inputs make the double
division exact-enough that floor is engine-independent, avoiding
round-half-up vs round-half-even divergence on binary-exact fractions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from sequali_spark.sources.tables import load


def _count_class(pattern: str) -> F.Column:
    """Occurrences of a regex char class = len - len(text with class removed).
    Analogue of the NUCLEOTIDE_TO_INDEX classify (reference:
    _qcmodule.c:1741-1766) pushed into the JVM."""
    return F.length("text") - F.length(F.regexp_replace("text", pattern, ""))


_ALPHA_LC = "abcdefghijklmnopqrstuvwxyz"
_DIGITS = "0123456789"


def _count_chars(chars: str) -> F.Column:
    """Occurrences of any char in ``chars`` via translate-deletion —
    value-identical to ``_count_class`` for an explicit ASCII set (a
    regex class [a-z] matches exactly these codepoints), but a
    single-pass LUT instead of the java.util.regex NFA: measured ~3x
    cheaper per byte on the documents corpus (guide §4.1: prefer the
    cheapest built-in that computes the same thing)."""
    return F.length("text") - F.length(F.translate("text", chars, ""))


def _bps(num: F.Column, den: F.Column) -> F.Column:
    return F.floor(F.lit(10000) * num / den).cast("long")


def char_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc char-class battery (QCMetrics A1/P14 analogue).

    r9: char-class counts via translate (see _count_chars) and the
    single-row-group scan spread across the cluster before the battery
    runs (see session.spread) — the projection is the cost,
    not the scan bytes."""
    from sequali_spark.session import spread

    d = spread(load(spark, sf_dir, "documents"), key="doc_id")
    n = F.length("text")
    return (
        d.filter(n > 0)
        .select(
            "doc_id",
            n.alias("n_chars"),
            _bps(_count_chars(_ALPHA_LC), n).alias("alpha_bps"),
            _bps(_count_chars(_DIGITS), n).alias("digit_bps"),
            _bps(_count_chars(" "), n).alias("space_bps"),
        )
        .orderBy("doc_id")
    )


def word_stats_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokens + mean word length via split arithmetic (P12/A13 analogue)."""
    from sequali_spark.session import spread

    d = spread(load(spark, sf_dir, "documents"), key="doc_id")
    n = F.length("text")
    spaces = _count_chars(" ")
    n_words = spaces + 1
    return (
        d.filter(n > 0)
        .select(
            "doc_id",
            n_words.alias("n_words"),
            _bps(n - spaces, n_words).alias("mean_word_len_bps"),
        )
        .orderBy("doc_id")
    )


def length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-length histogram (SequenceLengthDistribution A14 analogue)."""
    d = load(spark, sf_dir, "documents")
    bucket = (F.floor(F.col("n_chars") / 50) * 50).cast("long")
    return (
        d.groupBy(bucket.alias("length_bucket"))
        .agg(F.count("*").alias("docs"), F.sum("n_chars").alias("chars"))
        .orderBy("length_bucket")
    )


def length_cumdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative char mass over the length histogram — the N50-style
    cumulative walk (A14, reference report_modules.py:621-633) as a
    window cumsum over the (tiny) histogram."""
    hist = length_histogram(spark, sf_dir)
    w = W.orderBy("length_bucket").rowsBetween(W.unboundedPreceding, W.currentRow)
    return hist.select(
        "length_bucket",
        "docs",
        F.sum("docs").over(w).alias("cum_docs"),
        F.sum("chars").over(w).alias("cum_chars"),
    ).orderBy("length_bucket")


def per_source_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality rollup — PerTileQuality A7 analogue (source
    plays the tile role)."""
    d = load(spark, sf_dir, "documents")
    return (
        d.groupBy("source")
        .agg(
            F.count("*").alias("docs"),
            F.sum("n_chars").alias("total_chars"),
            F.floor(F.lit(10000) * F.sum("n_chars") / F.count("*")).cast("long").alias("mean_chars_bps"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("source")
    )


def lang_histogram_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(F.count("*").alias("docs")).orderBy(F.desc("docs"), "lang")


def substring_scan(spark: SparkSession, sf_dir: str, probe: str = "data") -> DataFrame:
    """Exact substring search: first occurrence + total count per doc —
    the AdapterCounter A6 analogue (first-match semantics = instr;
    reference _qcmodule.c:2643-2672 records first occurrence only)."""
    from sequali_spark.session import spread

    d = spread(load(spark, sf_dir, "documents"), key="doc_id")
    first_pos = F.instr(F.col("text"), probe)
    # literal replace (not regexp_replace): probes may contain regex
    # metacharacters; the DuckDB oracle's replace() is literal too
    occurrences = (
        (F.length("text") - F.length(F.replace(F.col("text"), F.lit(probe), F.lit(""))))
        / len(probe)
    ).cast("long")
    return (
        d.select("doc_id", first_pos.alias("first_pos"), occurrences.alias("occurrences"))
        .filter(F.col("first_pos") > 0)
        .orderBy("doc_id")
    )


def stopword_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc stopword token fraction (rule-battery member; exercises
    explode + conditional agg)."""
    # r9: deliberately NOT spread — ABAB read 0.51/0.53 s unspread vs
    # 0.68/0.70 s spread at sf1.0 (the token explode's split is one pass
    # and the downstream agg dominates; the spread exchange is pure tax)
    d = load(spark, sf_dir, "documents")
    stop = ["the", "a", "of", "and", "to"]
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    return (
        toks.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.col("tok").isin(stop).cast("long")).alias("n_stop"),
            F.floor(F.lit(10000) * F.sum(F.col("tok").isin(stop).cast("long")) / F.count("*"))
            .cast("long")
            .alias("stop_bps"),
        )
        .orderBy("doc_id")
    )


def quality_score(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """Composite keep/drop decision in pure SQL — the whole rule battery
    collapsed to one deterministic integer score (keep iff all gates pass),
    the SQL twin of the pipeline's keep column.  ``docs`` lets a caller
    (jobs/run_curation.py) share one scan across operators."""
    from sequali_spark.session import spread

    d = docs if docs is not None else spread(
        load(spark, sf_dir, "documents"), key="doc_id"
    )
    n = F.length("text")
    spaces = _count_chars(" ")
    n_words = spaces + 1
    alpha_bps = _bps(_count_chars(_ALPHA_LC), F.greatest(n, F.lit(1)))
    score = (
        (n >= 50).cast("long")
        + (n <= 100000).cast("long")
        + (n_words >= 10).cast("long")
        + (alpha_bps >= 5000).cast("long")
    )
    # NULL text would null-propagate the gate sum in Spark while an
    # oracle CASE yields 0 — exclude NULLs so both engines agree
    return d.filter(F.col("text").isNotNull()).select(
        "doc_id",
        score.alias("gates_passed"),
        (score == 4).alias("keep"),
    ).orderBy("doc_id")


def overrep_shingles_sql(
    spark: SparkSession, sf_dir: str, k: int = 8, min_count: int = 3, top_k: int = 50
) -> DataFrame:
    """Overrepresented non-overlapping k-char shingles, distinct within
    doc — OverrepresentedSequences A8/A9 in pure relational form:
    sequence() -> transform() -> array_distinct -> explode -> groupBy.
    """
    from sequali_spark.session import spread

    d = spread(load(spark, sf_dir, "documents"), key="doc_id")
    idx = F.sequence(F.lit(1), F.greatest(F.length("text") - (k - 1), F.lit(0)), F.lit(k))
    shingles = F.array_distinct(
        F.filter(
            F.transform(idx, lambda i: F.col("text").substr(i, F.lit(k))),
            lambda s: F.length(s) == k,
        )
    )
    return (
        d.filter(F.length("text") >= k)
        .select(F.explode(shingles).alias("shingle"))
        .groupBy("shingle")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= min_count)
        .orderBy(F.desc("cnt"), "shingle")
        .limit(top_k)
    )


def position_char_profile(spark: SparkSession, sf_dir: str, max_pos: int = 100, bucket: int = 10) -> DataFrame:
    """Corpus per-position-bucket char-class profile over the doc prefix —
    the QCMetrics positional count table transplant (A1/A3, reference
    _qcmodule.c:1786-1803: count[pos][class] over the read), realized as
    explode(position) -> groupBy(bucket): Catalyst's partial+final agg
    plays the reference's uint16-staging/uint64-flush two-level scheme."""
    from sequali_spark.session import spread

    d = spread(load(spark, sf_dir, "documents"), key="doc_id")
    # empty text would make sequence(1, 0) step DOWNWARD to [1, 0] and
    # emit phantom positions — filter first (the oracle mirrors this)
    d = d.filter(F.length("text") > 0)
    pos = F.explode(F.sequence(F.lit(1), F.least(F.length("text"), F.lit(max_pos)))).alias("i")
    chars = d.select(F.col("text"), pos).select(
        (F.floor((F.col("i") - 1) / bucket)).cast("long").alias("pos_bucket"),
        F.expr("substr(text, i, 1)").alias("ch"),
    )
    return (
        chars.groupBy("pos_bucket")
        .agg(
            F.count("*").alias("chars"),
            F.sum(F.col("ch").between("a", "z").cast("long")).alias("alpha"),
            F.sum((F.col("ch") == " ").cast("long")).alias("spaces"),
            F.sum(F.col("ch").between("0", "9").cast("long")).alias("digits"),
        )
        .orderBy("pos_bucket")
    )


def log_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Squashed-log re-binning — aggregate_count_matrix's logarithmic
    bucket scheme for long docs (A16, reference report_modules.py:258-291):
    the bucket expression is pushed into the agg key."""
    d = load(spark, sf_dir, "documents")
    bucket = F.expr("cast(floor(ln(greatest(n_chars, 1)) / ln(2)) as bigint)")
    return (
        d.groupBy(bucket.alias("log2_bucket"))
        .agg(F.count("*").alias("docs"), F.sum("n_chars").alias("chars"))
        .orderBy("log2_bucket")
    )


def per_source_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source mean-length deviation from the corpus mean, flagged —
    the PerTileQualityReport deviation/flagging transplant (A19,
    reference report_modules.py:1494-1545: flag tiles deviating from the
    per-bucket mean)."""
    d = load(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(
        F.count("*").alias("docs"), F.sum("n_chars").alias("total_chars")
    )
    w = W.partitionBy()
    mean_bps = F.floor(F.lit(10000) * F.col("total_chars") / F.col("docs")).cast("long")
    global_bps = F.floor(
        F.lit(10000) * F.sum("total_chars").over(w) / F.sum("docs").over(w)
    ).cast("long")
    return (
        per.select(
            "source",
            "docs",
            mean_bps.alias("mean_chars_bps"),
            global_bps.alias("global_mean_bps"),
            (mean_bps - global_bps).alias("deviation_bps"),
            (mean_bps * 2 < global_bps).alias("flagged"),  # < half the corpus mean
        )
        .orderBy("source")
    )


def top_doc_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest doc per source — the argmax-per-group pattern (T3,
    reference report_modules.py:2295-2310: top adapter tail per length)
    via row_number over a per-group window."""
    d = load(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy(F.desc("n_chars"), "doc_id")
    return (
        d.select("source", "doc_id", "n_chars")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("source", F.col("doc_id").alias("top_doc_id"), F.col("n_chars").alias("top_chars"))
        .orderBy("source")
    )


def deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 1-in-8 content-hash sample — the P15 early-skip
    re-spec (reference _qcmodule.c:3833-3836 samples by sequence index;
    we key on a content digest so the sample is invariant to
    partitioning AND expressible in any engine)."""
    d = load(spark, sf_dir, "documents")
    nibble = F.substring(F.md5("text"), 1, 1)
    return (
        d.filter(nibble.isin("0", "1"))
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    )


def length_percentiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT percentiles by walking the length histogram — sequali
    computes percentiles 1..99 by cumulative walk, never by approx
    sketch (A14, reference report_modules.py:596-619).  The cumsum runs
    over the tiny histogram, not the docs; percentile p = smallest
    length whose cumulative doc count reaches ceil(p/100 * total)."""
    d = load(spark, sf_dir, "documents")
    hist = d.groupBy("n_chars").agg(F.count("*").alias("docs"))
    w = W.orderBy("n_chars").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = hist.select("n_chars", F.sum("docs").over(w).alias("cum"))
    total = F.max("cum").over(W.partitionBy())
    marks = cum.select("n_chars", "cum", total.alias("total"))
    agg_cols = [
        F.min(
            F.when(F.col("cum") >= F.ceil(F.col("total") * p / 100), F.col("n_chars"))
        ).alias(f"p{p}")
        for p in (25, 50, 75, 90, 99)
    ]
    return marks.agg(*agg_cols)


def alpha_ratio_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus histogram of per-doc alpha ratio (2%-wide buckets) — the
    GC-content histogram transplant (A4, reference _qcmodule.c:2045-2058:
    hist[round(100*gc)] += 1)."""
    from sequali_spark.session import spread

    d = spread(load(spark, sf_dir, "documents"), key="doc_id")
    n = F.length("text")
    alpha_bps = F.floor(F.lit(10000) * _count_chars(_ALPHA_LC) / n).cast("long")
    bucket = F.floor(alpha_bps / 200).cast("long")
    return (
        d.filter(n > 0)
        .groupBy(bucket.alias("alpha_pct2_bucket"))
        .agg(F.count("*").alias("docs"))
        .orderBy("alpha_pct2_bucket")
    )


def probe_position_curve(
    spark: SparkSession, sf_dir: str, probes: tuple[str, ...] = ("data", "query", "table"), bucket: int = 20
) -> DataFrame:
    """Multi-probe positional histogram + cumulative curve — the full
    AdapterCounter corpus table (A6: first occurrence per doc recorded
    in a forward positional histogram, reference _qcmodule.c:2643-2672)
    with the AdapterContent cumulative-% finalize on top (A20,
    reference report_modules.py:1438-1475).

    ONE scan for all probes (r6; was one scan per probe unioned —
    N_probes full text-column reads at corpus scale): every probe's
    instr() is evaluated in a single projection, exploded to (probe,
    pos) structs, zero-positions filtered after the explode.
    Histogram grouped on (probe, bucket), cumulative via window."""
    d = load(spark, sf_dir, "documents")
    pairs = F.array(
        *[
            F.struct(
                F.lit(p).alias("probe"), F.instr(F.col("text"), p).alias("pos")
            )
            for p in probes
        ]
    )
    hits = (
        d.select(F.explode(pairs).alias("h"))
        .select("h.probe", "h.pos")
        .filter(F.col("pos") > 0)
    )
    hist = hits.groupBy(
        "probe", (F.floor((F.col("pos") - 1) / bucket) * bucket).cast("long").alias("pos_bucket")
    ).agg(F.count("*").alias("docs"))
    w = W.partitionBy("probe").orderBy("pos_bucket").rowsBetween(W.unboundedPreceding, W.currentRow)
    return hist.select(
        "probe", "pos_bucket", "docs", F.sum("docs").over(w).alias("cum_docs")
    ).orderBy("probe", "pos_bucket")


def bottom_decile_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean length of each source's shortest decile — the
    bottom-percentile-mean finalize (A15, reference
    report_modules.py:761-826 walks the histogram accumulating the
    bottom p% error mass) via percent_rank + conditional aggregation."""
    d = load(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = d.select("source", "n_chars", F.percent_rank().over(w).alias("pr"))
    return (
        ranked.filter(F.col("pr") <= 0.1)
        .groupBy("source")
        .agg(
            F.count("*").alias("bottom_docs"),
            F.floor(F.lit(10000) * F.sum("n_chars") / F.count("*"))
            .cast("long")
            .alias("bottom_mean_bps"),
        )
        .orderBy("source")
    )


def token_count_bpeish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting beyond whitespace: a BPE-ish regex segmentation
    (letter runs | digit runs | single non-alnum) counted JVM-side —
    the standard pre-tokenizer shape, giving a corpus token budget
    estimate per source."""
    from sequali_spark.session import spread

    d = spread(load(spark, sf_dir, "documents"), key="doc_id")
    toks = F.size(F.regexp_extract_all("text", F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), 0))
    ws_toks = _count_chars(" ") + 1
    return (
        d.filter(F.length("text") > 0)
        .groupBy("source")
        .agg(
            F.count("*").alias("docs"),
            F.sum(toks).alias("bpeish_tokens"),
            F.sum(ws_toks).alias("ws_tokens"),
        )
        .orderBy("source")
    )


def n50_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N50/N90 analogue computed by cumulative walk over the (tiny)
    length histogram, never a sketch (reference:
    report_modules.py:621-633; integration test pins n50==59502,
    n90==7517 at tests/test_integration.py:127-137).  N50 is the length
    at the 50% ascending-cumulative crossing; N90 is the length at the
    **10%** ascending crossing — docs at-or-above it carry 90% of the
    char mass, so n90 <= n50, matching the reference's
    ten_percent_bases walk.  Integer comparisons (cum*k >= total) keep
    both engines bit-exact."""
    d = load(spark, sf_dir, "documents")
    hist = d.groupBy("n_chars").agg(F.sum("n_chars").alias("chars"))
    w = W.orderBy("n_chars").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = hist.select("n_chars", F.sum("chars").over(w).alias("cum_chars"))
    total = F.max("cum_chars").over(W.partitionBy())
    marks = cum.select("n_chars", "cum_chars", total.alias("total"))
    return marks.agg(
        F.min(F.when(F.col("cum_chars") * 2 >= F.col("total"), F.col("n_chars"))).alias(
            "n50_chars"
        ),
        F.min(
            F.when(F.col("cum_chars") * 10 >= F.col("total"), F.col("n_chars"))
        ).alias("n90_chars"),
    )


def winnow_fingerprint_stats(
    spark: SparkSession, sf_dir: str, k: int = 8, w: int = 4, max_doc_id: int = 100
) -> DataFrame:
    """Winnowing (Schleimer et al., SIGMOD'03) re-expressed as PURE
    relational operators — tier (a) of the custom-operator ladder: no
    UDF at all.  k-gram hash = md5 prefix (cross-engine), fingerprint =
    min hash of each window of w consecutive k-grams (window min over an
    ordered frame), per-doc distinct fingerprints counted.

    This is the declarative twin of the kernel-based
    dedup.winnow_overlap_pairs (which uses a faster rolling hash); the
    oracle checks the relational form value-exactly.  Bounded to
    ``max_doc_id`` docs because the position explode is O(len) rows per
    doc — the kernel path is the scale path, this is the semantics spec.
    """
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < max_doc_id)
    n_grams = F.length("text") - (k - 1)
    grams = (
        d.filter(F.length("text") >= k)
        .select(
            "doc_id",
            # the per-doc gram count is known BEFORE the explode — carry
            # it as a column instead of re-deriving it afterwards with a
            # count-over-window partitioned by doc_id (r8 excision: the
            # ordered winnow window below is inherently per-doc, but the
            # unordered count one was avoidable)
            n_grams.alias("n_grams"),
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), n_grams),
                    lambda i: F.substring(F.md5(F.col("text").substr(i, F.lit(k))), 1, 8),
                )
            ).alias("pos", "gram_hash"),
        )
    )
    win = W.partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1)
    fps = (
        grams.select(
            "doc_id",
            "pos",
            F.min("gram_hash").over(win).alias("fp"),
            "n_grams",
        )
        # winnowing uses FULL windows only: the last w-1 frames are
        # partial (pos is 0-based from posexplode, hence - w not - (w-1))
        .filter(F.col("pos") <= F.col("n_grams") - w)
    )
    return (
        fps.groupBy("doc_id")
        .agg(
            F.countDistinct("fp").alias("n_fingerprints"),
            F.min("fp").alias("min_fp"),
            F.max("fp").alias("max_fp"),
        )
        .orderBy("doc_id")
    )


def stratified_sample(spark: SparkSession, sf_dir: str, per_source: int = 3) -> DataFrame:
    """Deterministic stratified sample: the first ``per_source`` docs per
    source ordered by content digest — training-data curation's
    per-stratum pick, partition-invariant because the order key is a
    content hash, never row position (the P15 discipline)."""
    d = load(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy("digest", "doc_id")
    return (
        d.select("source", "doc_id", F.md5("text").alias("digest"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= per_source)
        .select("source", "doc_id", F.col("rn").cast("long").alias("pick_rank"))
        .orderBy("source", "pick_rank")
    )


def source_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing weights per source: weight ∝ sum of per-doc quality
    gates passed (the SQL-expressible quality score), normalized to
    basis points — the training-mixture curation step downstream of
    quality filtering.  Integer arithmetic end-to-end so both engines
    hash identically."""
    from sequali_spark.session import spread

    d = spread(
        load(spark, sf_dir, "documents"), key="doc_id"
    ).filter(F.col("text").isNotNull())
    n = F.length("text")
    spaces = _count_chars(" ")
    alpha_bps = _bps(_count_chars(_ALPHA_LC), F.greatest(n, F.lit(1)))
    score = (
        (n >= 50).cast("long")
        + (n <= 100000).cast("long")
        + (spaces + 1 >= 10).cast("long")
        + (alpha_bps >= 5000).cast("long")
    )
    per = d.groupBy("source").agg(
        F.count("*").alias("docs"), F.sum(score).cast("long").alias("gates_sum")
    )
    total = W.partitionBy()
    weight = F.floor(
        F.lit(10000) * F.col("gates_sum") / F.greatest(F.sum("gates_sum").over(total), F.lit(1))
    ).cast("long")
    return per.select("source", "docs", "gates_sum", weight.alias("weight_bps")).orderBy(
        "source"
    )


_I64_MAX = 9223372036854775807


def token_zipf_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram-frequency mass: for every token occurrence,
    the corpus-wide frequency of that token, summed per source
    (equivalently sum over the vocabulary of src_count * global_count) —
    the integer-exact, SQL-checkable surrogate for the unigram-LM score
    (functions/perplexity.py scores -mean log p(token); this scores
    mean corpus frequency, the same commonness signal without log/exp
    float drift, so it can be value-hashed against an ANSI oracle).

    Plan shape: ONE explode + one shuffle on (source, tok); the global
    counts come from re-aggregating the (source, tok) frame, so the
    frequency join is VOCABULARY-sized, never occurrence-sized, and the
    corpus text is scanned exactly once.

    ``mean_tok_freq_ppm`` = floor(1e6 * mass / (tokens * total_tokens)):
    mean relative token frequency in parts-per-million (high = stock
    phrasing, low = diverse vocabulary), pure integer division on both
    engines (Spark DIV / DuckDB //).

    Overflow discipline (no silent wrap): the mass accumulates in
    DECIMAL(38,0); emitted int64 columns NULL out — identically on both
    engines — when the exact value leaves the int64 domain
    (mass > 2^63-1 for zipf_mass; mass > (2^63-1)/1e6 or
    tokens*total > 2^63-1 for the ppm).  Unguarded, the engines would
    diverge loudly and differently (this runtime's Spark is ANSI-on and
    raises, like DuckDB — a non-ANSI deployment would wrap silently);
    the when() guards short-circuit so the narrowing cast never
    executes out of range, and NULL is the one
    cross-engine-identical answer.  At corpus scales beyond the
    guard, compute per shard or read the decimal-domain mass off the
    internal aggregate."""
    # r9: deliberately NOT spread (ABAB 0.65/0.69 s unspread vs
    # 0.77/0.79 s spread at sf1.0 — the vocabulary shuffles dominate)
    d = load(spark, sf_dir, "documents")
    toks = d.filter(F.length("text") > 0).select(
        "source", F.explode(F.split("text", " ", -1)).alias("tok")
    )
    per_src = toks.groupBy("source", "tok").agg(F.count("*").alias("src_cnt"))
    glob = per_src.groupBy("tok").agg(F.sum("src_cnt").alias("g_cnt"))
    per = (
        per_src.join(glob, "tok")
        .groupBy("source")
        .agg(
            F.sum("src_cnt").alias("tokens"),
            F.sum(
                F.col("src_cnt").cast("decimal(19,0)") * F.col("g_cnt").cast("decimal(19,0)")
            ).alias("mass_dec"),
        )
    )
    # global window over the PER-SOURCE aggregate (~20 rows) — safe only
    # because the frame is an aggregate, never row-level data
    total = F.sum("tokens").over(W.partitionBy())
    marked = per.withColumn("_total", total)
    mass_ok = F.col("mass_dec") <= F.lit(_I64_MAX)
    ppm_ok = (
        F.col("tokens").cast("decimal(19,0)") * F.col("_total").cast("decimal(19,0)")
        <= F.lit(_I64_MAX)
    ) & (F.col("mass_dec") <= F.lit(_I64_MAX // 1000000))
    ppm = F.expr("(1000000 * CAST(mass_dec AS BIGINT)) DIV (tokens * _total)")
    return (
        marked.select(
            "source",
            "tokens",
            F.when(mass_ok, F.col("mass_dec").cast("long")).alias("zipf_mass"),
            F.when(ppm_ok, ppm).alias("mean_tok_freq_ppm"),
        )
        .orderBy("source")
    )


def ppl_surprisal_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source histogram of per-doc mean unigram surprisal in INTEGER
    bits — the oracle-checkable companion of the hashed-LM perplexity
    scorer (functions/perplexity.py scores -mean log p(tok) in floating
    point through a Python model artifact; this scores the same
    commonness-per-token signal as floor(log2(total/count)) per token
    occurrence, averaged per doc with integer division, so every value
    is hash-stable across engines).

    Definition: for each token occurrence, tok_bits =
    floor(log2(T DIV C(tok))) where C is the corpus-wide count and T
    the total occurrences (integer division; floor(log2(floor(x))) ==
    floor(log2(x)) for x >= 1, so the DIV loses nothing).  Per doc,
    surprisal_bits = (sum of tok_bits) DIV n_tokens — mean bits needed
    to code a token under the corpus unigram distribution; the bucket
    edges are therefore fixed integers (bucket b <=> mean surprisal in
    [b, b+1) bits), the integer analogue of a log2-perplexity decile.
    floor(log2) is computed EXACTLY on both engines as
    length(binary-representation) - 1 (Spark conv(x,10,2), DuckDB
    format('{:b}')) — never a float log.

    Plan shape: one explode, one shuffle on (doc_id, tok), global
    counts re-aggregated from that frame (vocabulary-sized join key),
    scalar total attached via a broadcast 1-row cross join.  Bit sums
    stay in int64: tok_bits <= 63, so sum < 63 * doc_tokens — exact for
    any doc under ~1.4e17 tokens."""
    from sequali_spark.session import spread

    d = spread(load(spark, sf_dir, "documents"), key="doc_id")
    toks = d.filter(F.length("text") > 0).select(
        "doc_id", "source", F.explode(F.split("text", " ", -1)).alias("tok")
    )
    per_doc = toks.groupBy("doc_id", "source", "tok").agg(F.count("*").alias("cnt"))
    glob = per_doc.groupBy("tok").agg(F.sum("cnt").alias("g_cnt"))
    total = glob.agg(F.sum("g_cnt").alias("_total"))
    bits = glob.crossJoin(F.broadcast(total)).select(
        "tok",
        (F.length(F.conv(F.expr("_total DIV g_cnt").cast("string"), 10, 2)) - 1)
        .cast("long")
        .alias("tok_bits"),
    )
    per = (
        per_doc.join(bits, "tok")
        .groupBy("doc_id", "source")
        .agg(
            F.sum(F.col("cnt") * F.col("tok_bits")).alias("s"),
            F.sum("cnt").alias("n"),
        )
    )
    return (
        per.select("source", F.expr("s DIV n").alias("surprisal_bits"))
        .groupBy("source", "surprisal_bits")
        .agg(F.count("*").alias("docs"))
        .orderBy("source", "surprisal_bits")
    )


# corpus-derived demo probe-set parameters — the oracle SQL for
# doc_decontaminate hardcodes the same three literals (LIMIT 20,
# substr(..., 1, 16), n_chars >= 200); change them TOGETHER
DECON_N_PROBES = 20
DECON_PROBE_LEN = 16
DECON_MIN_CHARS = 200


def benchmark_decontaminate(
    spark: SparkSession,
    sf_dir: str,
    n_probes: int = DECON_N_PROBES,
    probe_len: int = DECON_PROBE_LEN,
    min_chars: int = DECON_MIN_CHARS,
) -> DataFrame:
    """Test-set decontamination: flag documents containing a probe
    string from a benchmark set — the training-pipeline op that keeps
    eval data out of the corpus (the exact-substring tier of the
    n-gram-overlap decontamination used for LLM corpora; the reference
    analogue is the contaminant/adapter broadcast search, J2/A6).

    The probe set here is derived deterministically from the corpus
    itself (first ``n_probes`` doc prefixes) so the operator needs no
    external data; a real run substitutes its benchmark suite.  Plan:
    probes BROADCAST to a contains() theta-join over the corpus — the
    right plan while the probe set is small (benchmarks are KBs-MBs).
    For probe sets too large to broadcast, the scale path is the
    winnow-fingerprint equi-join (dedup.winnow_overlap_pairs): any
    shared passage of length >= w+k-1 guarantees a shared fingerprint,
    turning decontamination into a hash join."""
    from sequali_spark.session import spread

    hits = decontamination_hits(
        spread(load(spark, sf_dir, "documents"), key="doc_id"),
        n_probes=n_probes,
        probe_len=probe_len,
        min_chars=min_chars,
    )
    return (
        hits.groupBy("probe_doc", "probe")
        .agg(
            F.count("*").alias("contaminated_docs"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy("probe_doc")
    )


def _corpus_probes(
    docs: DataFrame, n_probes: int, probe_len: int, min_chars: int
) -> DataFrame:
    """The corpus-derived demo probe set (probe_doc, probe): first
    ``n_probes`` doc prefixes among sufficiently long docs — shared by
    the broadcast and winnow decontamination queries so both paths see
    the identical recipe (only the prefix length differs)."""
    return (
        docs.filter(F.col("n_chars") >= min_chars)
        .orderBy("doc_id")
        .limit(n_probes)
        .select(
            F.col("doc_id").alias("probe_doc"),
            F.substring("text", 1, probe_len).alias("probe"),
        )
    )


MAX_BROADCAST_PROBES = 100_000


def decontamination_hits(
    docs: DataFrame,
    probes: DataFrame | None = None,
    n_probes: int = DECON_N_PROBES,
    probe_len: int = DECON_PROBE_LEN,
    min_chars: int = DECON_MIN_CHARS,
    max_broadcast_probes: int = MAX_BROADCAST_PROBES,
) -> DataFrame:
    """Doc-level contamination hits: (doc_id, probe_doc, probe) for
    every document containing a probe string.  ``probes`` defaults to
    the corpus-derived set (see benchmark_decontaminate); pass a real
    benchmark table (probe_doc, probe) in production.

    The doc_id != probe_doc self-exclusion applies ONLY to the
    corpus-derived default (where probe_doc IS a corpus doc_id and every
    probe trivially matches its own source doc).  An external benchmark
    table's probe_doc values live in a different id space — excluding a
    corpus doc whose id happens to collide with a benchmark id would
    silently keep a contaminated document.

    Scale precondition, ENFORCED: this is a broadcast contains()
    theta-join — O(docs x probes) substring scans — which is the right
    plan only for benchmark-scale probe sets (KB-MB).  An external
    probes table larger than ``max_broadcast_probes`` raises instead of
    silently launching a quadratic scan; route large probe sets through
    the winnowing equi-join (winnow_overlap_pairs: shared-fingerprint
    postings scale linearly).  The check is one bounded job
    (limit(N+1).count()) on a table that is small by contract."""
    self_derived = probes is None
    if self_derived:
        probes = _corpus_probes(docs, n_probes, probe_len, min_chars)
    elif probes.limit(max_broadcast_probes + 1).count() > max_broadcast_probes:
        raise ValueError(
            f"probes table exceeds max_broadcast_probes={max_broadcast_probes}: "
            "the broadcast contains() theta-join is O(docs x probes) and only "
            "correct for benchmark-scale probe sets; use "
            "decontamination_hits_winnow (winnowed-fingerprint equi-join, "
            "same contract) for large probe corpora, or raise "
            "max_broadcast_probes explicitly"
        )
    cond = F.col("text").contains(F.col("probe"))
    if self_derived:
        cond = (F.col("doc_id") != F.col("probe_doc")) & cond
    return docs.join(F.broadcast(probes), cond)


def decontamination_hits_winnow(docs: DataFrame, probes: DataFrame) -> DataFrame:
    """The LARGE-probe-set decontamination path: same contract as
    decontamination_hits with an external probes table — (doc_id,
    probe_doc, probe) for every document containing a probe — but built
    as a winnowed-fingerprint EQUI-join instead of a broadcast
    contains() theta-join, so the probe side can be arbitrarily large
    (a full benchmark suite, or another corpus).

    Plan: winnow postings for BOTH sides (dedup.winnow_postings — one
    Arrow pass each), hash-join on the fingerprint, distinct candidate
    (doc, probe) pairs, then an exact contains() VERIFY with the text
    re-attached per unique candidate pair.  Winnowing guarantees any
    shared substring of length >= WINNOW_W + WINNOW_K - 1 yields a
    shared fingerprint (SIGMOD'03), so for probes of at least that
    length the candidate set is a superset of the true hits and the
    verify makes the result EXACTLY equal to the broadcast path
    (equivalence pinned by tests/test_textqc_decon.py).  Shorter
    probes void the guarantee — rejected up front rather than
    silently under-reporting contamination."""
    from sequali_spark.functions.kernels import WINNOW_K, WINNOW_W
    from sequali_spark.operators.dedup import winnow_postings

    min_len = WINNOW_W + WINNOW_K - 1
    short = (
        probes.filter(F.length("probe") < min_len).limit(1).collect()
    )
    if short:
        raise ValueError(
            f"probe {short[0]['probe']!r} is shorter than {min_len} chars: "
            "the winnowing shared-fingerprint guarantee needs substrings of "
            f"length >= w+k-1 = {min_len}; use decontamination_hits "
            "(broadcast path) for short probes"
        )
    doc_posts = winnow_postings(docs)
    probe_posts = winnow_postings(probes, id_col="probe_doc", text_col="probe")
    cand = doc_posts.join(probe_posts, "fp").select("doc_id", "probe_doc").distinct()
    # exact verify per unique candidate pair: contains() with the text
    # re-attached — candidates are rare, so the wide text column is
    # joined per-hit, never shuffled corpus-wide
    return (
        cand.join(docs.select("doc_id", "text"), "doc_id")
        .join(probes.select("probe_doc", "probe"), "probe_doc")
        .filter(F.col("text").contains(F.col("probe")))
    )


DECON_WINNOW_PROBE_LEN = 24  # >= WINNOW_W + WINNOW_K - 1 = 23


def benchmark_decontaminate_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The winnow-path twin of benchmark_decontaminate: the same
    corpus-derived probe recipe (prefix length 24 — past the
    w+k-1 = 23 winnowing guarantee threshold), routed through
    decontamination_hits_winnow instead of the broadcast theta-join,
    with the self-hit excluded to mirror the broadcast query's
    semantics.  Because the winnow path is exactly equivalent to
    contains() for guaranteed-length probes, this query is
    ORACLE-BACKED: the DuckDB side runs the plain contains() SQL, so
    the driver's hash gate cross-checks the dual-path identity on
    real data every round."""
    docs = load(spark, sf_dir, "documents")
    probes = _corpus_probes(
        docs, DECON_N_PROBES, DECON_WINNOW_PROBE_LEN, DECON_MIN_CHARS
    )
    hits = decontamination_hits_winnow(docs, probes).filter(
        F.col("doc_id") != F.col("probe_doc")
    )
    return (
        hits.groupBy("probe_doc", "probe")
        .agg(
            F.count("*").alias("contaminated_docs"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy("probe_doc")
    )


def type_token_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source type-token ratio (distinct tokens / tokens, bps) —
    the lexical-diversity quality metric (low TTR = templated/repetitive
    text), computed as explode -> two-level distinct aggregation."""
    # r9: deliberately NOT spread (ABAB 0.46/0.48 s unspread vs
    # 0.57/0.61 s spread at sf1.0 — the distinct shuffle dominates)
    d = load(spark, sf_dir, "documents")
    toks = d.select("source", F.explode(F.split("text", " ")).alias("tok"))
    return (
        toks.groupBy("source")
        .agg(
            F.count("*").alias("tokens"),
            F.countDistinct("tok").alias("distinct_tokens"),
            F.floor(F.lit(10000) * F.countDistinct("tok") / F.count("*"))
            .cast("long")
            .alias("ttr_bps"),
        )
        .orderBy("source")
    )


def gopher_line_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc Gopher-style line/word structure signals (Rae et al. 2021
    §A1.1 rule family; the reference's per-read structural QC — A1/A6
    spirit — re-aimed at web text): fraction of lines that look like
    bullet items, fraction ending in an ellipsis, fraction of words
    containing a letter, and symbol-to-word ratio.  Everything stays
    JVM-side: one split per axis feeds higher-order array filters, so
    the plan is a single WholeStageCodegen projection over the scan —
    no shuffle, no UDF, trivially linear at 100 TB."""
    from sequali_spark.session import spread

    d = spread(load(spark, sf_dir, "documents"), key="doc_id")
    n = F.length("text")
    lines = F.split("text", "\n")
    words = F.split("text", " ")
    bullet = F.size(
        F.filter(
            lines,
            lambda l: l.startswith("- ") | l.startswith("* ") | l.startswith("•"),
        )
    )
    ellipsis_lines = F.size(
        F.filter(lines, lambda l: l.endswith("...") | l.endswith("…"))
    )
    alpha_words = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    # symbol occurrences: '#' by char-class length-diff; '...' by
    # non-overlapping literal replace (leftmost, both engines)
    hashes = _count_chars("#")
    dots = ((n - F.length(F.replace(F.col("text"), F.lit("..."), F.lit("")))) / 3).cast("long")
    n_lines = F.size(lines)
    n_words = F.size(words)
    return (
        d.filter(n > 0)
        .select(
            "doc_id",
            n_lines.cast("long").alias("n_lines"),
            _bps(bullet, n_lines).alias("bullet_line_bps"),
            _bps(ellipsis_lines, n_lines).alias("ellipsis_line_bps"),
            _bps(alpha_words, n_words).alias("alpha_word_bps"),
            _bps(hashes + dots, n_words).alias("symbol_word_bps"),
        )
        .orderBy("doc_id")
    )


def dup_line_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc duplicate-line character fraction (MassiveText/Gopher
    repetition rule; exact-counting twin of the batch kernel's
    dup_line_frac, kernels.py dup-line battery) as two map-side-combining
    aggregations: explode lines -> count per (doc_id, line) -> roll up
    per doc.  dup_char_bps = chars in repeat occurrences / total line
    chars.  No window, no UDF; both shuffles are partial-agg hash
    aggregates keyed by doc_id(+line), so the plan is skew-safe at any
    corpus size (a pathological single-doc mega-line set still spreads
    across tasks by line hash before the per-doc rollup)."""
    from sequali_spark.session import spread

    d = spread(load(spark, sf_dir, "documents"), key="doc_id")
    lines = (
        d.filter(F.length("text") > 0)
        .select("doc_id", F.explode(F.split("text", "\n")).alias("line"))
        .filter(F.length("line") > 0)
    )
    per_line = lines.groupBy("doc_id", "line").agg(F.count("*").alias("c"))
    per_line = per_line.withColumn("len", F.length("line"))
    total = F.sum(F.col("len") * F.col("c"))
    distinct_chars = F.sum("len")
    return (
        per_line.groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_lines"),
            F.count("*").cast("long").alias("n_distinct_lines"),
            total.cast("long").alias("line_chars"),
            _bps(total - distinct_chars, total).alias("dup_char_bps"),
        )
        .orderBy("doc_id")
    )


def top_bigram_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top word-bigram character mass (MassiveText 'fraction of
    characters in the most frequent n-gram' repetition rule, n=2; the
    exact-counting SQL twin of the batch kernel's top_bigram_frac).

    Deterministic by construction: the report is max(count * len(gram))
    — the char mass of the heaviest bigram — so count ties between
    different-length grams never need a text tie-break.  Plan: bigrams
    are built JVM-side (transform + slice over the split array, same
    idiom as paragraph_dedup's fixed-word windows), exploded, then two
    map-side-combining hash aggregates keyed (doc_id, gram) -> doc_id.
    No window, no UDF; a boilerplate mega-doc spreads across tasks by
    gram hash before the per-doc rollup."""
    from sequali_spark.session import spread

    d = spread(load(spark, sf_dir, "documents"), key="doc_id")
    words = F.split("text", " ")
    n_w = F.size(words)
    # sequence(0, -1) would generate a DESCENDING range, so docs with a
    # single word are filtered, not guarded per-element
    base = (
        d.filter((F.length("text") > 0) & (n_w >= 2))
        .select(
            "doc_id",
            F.length("text").alias("n_chars_doc"),
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), n_w - 2),
                    lambda i: F.array_join(F.slice(words, i + 1, 2), " "),
                )
            ).alias("gram"),
        )
    )
    per_gram = base.groupBy("doc_id", "n_chars_doc", "gram").agg(
        F.count("*").alias("c")
    )
    mass = F.max(F.col("c") * F.length("gram"))
    return (
        per_gram.groupBy("doc_id", "n_chars_doc")
        .agg(
            F.sum("c").cast("long").alias("n_grams"),
            mass.cast("long").alias("top_bigram_chars"),
            _bps(mass, F.col("n_chars_doc")).alias("top_bigram_bps"),
        )
        .select("doc_id", "n_grams", "top_bigram_chars", "top_bigram_bps")
        .orderBy("doc_id")
    )


def dup_ngram_mass(spark: SparkSession, sf_dir: str, n: int = 5) -> DataFrame:
    """Per-doc duplicated word-n-gram character mass (MassiveText
    'fraction of characters in duplicated n-grams', n=5 — the long-range
    twin of top_bigram_mass; together they complete the repetition-rule
    family).  dup_gram_bps = char mass of grams occurring more than
    once / total gram mass.  Same plan shape as top_bigram_mass: grams
    built JVM-side, exploded, two map-side-combining hash aggregates —
    no window, no UDF, skew-safe by gram hash."""
    from sequali_spark.session import spread

    d = spread(load(spark, sf_dir, "documents"), key="doc_id")
    words = F.split("text", " ")
    n_w = F.size(words)
    base = (
        d.filter((F.length("text") > 0) & (n_w >= n))
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), n_w - n),
                    lambda i: F.array_join(F.slice(words, i + 1, n), " "),
                )
            ).alias("gram"),
        )
    )
    per_gram = base.groupBy("doc_id", "gram").agg(F.count("*").alias("c"))
    mass = F.col("c") * F.length("gram")
    total = F.sum(mass)
    dup = F.sum(F.when(F.col("c") > 1, mass).otherwise(F.lit(0)))
    return (
        per_gram.groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_grams"),
            dup.cast("long").alias("dup_gram_chars"),
            _bps(dup, total).alias("dup_gram_bps"),
        )
        .orderBy("doc_id")
    )
