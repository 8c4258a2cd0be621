"""The Spark quality pipeline: one scan -> one Arrow metric stage -> labels.

Lifecycle (the Spark transplant of sequali's single-pass loop,
reference: src/sequali/__main__.py:279-306 — every batch feeds all
modules in one pass):

    read pages table (columnar scan, pruned columns)
      -> repartition (warc_ts day bucket + salted hosts; SURVEY.md §2.7)
      -> ONE mapInPandas stage: the full metric battery per Arrow batch
         (sequali_spark.functions.metrics.compute_metrics — shared with
         the oracle, hence exact parity)
      -> keep/drop labels + scrubbed text columns
      -> corpus aggregates off the same metric columns (operators/)

Everything after the metric stage is relational (groupBy / window /
broadcast join), optimized by Catalyst + AQE; there are zero custom
optimizer rules (SURVEY.md §4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sequali_spark.functions.metrics import METRIC_SCHEMA_DDL, compute_metrics

PAGES_INPUT_COLUMNS = ["url", "warc_ts", "html", "text", "lang"]
PAGES_SCHEMA_DDL = "url string, warc_ts timestamp, html binary, text string, lang string"


def _schema_subset(columns: list[str]):
    from pyspark.sql.types import StructType

    full = StructType.fromDDL(METRIC_SCHEMA_DDL)
    return StructType([full[c] for c in columns])


def run_metric_stage(pages: DataFrame, output_columns: list[str] | None = None) -> DataFrame:
    """Apply the full per-document metric battery in a single vectorized
    Python stage. Input: pages DataFrame with the canonical 5 columns.

    ``mapInPandas`` receives an iterator of Arrow batches — the direct
    analogue of sequali's FastqRecordArrayView batches
    (reference: _qcmodule.c:965-1184); one Python worker pass computes
    every metric, exactly as sequali's loop feeds all 6 modules.

    ``output_columns`` prunes the columns returned across the Arrow
    boundary — Catalyst cannot prune projections *through* a
    mapInPandas black box, so jobs that sink a subset declare it here
    (manual pushdown of the projection into the Python stage).

    Schema tolerance: extra table columns are ignored; the optional
    ``html``/``lang`` columns are null-filled when absent (real tables
    drift — cf. the reference's missing-qualities repair at scan,
    _qcmodule.c:1656-1665).  ``url``/``warc_ts``/``text`` are required.
    """
    present = set(pages.columns)
    sel_cols = []
    for c in PAGES_INPUT_COLUMNS:
        if c in present:
            sel_cols.append(F.col(c))
        elif c == "html":
            sel_cols.append(F.lit(None).cast("binary").alias(c))
        elif c == "lang":
            sel_cols.append(F.lit(None).cast("string").alias(c))
        else:
            raise ValueError(f"pages table is missing required column '{c}'")
    pruned = pages.select(*sel_cols)
    cols = output_columns
    needed = set(cols) if cols else None

    def _batches(it):
        for pdf in it:
            if len(pdf):
                # computation pruning matches projection pruning: metric
                # columns outside the sink schema that feed no rule
                # (compression_ratio, shingles) are never computed
                m = compute_metrics(pdf, needed=needed)
                yield m[cols] if cols else m

    schema = _schema_subset(cols) if cols else METRIC_SCHEMA_DDL
    return pruned.mapInPandas(_batches, schema=schema)


def with_partitioning(pages: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Repartition by (warc_ts day-bucket, salted host) before the metric
    stage — warc_ts bucketing gives partition pruning on time-ranged
    runs, the salt spreads the Zipf mega-host (north rule).  The metric
    stage is embarrassingly parallel, so this is a scale knob, not a
    correctness one: results are invariant to partitioning because all
    sampling keys on url hash (kernels.url_sample_mask).
    """
    host = F.parse_url(F.col("url"), F.lit("HOST"))
    cols = [
        F.to_date("warc_ts").alias("_day"),
        F.pmod(F.hash(host, F.col("url")), F.lit(64)).alias("_salt"),
    ]
    return pages.repartition(*([num_partitions] if num_partitions else []), *cols)


def quality_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    repartition: bool = True,
    num_partitions: int | None = None,
    output_columns: list[str] | None = None,
) -> DataFrame:
    """Full pipeline: returns the labeled metric DataFrame (one row per
    input page) ready for sinks and corpus aggregates."""
    if repartition:
        pages = with_partitioning(pages, num_partitions)
    return run_metric_stage(pages, output_columns=output_columns)


def labels(metric_df: DataFrame) -> DataFrame:
    """(url, keep, drop_reasons) — the keep/drop decision table, the
    analogue of sequali's per-read pass/fail JSON values."""
    return metric_df.select("url", "keep", "drop_reasons")


def scrubbed(metric_df: DataFrame, pages: DataFrame | None = None) -> DataFrame:
    """(url, scrubbed_text BINARY) — byte-exact scrub output.

    The metric stage emits NULL scrubbed_text for untouched docs (Arrow
    traffic optimization); joining back to the source text materializes
    the full byte-exact column when a complete copy is wanted."""
    if pages is None:
        return metric_df.select("url", "scrubbed_text")
    src = pages.select("url", F.encode("text", "utf-8").alias("_orig"))
    return (
        metric_df.select("url", "scrubbed_text")
        .join(src, "url")
        .select("url", F.coalesce("scrubbed_text", "_orig").alias("scrubbed_text"))
    )
