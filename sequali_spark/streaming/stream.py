"""Structured Streaming variant of the quality pipeline.

The reference is itself a one-pass streaming engine over a file
(reference: src/sequali/__main__.py:279-306 — incremental batches into
bounded-state accumulators).  Batch Spark already preserves the
single-pass property; this module adds the genuinely-streaming
deployment: a file-source stream of page parquet drops ->
the same Arrow metric stage -> labels sink + watermarked
event-time aggregates, exactly sequali's scan -> accumulate -> report
DAG with late-data semantics the reference never needed (bounded
input) but an always-on crawl feed does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sequali_spark.pipeline import PAGES_SCHEMA_DDL as PAGES_SCHEMA, run_metric_stage


def stream_pages(
    spark: SparkSession, path: str, max_files_per_trigger: int = 4
) -> DataFrame:
    """File-source stream: each new parquet drop under ``path`` is a
    micro-batch (the analogue of the reference's chunked file scan)."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def streaming_labels(pages_stream: DataFrame, output_columns: list[str] | None = None) -> DataFrame:
    """The metric battery applied per micro-batch — mapInPandas is
    streaming-compatible (stateless per-row transform)."""
    return run_metric_stage(pages_stream, output_columns=output_columns)


def streaming_time_report(pages_stream: DataFrame, window: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window ingest report over warc_ts — the
    NanoStats time-series (A17) with late-data handling: rows later than
    the watermark are dropped from their window instead of reopening it.
    """
    host = F.parse_url(F.col("url"), F.lit("HOST")).alias("host")
    return (
        pages_stream.select("warc_ts", host, F.length("text").alias("n_chars"))
        .withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"))
        .agg(
            F.count("*").alias("docs"),
            F.sum("n_chars").alias("chars"),
            F.approx_count_distinct("host").alias("approx_hosts"),
        )
        .select(F.col("w.start").alias("window_start"), "docs", "chars", "approx_hosts")
    )


def streaming_sessionize(
    events_stream: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Streaming sessionization via NATIVE session windows — the
    streaming twin of operators.events.sessionize: per-user events
    whose inter-event gap stays under ``gap`` merge into one session;
    the watermark closes sessions and bounds state (an open session's
    state is evicted once the watermark passes its end).

    Boundary semantics differ by one instant from the batch operator:
    batch breaks a session when the gap is STRICTLY greater than the
    threshold (diff > 1800s), while ``session_window`` starts a new
    session at exactly the threshold (an event at prev + gap falls
    outside [prev, prev + gap)).  Events on the exact boundary are
    measure-zero for continuous timestamps; the cross-check test avoids
    them and the difference is documented rather than papered over.

    Emits one row per CLOSED session: (user_id, session_start,
    session_end, session_events).  In append mode a session only emits
    after the watermark passes its end — the late-data contract."""
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count("*").alias("session_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "session_events",
        )
    )


def run_stream_once(
    spark: SparkSession,
    src_path: str,
    labels_path: str,
    checkpoint_path: str,
    output_columns: list[str] | None = None,
) -> None:
    """Drain everything currently in the source (Trigger.AvailableNow)
    into the labels sink, exactly-once via the streaming checkpoint —
    the streaming twin of runtime.lineage: the checkpoint directory
    plays the lineage table's role and resume-on-restart is free."""
    stream = stream_pages(spark, src_path)
    labels = streaming_labels(stream, output_columns=output_columns)
    q = (
        labels.writeStream.format("parquet")
        .option("path", labels_path)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def streaming_dedup_labels(
    pages_stream: DataFrame,
    watermark: str = "1 day",
    output_columns: list[str] | None = None,
) -> DataFrame:
    """Streaming exact-dedup by url within the watermark horizon —
    ``dropDuplicatesWithinWatermark``: a url's dedup state is evicted
    once the watermark passes its event time, so state is bounded by the
    watermark window (plain ``dropDuplicates(["url"])`` would keep every
    url forever — the key omits the event-time column, so Spark cannot
    age anything out).  The streaming twin of the batch groupBy-digest
    dedup, and the same bounded-state philosophy as sequali's capped
    fingerprint store (reference: _qcmodule.c:4248-4253), except the
    bound is event-time, not row count, so it is deterministic."""
    deduped = pages_stream.withWatermark("warc_ts", watermark).dropDuplicatesWithinWatermark(
        ["url"]
    )
    return run_metric_stage(deduped, output_columns=output_columns)
