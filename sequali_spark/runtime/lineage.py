"""Per-partition checkpoint / lineage — resumable mid-table runs.

The reference runs single-node in minutes and has no resume; the north
rule requires it at 10^12-doc scale: "checkpoints per-partition progress
with lineage + counter metrics ... so runs resume mid-table".

Design (idempotent by construction):
  * work is split by a partition key (default: warc_ts day — the same
    bucketing the table is laid out by, so each unit is a partition-
    pruned scan);
  * each unit's labels are written with dynamic partition overwrite —
    re-running a unit replaces its output exactly, never duplicates;
  * after a unit's write commits, one lineage row (unit, status, docs
    seen/kept/scrubbed, wall seconds, run id) is appended to the
    lineage table; counters come from ``Observation`` on the write
    itself (the analogue of sequali's progress/report counters,
    reference: util.py:44-96, report JSON docs counts);
  * resume = re-invoke: units already ``done`` in lineage are skipped.

On Iceberg the lineage append becomes a MERGE on (run_id, unit); on
plain parquet (sandbox) each lineage row is its own file under the
lineage dir — append-only, last-writer-wins via max(finished_at).
"""

from __future__ import annotations

import json
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.observation import Observation

from sequali_spark.runtime import checkpoint
from sequali_spark.sources.tables import TableIO

LINEAGE_SCHEMA = (
    "unit string, status string, docs_seen long, docs_kept long, "
    "docs_scrubbed long, wall_seconds double, run_id string, finished_at double"
)


def _lineage_rows(spark: SparkSession, lineage_dir: str) -> DataFrame:
    # the dir may be an hdfs:// or s3a:// URI: checked through the
    # job's FileSystem, never os.path
    if not checkpoint.fs_exists(spark, lineage_dir):
        return spark.createDataFrame([], schema=LINEAGE_SCHEMA)
    return spark.read.schema(LINEAGE_SCHEMA).json(lineage_dir)


def completed_units(spark: SparkSession, lineage_dir: str) -> set[str]:
    rows = (
        _lineage_rows(spark, lineage_dir)
        .filter(F.col("status") == "done")
        .select("unit")
        .distinct()
        .collect()
    )
    return {r["unit"] for r in rows}


def _append_lineage(spark: SparkSession, lineage_dir: str, row: dict) -> None:
    """One JSON file per lineage row: atomic (checkpoint.write_file
    renames it into place), append-only, no coordination needed between
    concurrently-running drivers."""
    final = f"{lineage_dir.rstrip('/')}/part-{row['unit']}-{uuid.uuid4().hex}.json"
    checkpoint.write_file(spark, final, (json.dumps(row) + "\n").encode("utf-8"))


def run_resumable(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    lineage_dir: str,
    output_columns: list[str] | None = None,
    max_units: int | None = None,
    force_units: list[str] | None = None,
) -> list[str]:
    """Run the quality pipeline unit-by-unit (warc_ts day), checkpointing
    each unit.  Returns the list of units processed in THIS invocation
    (already-done units are skipped — that IS the resume path).

    ``max_units`` bounds this invocation (used by the kill-and-resume
    test to simulate a mid-table crash).

    ``force_units`` re-runs specific units even if lineage marks them
    done — the reprocess path when a unit's INPUT changed (late-arriving
    crawl data, fixed extraction).  Dynamic partition overwrite (an
    option on this write, never the session's mode) makes the re-run a
    MERGE-by-replacement: the unit's output partition is
    replaced exactly, never appended, so downstream readers see one
    consistent copy (on Iceberg this is `overwritePartitions`; parquet
    dynamic overwrite is the sandbox equivalent).
    """
    from sequali_spark.pipeline import quality_pipeline

    run_id = uuid.uuid4().hex

    all_units = [
        str(r["unit"])
        for r in pages.select(F.to_date("warc_ts").cast("string").alias("unit"))
        .distinct()
        .orderBy("unit")
        .collect()
    ]
    done = completed_units(spark, lineage_dir) - set(force_units or [])
    todo = [u for u in all_units if u not in done]
    if max_units is not None:
        todo = todo[:max_units]

    cols = output_columns or [
        "url", "keep", "drop_reasons", "lang_pred", "pii_hits", "tox_hits", "scrubbed_text",
    ]
    processed = []
    for unit in todo:
        t0 = time.time()
        subset = pages.filter(F.to_date("warc_ts") == F.lit(unit))
        metrics = quality_pipeline(spark, subset, repartition=False, output_columns=cols + ["warc_ts"])
        obs = Observation(f"unit_{unit}")
        labeled = metrics.withColumn("day", F.to_date("warc_ts").cast("string")).drop("warc_ts")
        observed = labeled.observe(
            obs,
            F.count(F.lit(1)).alias("docs_seen"),
            F.sum(F.col("keep").cast("long")).alias("docs_kept"),
            F.sum(((F.col("pii_hits") > 0) | (F.col("tox_hits") > 0)).cast("long")).alias(
                "docs_scrubbed"
            ),
        )
        TableIO(spark).write_partitioned(observed, out_dir, "day")
        got = obs.get
        _append_lineage(
            spark,
            lineage_dir,
            {
                "unit": unit,
                "status": "done",
                "docs_seen": int(got["docs_seen"]),
                "docs_kept": int(got["docs_kept"] or 0),
                "docs_scrubbed": int(got["docs_scrubbed"] or 0),
                "wall_seconds": round(time.time() - t0, 3),
                "run_id": run_id,
                "finished_at": time.time(),
            },
        )
        processed.append(unit)
    return processed


def lineage_report(spark: SparkSession, lineage_dir: str) -> DataFrame:
    """Aggregate lineage counters — the run's JSON-report analogue."""
    rows = _lineage_rows(spark, lineage_dir)
    return rows.groupBy("status").agg(
        F.count("*").alias("units"),
        F.sum("docs_seen").alias("docs_seen"),
        F.sum("docs_kept").alias("docs_kept"),
        F.sum("docs_scrubbed").alias("docs_scrubbed"),
    )
