#!/usr/bin/env python
"""spark-submit entry point for the quality pipeline.

Cluster deployment (north rule):

    scripts/package.sh   # builds dist/sequali_spark.zip
    spark-submit \\
      --py-files dist/sequali_spark.zip \\
      --conf spark.sql.adaptive.enabled=true \\
      --conf spark.sql.files.maxPartitionBytes=16m \\
      jobs/run_pipeline.py \\
      --input  <pages parquet dir or iceberg table ref> \\
      --output <labels dir/ref> --lineage <lineage dir> \\
      --mode resumable

Modes:
  batch      one-shot: labels + corpus report, no checkpointing
  resumable  per-warc_ts-day units with lineage (kill-safe, idempotent)
  stream     continuous: treat --input as a parquet drop directory
  report     re-render the JSON report from a SAVED labels table, no
             recompute (the reference's `sequali-report saved.json`
             path, K4): --input is a labels parquet dir, --report the
             destination.  Batch --report and this mode share one
             builder, aggregates.corpus_report, so a table saved with
             every metric column re-renders the batch report; a pruned
             table renders the blocks its columns support

Everything model-side (langid weights, LM counts, scrub patterns) is
shipped inside the zip and read through importlib.resources — no
network access and no training on executors.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--lineage", default=None)
    ap.add_argument("--checkpoint", default=None)
    ap.add_argument(
        "--mode", choices=["batch", "resumable", "stream", "report"], default="batch"
    )
    ap.add_argument("--report", default=None, help="write the corpus JSON report here")
    ap.add_argument("--partitions", type=int, default=None)
    args = ap.parse_args()

    from sequali_spark.operators.aggregates import corpus_report
    from sequali_spark.session import fit_width, get_spark
    from sequali_spark.sources.tables import read

    spark = get_spark(app_name=f"sequali_pipeline_{args.mode}")

    if args.mode == "stream":
        from sequali_spark.streaming.stream import run_stream_once

        run_stream_once(
            spark, args.input, args.output, args.checkpoint or args.output + "_ckpt"
        )
        return

    if args.mode == "report":
        if not args.report:
            raise SystemExit("--mode report requires --report <dest.json>")
        report = corpus_report(read(spark, args.input))
        with open(args.report, "w") as f:
            json.dump(report, f, indent=0, sort_keys=True)
        print(json.dumps({"re_rendered": True, "blocks": sorted(report)}))
        return

    from sequali_spark.pipeline import quality_pipeline

    pages = read(spark, args.input)
    fit_width(pages)

    if args.mode == "resumable":
        from sequali_spark.runtime.lineage import lineage_report, run_resumable

        done = run_resumable(
            spark, pages, args.output, args.lineage or args.output + "_lineage"
        )
        print(json.dumps({"processed_units": done}))
        lineage_report(spark, args.lineage or args.output + "_lineage").show()
        return

    metrics = quality_pipeline(spark, pages, num_partitions=args.partitions).persist()
    metrics.write.mode("overwrite").parquet(args.output)

    if args.report:
        with open(args.report, "w") as f:
            json.dump(corpus_report(metrics), f, indent=0, sort_keys=True)
    metrics.unpersist()


if __name__ == "__main__":
    main()
