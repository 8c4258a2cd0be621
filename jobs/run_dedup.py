#!/usr/bin/env python
"""spark-submit entry point for corpus-scale DEDUPLICATION over a
documents table: exact-collapse-first MinHash-LSH with a CHECKPOINTED
signature stage, so a crashed or re-invoked run never re-sketches the
corpus text.

    spark-submit --py-files dist/sequali_spark.zip jobs/run_dedup.py \\
      --input <dir with documents.parquet> --output <dir> \\
      [--mode keepers|pairs] [--threshold 0.8] [--stats stats.json]
      [--force]

Stage layout (the resume story):

  stage 1  SIGNATURES (expensive — the only pass over the text):
           exact-dup digest + 64-perm minhash + band keys + bit planes
           per doc, written to <output>_sigs by runtime.checkpoint.stage
           with a one-row manifest of the producing invocation (sketch
           shape included).  The manifest fingerprints the INPUT
           by its backing file listing (path, length, mtime — parquet
           part-files are immutable, so any in-place rewrite of ids OR
           text changes the listing; zero data scanned) and forces a
           re-sketch instead of silently deduplicating stale
           signatures.  The sketch is
           threshold-INDEPENDENT, so re-running with a different
           --threshold reuses stage 1 and recomputes only stage 2.
  stage 2  EDGES + CLUSTERS (cheap relative to the text scan):
           ring-topology band edges (linear volume, see
           minhash_pairs_from_sigs) verified by signature agreement,
           connected components, keeper election — recomputed per
           invocation from the checkpointed signature table.

Stats JSON reconciles: docs == exact-collapsed reps + folded members;
in keepers mode every clustered doc has exactly one keeper per
component.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import functions as F

SIGS_MANIFEST_SCHEMA = (
    "input string, n_minhash int, lsh_bands int, pack_planes int, n_docs long, "
    "content_fp string"
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="dir containing documents.parquet")
    ap.add_argument("--output", required=True)
    ap.add_argument("--mode", choices=["keepers", "pairs"], default="keepers")
    ap.add_argument("--threshold", type=float, default=0.8)
    ap.add_argument("--stats", default=None)
    ap.add_argument(
        "--force", action="store_true",
        help="re-sketch even if a checkpointed signature table exists",
    )
    args = ap.parse_args()

    from sequali_spark.operators import dedup
    from sequali_spark.runtime import checkpoint
    from sequali_spark.session import fit_width, get_spark
    from sequali_spark.sources.tables import load, read

    spark = get_spark(app_name="sequali_dedup")
    docs = load(spark, args.input, "documents")
    fit_width(docs)

    # fingerprint the backing file listing (path, length, mtime): an
    # in-place refresh that keeps ids but changes text rewrites parquet
    # part-files, so the listing invalidates (r8: replaced the full
    # id+text content scan — a serial pre-stage pass; see
    # runtime.checkpoint.file_fingerprint).  The row count for stats
    # comes from parquet footer metadata, not a data scan.
    fp = checkpoint.file_fingerprint(docs, "doc_id", "text")
    n_docs = docs.count()
    manifest_rows = [
        (args.input, dedup.N_MINHASH, dedup.LSH_BANDS, dedup.N_PACK_PLANES, n_docs, fp)
    ]
    labeled, resumed_sigs = checkpoint.stage(
        spark,
        args.output.rstrip("/") + "_sigs",
        manifest_rows,
        SIGS_MANIFEST_SCHEMA,
        lambda: dedup.exact_rep_labeled_sigs(docs.select("doc_id", "text")),
        force=args.force,
    )

    cc_stats: dict = {}
    if args.mode == "keepers":
        out = dedup.keepers_from_labeled_sigs(
            labeled, threshold=args.threshold, cc_stats=cc_stats
        )
    else:
        rep_sigs = labeled.filter(F.col("doc_id") == F.col("rep"))
        out = dedup.minhash_pairs_from_sigs(rep_sigs, threshold=args.threshold)
    out.write.mode("overwrite").parquet(args.output)

    result = read(spark, args.output)
    stats = {
        "input_docs": n_docs,
        "exact_reps": labeled.filter(F.col("doc_id") == F.col("rep")).count(),
        "resumed_signatures": resumed_sigs,
        "mode": args.mode,
        "threshold": args.threshold,
    }
    if args.mode == "keepers":
        row = result.agg(
            F.count(F.lit(1)).alias("clustered_docs"),
            F.count_distinct("component").alias("clusters"),
            F.sum(F.col("keep_doc").cast("long")).alias("keepers"),
        ).first()
        stats.update(row.asDict(), keepers=int(row["keepers"] or 0))
        stats["cc_rounds"] = cc_stats.get("rounds")
        # reconciliation: exactly one keeper per cluster.  A hard raise,
        # not assert — python -O / PYTHONOPTIMIZE strips asserts and
        # this is the job's correctness guarantee, not a debug check
        if stats["keepers"] != stats["clusters"]:
            raise RuntimeError(
                f"keeper reconciliation failed: {stats['keepers']} keepers "
                f"for {stats['clusters']} clusters"
            )
    else:
        stats["pairs"] = result.count()
    if args.stats:
        with open(args.stats, "w") as f:
            json.dump(stats, f, indent=0, sort_keys=True)
    print(json.dumps(stats, sort_keys=True))


if __name__ == "__main__":
    main()
