#!/usr/bin/env python
"""Extra (non-frozen) benchmarks: noop-sink isolation of sub-stages per
guide §1.4, used to attribute headline query time to operators during
optimization rounds.  The frozen measurement contract lives in bench.py;
this file only informs optimization decisions (numbers cited in
OPTIMIZATION_r09.md).

Usage:
  python bench_extra.py --mode minhash [--sf-dir /root/testdata/sf1.0]
  python bench_extra.py --mode queries --names doc_char_ratios,...
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)


def _noop(df) -> float:
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    return round(time.time() - t0, 3)


def _timed(label: str, df, spark, n: int = 3) -> dict:
    spark.sparkContext.setJobDescription(label)
    samples = [_noop(df) for _ in range(n)]
    spark.sparkContext.setJobDescription(None)
    return {"label": label, "best": min(samples), "samples": samples}


def mode_minhash(spark, sf_dir: str) -> None:
    """Attribute dedup_minhash_pairs time to the sketch, the exact
    collapse and the part downstream of the pinned sketch."""
    from sequali_spark.operators import dedup
    from sequali_spark.operators.textqc import load
    from sequali_spark.runtime import pins

    docs = load(spark, sf_dir, "documents")

    # stage A: sketch (Arrow minhash kernel) alone, no collapse
    sigs_raw = dedup.minhash_signatures(docs)
    print(json.dumps(_timed("A sketch only", sigs_raw, spark)))

    # stage B: sketch + exact collapse (the groupBy(first) SortAggregate)
    sigs = dedup.collapse_exact_reps(sigs_raw)
    print(json.dumps(_timed("B sketch+collapse", sigs, spark)))

    # full query (uses the pin; replicates the headline entry)
    full = dedup.minhash_near_dup_pairs(spark, sf_dir)
    print(json.dumps(_timed("C full warm1", full, spark, n=1)))
    # now pinned: scanning the pin alone; J minus D approximates the
    # candidate + verify work downstream of it
    pinned = pins.pinned("minhash")
    if pinned is not None:
        print(json.dumps(_timed("D pinned scan", pinned, spark)))
    print(json.dumps(_timed("J full warm", full, spark)))


def mode_queries(spark, sf_dir: str, names: list[str]) -> None:
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    for name in names:
        df = qs[name](spark, sf_dir)
        _noop(df)  # warmup (codegen)
        print(json.dumps(_timed(name, df, spark)))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mode", default="queries")
    ap.add_argument("--names", default="")
    ap.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
    )
    from bench import _spark
    from sequali_spark.session import default_cpus

    ap.add_argument("--cpus", type=int, default=default_cpus())
    args = ap.parse_args()

    spark = _spark(args.cpus)
    if args.mode == "minhash":
        mode_minhash(spark, args.sf_dir)
    else:
        names = [n for n in args.names.split(",") if n]
        mode_queries(spark, args.sf_dir, names)
    spark.stop()


if __name__ == "__main__":
    main()
