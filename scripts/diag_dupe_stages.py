#!/usr/bin/env python
"""Sweep every judged query for duplicate stage materializations.

Runs each `queries()` entry under its own Spark job group with the
event log enabled, reads the log with perfbench.eventlog, and flags
stages within one query whose shuffle-write byte count repeats — the
signature of a subtree AQE materialized more than once (union branches,
un-pinned multi-consumer frames; see the r6 connected_components
audit).  Small duplicates are noise (broadcast builds, retries); only
stages above --min-mb are compared.  `perfbench/run.py --trace 1`
gives the per-stage table of the benchmark workloads; this sweep
covers all the queries, which they do not run.

Usage: python scripts/diag_dupe_stages.py [--sf-dir /root/testdata/sf0.01]
"""
from __future__ import annotations

import argparse
import os
import sys
import tempfile
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--min-mb", type=float, default=5.0)
    args = ap.parse_args()

    import __spark_entry__ as entry
    from perfbench import eventlog
    from sequali_spark.session import get_spark

    ran = []
    with tempfile.TemporaryDirectory(prefix="diag_dupe_evlog_") as evdir:
        spark = get_spark(
            app_name="diag_dupes",
            extra_conf={
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + evdir,
                # the layout perfbench.eventlog reads
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            },
        )
        for name, fn in entry.queries().items():
            spark.sparkContext.setJobGroup(name, name)
            try:
                fn(spark, args.sf_dir).write.format("noop").mode("overwrite").save()
            except Exception as exc:  # a query that needs absent inputs etc.
                print(f"{name}: SKIP ({type(exc).__name__}: {str(exc)[:80]})")
                continue
            ran.append(name)
        spark.stop()  # flushes and closes the log
        stages, _ = eventlog.parse(eventlog.find_log(evdir))

    by_group: dict[str | None, list] = {}
    for st in stages:
        by_group.setdefault(st.group, []).append(st)
    flagged = 0
    for name in ran:
        group = by_group.get(name, [])
        sizes = Counter(
            b for b in (s.shuffle_write_bytes for s in group) if b and b >= args.min_mb * 1e6
        )
        dupes = {f"{b / 1e6:.1f}MB": c for b, c in sizes.items() if c > 1}
        if dupes:
            flagged += 1
            print(f"{name}: DUPLICATE stage shapes {dupes}")
        else:
            print(f"{name}: ok ({len(group)} stages)")
    print(f"\n{flagged} of {len(ran)} queries with duplicate heavy stages")


if __name__ == "__main__":
    main()
