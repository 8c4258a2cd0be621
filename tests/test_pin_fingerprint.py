"""r7 hardening of the sketch-pin reuse fingerprint (ADVICE r6):
structural semanticHash beats toString truncation, and per-file
(length, mtime) stats catch same-filename in-place overwrites."""

from __future__ import annotations

import os
import time

from sequali_spark.runtime.pins import pin_key


def _write(spark, path, rows):
    spark.createDataFrame(rows, schema="doc_id long, text string").coalesce(
        1
    ).write.mode("overwrite").parquet(path)


def test_same_query_rebuilt_matches(spark, tmp_path):
    p = str(tmp_path / "docs")
    _write(spark, p, [(1, "a"), (2, "b")])
    fp1 = pin_key(spark.read.parquet(p), 64, 16)
    fp2 = pin_key(spark.read.parquet(p), 64, 16)
    assert fp1 is not None and fp1 == fp2


def test_different_filter_differs(spark, tmp_path):
    p = str(tmp_path / "docs")
    _write(spark, p, [(1, "a"), (2, "b")])
    base = spark.read.parquet(p)
    fp_all = pin_key(base, 64)
    fp_filtered = pin_key(base.filter("doc_id > 1"), 64)
    assert fp_all is not None and fp_filtered is not None
    assert fp_all != fp_filtered


def test_structural_params_differ(spark, tmp_path):
    p = str(tmp_path / "docs")
    _write(spark, p, [(1, "a")])
    df = spark.read.parquet(p)
    assert pin_key(df, 64) != pin_key(df, 128)


def test_same_filename_overwrite_differs(spark, tmp_path):
    """A non-Spark writer that keeps filenames but changes bytes must
    change the fingerprint — names alone fingerprinted as unchanged
    (ADVICE r6 (b))."""
    p = str(tmp_path / "docs")
    _write(spark, p, [(1, "a"), (2, "b")])
    base = spark.read.parquet(p)
    fp1 = pin_key(base, 64)
    # rewrite to a scratch dir, then copy bytes over IN PLACE keeping
    # the original part-file name (simulates object-store copy-over)
    scratch = str(tmp_path / "scratch")
    _write(spark, scratch, [(1, "a"), (2, "b"), (3, "c")])
    part_src = [
        f for f in os.listdir(scratch) if f.endswith(".parquet")
    ][0]
    part_dst = [f for f in os.listdir(p) if f.endswith(".parquet")][0]
    # ensure a different mtime second even on coarse filesystems
    time.sleep(1.1)
    with open(os.path.join(scratch, part_src), "rb") as s:
        data = s.read()
    with open(os.path.join(p, part_dst), "wb") as d:
        d.write(data)
    # re-fingerprint the SAME long-lived frame: its plan and file
    # NAMES are unchanged — only the fresh per-file stats differ
    fp2 = pin_key(base, 64)
    assert fp1 is not None and fp2 is not None
    assert fp1 != fp2


def test_non_file_backed_never_reuses(spark):
    df = spark.createDataFrame([(1, "a")], schema="doc_id long, text string")
    assert pin_key(df, 64) is None


def test_hold_is_lazy_and_releases_previous(spark):
    """pins.hold persists WITHOUT a job (its call sites feed several
    subtrees of one plan and must not gain a materialization job), and
    holding a key again releases the frame it held before."""
    from sequali_spark.runtime import pins

    sc = spark.sparkContext
    sc.setJobGroup("pins-hold", "pins.hold must run no job")
    try:
        first = pins.hold("test_hold", spark.range(10))
        second = pins.hold("test_hold", spark.range(20))
        assert list(sc.statusTracker().getJobIdsForGroup("pins-hold")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert not first.is_cached
    assert second.is_cached and pins.pinned("test_hold") is second
    pins.release("test_hold")
    assert not second.is_cached and pins.pinned("test_hold") is None
