"""Stage-checkpoint helper: an expensive stage materialized to parquet
plus a MANIFEST of the producing invocation; a later run reuses the
stage only when the manifest matches bit-for-bit.

This is the resume granularity for corpus-GLOBAL stages (dedup
signatures, curation decisions) that cannot be split into per-partition
lineage units without changing semantics — the complement of
runtime/lineage.py's day-unit resume for per-doc stages.  ``stage``
owns the protocol; jobs/run_curation.py and jobs/run_dedup.py call it.

The manifest is ONE small JSON file at ``<path>_manifest``,
``{"schema": <DDL string>, "rows": <rows as lists, sorted>}``, read and
written on the driver through the Hadoop FileSystem API (so it works on
hdfs:// and s3a:// outputs, not just the local FS) — no Spark job.  It
replaced a one-row parquet table whose write, read-back and
``createDataFrame(...).collect()`` comparison cost ~0.9 s of Spark jobs
per forced + resumed curation run.  Crash order, each window failing
toward recompute:
1. delete the manifest (invalidate_stage_manifest);
2. overwrite the stage data (its ``_SUCCESS`` marks the commit);
3. write the manifest to ``.<name>_manifest.tmp`` beside it, then
   rename it into place (write_stage_manifest).
A missing, truncated or unparsable manifest, or the parquet manifest
directory an older version wrote, is not a match.

This module is also the one owner of driver-side files: read_file,
write_file, rename, delete and fs_exists go through the Hadoop
FileSystem API, and the IVF-PQ index metadata and the lineage rows use
them as the stage manifest does.
"""

from __future__ import annotations

import json
from typing import Callable

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sequali_spark.runtime import pins
from sequali_spark.sources.tables import read


def _fs_path(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Path) for ``path``."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def fs_exists(spark: SparkSession, path: str) -> bool:
    """Existence check through the Hadoop FileSystem API (driver-local
    os.path.exists only sees the local filesystem)."""
    fs, p = _fs_path(spark, path)
    return fs.exists(p)


def rename(spark: SparkSession, src: str, dst: str) -> None:
    """Rename ``src`` to ``dst``, raising when the FileSystem refuses.
    ``dst`` must not exist: Hadoop moves a source INTO an existing
    directory instead of replacing it."""
    fs, s = _fs_path(spark, src.rstrip("/"))
    _, d = _fs_path(spark, dst.rstrip("/"))
    if not fs.rename(s, d):
        raise OSError(f"could not rename {src} to {dst}")


def delete(spark: SparkSession, path: str) -> None:
    """Delete a file or a directory tree; absent paths are a no-op."""
    fs, p = _fs_path(spark, path.rstrip("/"))
    fs.delete(p, True)


def read_file(spark: SparkSession, path: str) -> bytes | None:
    """The bytes of the file at ``path``, or None when no file is there
    (absent, or a directory).  A checksum mismatch (a file changed
    behind the local FS's .crc) raises Py4JJavaError."""
    fs, p = _fs_path(spark, path.rstrip("/"))
    if not (fs.exists(p) and fs.getFileStatus(p).isFile()):
        return None
    stream = fs.open(p)
    try:
        return bytes(stream.readAllBytes())
    finally:
        stream.close()


def write_file(spark: SparkSession, path: str, data: bytes) -> None:
    """Replace the file at ``path`` with ``data`` so that a reader sees
    the old file, no file, or the whole new one — never half of it.
    The bytes go to the dot-prefixed sibling ``.<name>.tmp`` first
    (Spark's file index skips dot- and underscore-prefixed names, so a
    reader of the directory never lists it), which is then renamed
    into place."""
    path = path.rstrip("/")
    fs, p = _fs_path(spark, path)
    tmp = spark._jvm.org.apache.hadoop.fs.Path(p.getParent(), f".{p.getName()}.tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(data))
    finally:
        out.close()
    fs.delete(p, True)  # rename does not replace on every FileSystem
    if not fs.rename(tmp, p):
        raise OSError(f"could not rename {tmp} to {p}")


def _manifest_doc(manifest_rows: list[tuple], manifest_schema: str) -> dict:
    """The manifest as stored: rows sorted (order-insensitive match) and
    passed through JSON, so a fresh invocation compares equal to its
    own read-back."""
    rows = sorted(json.dumps(list(r)) for r in manifest_rows)
    return {"schema": manifest_schema, "rows": [json.loads(r) for r in rows]}


def content_fingerprint(df: DataFrame, *cols: str) -> str:
    """Order-independent content fingerprint of the given columns:
    "rowcount:exact-sum-of-row-hashes".  SUM, not XOR (xor cancels
    duplicated rows, x^x=0); DECIMAL(38,0), not int64 (ANSI mode — the
    Spark 4 default — raises on int64 overflow, which a sum of 63-bit
    hashes hits after a handful of rows; the decimal domain is exact to
    ~10^19 rows).  Cost: one scan of the named columns + a 1-row
    collect — fingerprint the columns whose change must invalidate the
    checkpoint, nothing more."""
    r = df.agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return f"{r['n']}:{r['h'] or 0}"


def file_fingerprint(df: DataFrame, *cols: str) -> str:
    """Input fingerprint WITHOUT a data scan: pins.fingerprint over the
    frame's backing-file listing plus the column names whose change must
    invalidate (see pins.fingerprint for the trust model and the
    ORDERING TRAP: call this BEFORE df.persist()).  Falls back to
    content_fingerprint when the frame is not file-backed
    (createDataFrame, cached views) or a part-file cannot be stat'ed —
    there is no listing to trust, so the scan is the honest price, and
    a file deleted between listing and stat must not kill the job
    before it does any work.

    Motivation (r8 curation-ladder breakdown): the content fingerprint
    was a full id+text scan that ran SERIALLY before any parallel
    stage — 5.8-7.3 s at 500k rows regardless of core count, pure
    Amdahl tail in the scaling ladder."""
    return pins.fingerprint(df, *cols) or content_fingerprint(df, *cols)


def stage_is_reusable(
    spark: SparkSession,
    data_path: str,
    manifest_path: str,
    manifest_rows: list[tuple],
    manifest_schema: str,
) -> bool:
    """True iff the stage data committed (_SUCCESS) and the manifest
    file holds exactly this invocation's schema and rows — a changed
    parameter or input fingerprint forces a recompute instead of
    silently reusing stale results.  Row order does not matter."""
    if not fs_exists(spark, data_path.rstrip("/") + "/_SUCCESS"):
        return False
    try:
        raw = read_file(spark, manifest_path)
        return raw is not None and json.loads(raw) == _manifest_doc(
            manifest_rows, manifest_schema
        )
    except (ValueError, Py4JJavaError):
        # truncated, not UTF-8, not JSON, or a checksum mismatch (a
        # file changed behind the local FS's .crc): recompute
        return False


def invalidate_stage_manifest(spark: SparkSession, manifest_path: str) -> None:
    """Delete the manifest BEFORE overwriting the stage data.  Without
    this, a crash after the data overwrite but before the new manifest
    write leaves the PREVIOUS manifest beside the NEW data — and a
    later run with the previous parameters would match the stale
    manifest and silently reuse data computed under different
    parameters.  Deleting first makes every crash window fail toward
    recompute.  Deletes a manifest file or an older parquet manifest
    directory alike."""
    delete(spark, manifest_path)


def write_stage_manifest(
    spark: SparkSession,
    manifest_path: str,
    manifest_rows: list[tuple],
    manifest_schema: str,
) -> None:
    """Commit the manifest AFTER the stage data (and after
    invalidate_stage_manifest before it): data without a matching
    manifest is treated as not-reusable, so both halves of the crash
    window recompute.  write_file renames it into place, so a reader
    never sees half a manifest."""
    body = json.dumps(_manifest_doc(manifest_rows, manifest_schema)).encode("utf-8")
    write_file(spark, manifest_path, body)


def stage(
    spark: SparkSession,
    path: str,
    manifest_rows: list[tuple],
    manifest_schema: str,
    build: Callable[[], DataFrame],
    force: bool = False,
) -> tuple[DataFrame, bool]:
    """Return (the stage read back from ``path``, whether it was
    reused): the committed stage is reused iff its manifest at
    ``<path>_manifest`` equals ``manifest_rows`` and ``force`` is off;
    otherwise ``build()`` is written there under the crash order of
    invalidate_stage_manifest / write_stage_manifest (a ``build`` that
    raises leaves no manifest).  The steps are called as module globals
    so a tracer that replaces them sees every call."""
    path = path.rstrip("/")
    manifest_path = path + "_manifest"
    reused = (not force) and stage_is_reusable(
        spark, path, manifest_path, manifest_rows, manifest_schema
    )
    if not reused:
        invalidate_stage_manifest(spark, manifest_path)
        build().write.mode("overwrite").parquet(path)
        write_stage_manifest(spark, manifest_path, manifest_rows, manifest_schema)
    return read(spark, path), reused
