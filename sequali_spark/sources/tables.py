"""Table IO seam: parquet today, Iceberg behind the same interface.

The north rule mandates Iceberg tables; the sandbox has no Iceberg
runtime jar, so every table read and every partitioned overwrite in
the engine goes through this seam (SURVEY.md §7.4 'Iceberg in-sandbox').  The Iceberg
implementation differs only in: catalog-name paths instead of file
paths, MERGE INTO for idempotent label upserts (instead of dynamic
partition overwrite), and hidden partitioning (days(warc_ts),
bucket(N, url)) declared at table creation instead of per-write.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.iceberg.catalog.Catalog"
        )
        return True
    except Exception:
        return False


@dataclass
class TableIO:
    """Engine-wide table access. ``fmt`` is 'parquet' or 'iceberg'."""

    spark: SparkSession
    fmt: str = "parquet"

    def read(self, ref: str) -> DataFrame:
        if self.fmt == "iceberg":
            return self.spark.read.format("iceberg").load(ref)
        return self.spark.read.parquet(ref)

    def write_partitioned(self, df: DataFrame, ref: str, partition_col: str) -> None:
        """Idempotent per-partition write: Iceberg MERGE/overwrite-by-
        filter; parquet dynamic partition overwrite, set on this write
        only (a session-wide mode would leak into every later
        partitioned overwrite)."""
        if self.fmt == "iceberg":
            (
                df.writeTo(ref)
                .overwritePartitions()
            )
            return
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partition_col)
            .parquet(ref)
        )

    def merge_upsert_sql(self, target_ref: str, source_view: str, key_col: str) -> str:
        """The exact row-level MERGE the label pipeline issues on
        Iceberg — idempotent keyed upsert (re-running a resumed job
        updates instead of duplicating).  Kept as a separate method so
        the seam contract test can pin the statement verbatim."""
        return (
            f"MERGE INTO {target_ref} t USING {source_view} s "
            f"ON t.{key_col} = s.{key_col} "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *"
        )

    def merge_upsert(self, df: DataFrame, ref: str, key_col: str) -> None:
        """Idempotent keyed upsert of a labels table.  Iceberg: one
        row-level MERGE INTO (ACID, the production path).  Parquet
        emulation: existing rows whose key collides are replaced via
        left-anti join + union + rewrite — localCheckpoint materializes
        the merged frame first because Spark refuses to overwrite a
        path it is still reading from; sandbox-scale only (the rewrite
        is O(table), which is exactly why production uses Iceberg).

        Duplicate keys in the SOURCE are rejected up front (one cheap
        aggregation over the delta): Iceberg MERGE fails mid-commit
        when a target row matches multiple source rows, while the
        parquet emulation would silently anti-delete once and insert
        every duplicate — a multi-row key violating the upsert
        contract.  Failing identically (and before any write) keeps
        the two paths' semantics aligned (ADVICE r4)."""
        dup = (
            df.groupBy(key_col)
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            raise ValueError(
                f"merge_upsert source has duplicate {key_col!r} keys "
                f"(e.g. {dup[0][key_col]!r}); an idempotent keyed upsert "
                "requires a unique key per source row — deduplicate the "
                "delta first"
            )
        if self.fmt == "iceberg":
            view = "_sequali_upsert_src"
            df.createOrReplaceTempView(view)
            self.spark.sql(self.merge_upsert_sql(ref, view, key_col))
            return
        from pyspark.errors import AnalysisException

        try:
            existing = self.read(ref)
        except AnalysisException:
            df.write.mode("overwrite").parquet(ref)
            return
        kept = existing.join(df.select(key_col).distinct(), key_col, "left_anti")
        merged = kept.unionByName(df).localCheckpoint(eager=True)
        merged.write.mode("overwrite").parquet(ref)

    def create_pages_table_sql(self, ref: str) -> str:
        """The Iceberg DDL the pipeline targets in production — hidden
        partitioning by warc_ts day + url bucket (the north rule's
        'warc_ts buckets with salted repartitioning' at the storage
        layer)."""
        return (
            f"CREATE TABLE IF NOT EXISTS {ref} (\n"
            "  url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING\n"
            ") USING iceberg\n"
            "PARTITIONED BY (days(warc_ts), bucket(64, url))"
        )


def read(spark: SparkSession, ref: str) -> DataFrame:
    """Read one table.  Parquet by default: no per-read JVM probe for
    the Iceberg runtime."""
    return TableIO(spark).read(ref)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The ``<name>.parquet`` table under a scale-factor directory."""
    return read(spark, f"{sf_dir}/{name}.parquet")


def get_table_io(spark: SparkSession, prefer_iceberg: bool = True) -> TableIO:
    fmt = "iceberg" if (prefer_iceberg and iceberg_available(spark)) else "parquet"
    return TableIO(spark, fmt)
