"""Catalog-agnostic table layer (SURVEY.md §7 Stage 0).

In production the engine reads/writes Iceberg tables (atomic snapshot
overwrite replaces the reference's manual ``FileSystem.delete`` +
parquet write, ExtractTriples.scala:51,137). This sandbox has no
Iceberg runtime jar, so the layer falls back to parquet paths — the
call-site API is identical, which is the point: operators never know
which catalog they run against.

Scale notes: writes are partitioned by a stable bucket of the primary
key (``bucket = pmod(xxhash64(key), n)``) so that (a) re-runs replace
whole partitions idempotently and (b) downstream joins on the key can
use the layout. On Iceberg this becomes a hidden ``bucket(n, key)``
partition transform.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "org.apache.iceberg.spark.source.IcebergSource"
        )
        return True
    except Exception:
        return False


def read_table(spark: SparkSession, location: str) -> DataFrame:
    """Read a table by location: catalog table name if Iceberg is on the
    classpath and the location has no path separator, else a parquet path."""
    if "/" not in location and _iceberg_available(spark):
        return spark.read.format("iceberg").load(location)
    return spark.read.parquet(location)


def write_table(
    df: DataFrame,
    location: str,
    mode: str = "overwrite",
    bucket_key: str | None = None,
    n_buckets: int = 32,
) -> None:
    """Write a table, optionally partitioned by a key bucket.

    Catalog-table locations (no path separator) on an Iceberg-enabled
    session go through ``writeTo``: a missing table is bootstrapped with
    ``createOrReplace()`` (with the hidden ``bucket(n, key)`` partition
    transform when ``bucket_key`` is set), after which
    ``overwritePartitions()`` gives atomic snapshot-isolated partition
    replacement (K1/K2 — the idempotent re-run semantics the parquet
    fallback approximates with directory overwrite). The parquet
    fallback writes a ``bucket=<i>``
    partition dir; on Iceberg the bucketing intent is the hidden
    ``bucket(n, key)`` partition transform instead of a physical column.
    This branch is exercised only where an Iceberg runtime jar exists —
    this sandbox has none, so it is jar-gated, not tested here.
    """
    spark = df.sparkSession
    if "/" not in location and _iceberg_available(spark):
        writer = df.writeTo(location).using("iceberg")
        if bucket_key is not None:
            writer = writer.partitionedBy(F.bucket(n_buckets, F.col(bucket_key)))
        if not spark.catalog.tableExists(location):
            # first write bootstraps the table (writeTo append/overwrite
            # both fail with TABLE_OR_VIEW_NOT_FOUND on a missing target)
            writer.createOrReplace()
            return
        if mode == "overwrite":
            writer.overwritePartitions()
        else:
            writer.append()
        return
    writer = df
    if bucket_key is not None:
        writer = df.withColumn(
            "bucket", F.pmod(F.xxhash64(F.col(bucket_key)), F.lit(n_buckets)).cast("int")
        )
        writer.write.mode(mode).partitionBy("bucket").parquet(location)
        return
    writer.write.mode(mode).parquet(location)


def write_text_sink(df: DataFrame, location: str, mode: str = "overwrite") -> None:
    """K4: dirty-tuple text sink — JSON lines, one object per row (the
    reference dumps clean-query results with ``saveAsTextFile``,
    CleanTriples.scala:65; JSON lines are its structured analog and stay
    a parallel write: one file per partition, no coalesce(1))."""
    df.write.mode(mode).json(location)
