"""Catalog-agnostic table layer (SURVEY.md §7 Stage 0).

In production the engine reads Iceberg tables by catalog name. This
sandbox has no Iceberg runtime jar, so ``read_table`` falls back to
parquet paths — the call-site API is identical, which is the point:
operators never know which catalog they run against.

Writes go to parquet. The bucketed idempotent write is the ledger's
(``plans/ledger.py``): each group of ``bucket = pmod(xxhash64(conv_id),
n)`` partitions is replaced by one dynamic-partition overwrite, so a
re-run replaces whole partitions (the reference's manual
``FileSystem.delete`` + parquet write, ExtractTriples.scala:51,137).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


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


def write_text_sink(df: DataFrame, location: str) -> None:
    """K4: dirty-tuple text sink — JSON lines, one object per row (the
    reference dumps clean-query results with ``saveAsTextFile``,
    CleanTriples.scala:65; JSON lines are its structured analog and stay
    a parallel write: one file per partition, no coalesce(1))."""
    df.write.mode("overwrite").json(location)
