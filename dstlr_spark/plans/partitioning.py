"""Scan fan-out for map-heavy pipelines (optimization guide §2/§6).

The driver's testdata tables are single-file, single-row-group parquet:
a parquet scan cannot split below a row-group boundary, so every
downstream map stage (Arrow annotators, codec decode, LSH hashing,
GEMM blocks) inherits ONE partition and runs on one core of
``local[32]`` unless something re-spreads it.

:func:`fan_out` repartitions ONLY when the input has fewer partitions
than the session's parallelism — scale-adaptive by construction:

- locally (few row groups) it round-robins the small frame across all
  cores, one cheap exchange of the narrow projected columns;
- at 100 TB the scan already carries thousands of splits, the guard is
  false, and no exchange is added (a blanket ``repartition(n)`` there
  would be a full shuffle of the corpus — the anti-pattern the guide
  warns about).

Round-robin (keyless) repartition is used deliberately: there is no
join/aggregation key to co-partition for — the goal is purely even
map-side spread — and Spark's sort-before-repartition keeps the
row-to-partition assignment deterministic under task retry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def fan_out(df: DataFrame) -> DataFrame:
    """Spread ``df`` across at least ``defaultParallelism`` partitions,
    unless it already is."""
    target = df.sparkSession.sparkContext.defaultParallelism
    # Job-free partition probe: the planned physical plan's output
    # partitioning is fixed by its topmost exchange, so a frame that was
    # already spread answers from the plan alone (executing its
    # AQE-wrapped plan would run the shuffle stage just to read the
    # count). The split count is the fallback only when the partitioning
    # is unknown; for the projected scans fan_out is given, that means
    # an exchange-free plan, which AQE does not wrap, so no job runs.
    qe = df._jdf.queryExecution()
    partitioning = qe.sparkPlan().outputPartitioning()
    if partitioning.getClass().getSimpleName() == "UnknownPartitioning":
        n = qe.executedPlan().execute().getNumPartitions()
    else:
        n = partitioning.numPartitions()
    if n >= target:
        return df
    return df.repartition(target)
