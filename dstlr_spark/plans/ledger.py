"""Resumable execution: per-bucket progress ledger with lineage + metrics.

The reference has job-level overwrite semantics only — an interrupted
run deletes its output directory and restarts from zero
(ExtractTriples.scala:51). The north rule requires checkpointed
per-partition progress so interrupted runs resume exactly.

Design (SURVEY.md §2.9):
- Work is split into deterministic conv-id buckets:
  ``bucket = pmod(xxhash64(conv_id), n_buckets)``. A conversation's
  turns always land in one bucket, so each bucket is independently
  assemble-able.
- Each bucket runs as its own job and writes its triples to
  ``out_dir/bucket=<b>`` with overwrite semantics (idempotent: a
  re-run of a half-written bucket replaces it).
- AFTER the data commit, one ledger row is appended:
  (bucket, n_input_rows, input_fingerprint, n_triples, wall_sec,
  finished_ts). The data-then-ledger order makes the ledger a
  conservative watermark — a crash between the two re-runs one bucket,
  never skips one.
- Resume = the ledger read once per run into a ``{bucket: row}`` dict;
  the pending buckets are the ones missing from it. The triple counts
  are observed on the write that commits them (the reference likewise
  counts its output with accumulators on the job that does the work,
  ExtractTriples.scala:46-48,140), so the output is never read back.

At cluster scale ``n_buckets`` is sized so one bucket ≈ one
comfortable job (e.g. 4096 buckets over 10^12 turns); Iceberg snapshot
commits replace the directory-overwrite semantics.
"""

from __future__ import annotations

import shutil
import time
from pathlib import Path
from typing import Callable

from pyspark.sql import DataFrame, Observation, Row, SparkSession
from pyspark.sql import functions as F

LEDGER_SCHEMA = (
    "bucket int, n_input_rows long, input_fingerprint long, n_triples long, "
    "wall_sec double, finished_ts timestamp"
)


def bucket_expr(key: str = "conv_id", n_buckets: int = 16):
    return F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("int")


def read_ledger(spark: SparkSession, ledger_dir: str) -> DataFrame:
    if not Path(ledger_dir).exists():
        return spark.createDataFrame([], LEDGER_SCHEMA)
    return spark.read.schema(LEDGER_SCHEMA).parquet(ledger_dir)


def _committed(spark: SparkSession, ledger_dir: str) -> dict[int, Row]:
    """The ledger as ``{bucket: row}`` (at most ``n_buckets`` rows); an
    absent ledger is ``{}``, answered without a Spark job."""
    if not Path(ledger_dir).exists():
        return {}
    return {r["bucket"]: r for r in read_ledger(spark, ledger_dir).collect()}


def _fingerprints(
    df: DataFrame, key: str, n_buckets: int
) -> dict[int, tuple[int, int]]:
    """Per-bucket lineage of ``df``: ``{bucket: (n_rows, fingerprint)}``,
    the fingerprint an order-independent xor-fold of the rows' content
    hashes — exact under any partitioning or order, so a bucket whose
    input changed upstream (backfill, compaction rewrite, late turns)
    after its commit is detectable. One grouped aggregate."""
    return {
        r["_bucket"]: (r["n"], r["fp"])
        for r in df.groupBy(bucket_expr(key, n_buckets).alias("_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(f"bit_xor(xxhash64({key}, turn_idx, text))").alias("fp"),
        )
        .collect()
    }


def run_with_ledger(
    transcripts: DataFrame,
    out_dir: str,
    ledger_dir: str,
    pipeline_fn: Callable[[DataFrame], DataFrame],
    key: str = "conv_id",
    n_buckets: int = 16,
    group_size: int = 8,
    recheck_lineage: bool = False,
) -> dict[str, int]:
    """Process every pending bucket; returns {processed, skipped} counts.

    ``pipeline_fn`` maps a transcript chunk to its triple DataFrame.
    Safe to call repeatedly / after a crash: the ledger is read once,
    committed buckets are skipped and partial buckets are overwritten.
    With ``recheck_lineage=True`` the committed rows are compared with
    one fingerprint aggregate over ``transcripts``; buckets whose input
    changed are dropped from the ledger (the kept rows are written
    back, nothing is read again) and re-run first.

    Pending buckets run in GROUPS of ``group_size``: one job per group,
    not one per bucket — at the documented 4,096-bucket scale per-bucket
    jobs would mean 4,096 serial driver submissions; grouping keeps the
    driver loop O(n_buckets / group_size) while the ledger keeps
    per-bucket rows (resume granularity is unchanged). Within a group
    the triples write is ONE dynamic-partition-overwrite job
    (``bucket=<b>`` dirs, only the group's partitions replaced) whose
    per-bucket triple counts are observed on the write itself, input
    lineage is ONE grouped aggregate, and the group's ledger rows are
    appended strictly AFTER the data commit — a crash inside a group
    re-runs that whole group, never skips a bucket (the conservative-
    watermark rule, now at group granularity).
    """
    spark = transcripts.sparkSession
    committed = _committed(spark, ledger_dir)
    if recheck_lineage and committed:
        current = _fingerprints(transcripts, key, n_buckets)
        stale = [
            b
            for b, r in committed.items()
            if current.get(b, (0, None)) != (r["n_input_rows"], r["input_fingerprint"])
        ]
        if stale:
            for b in stale:
                del committed[b]
            # the kept rows are already collected, so the overwrite reads
            # nothing it replaces; a crash inside it leaves no ledger and
            # the next run redoes every bucket — never a skipped one
            spark.createDataFrame(list(committed.values()), LEDGER_SCHEMA).write.mode(
                "overwrite"
            ).parquet(ledger_dir)
            for b in stale:
                # a bucket whose input vanished entirely emits no rows on
                # the re-run, so dynamic overwrite would leave its old dir
                shutil.rmtree(Path(out_dir) / f"bucket={b}", ignore_errors=True)
    processed = 0
    pending = [b for b in range(n_buckets) if b not in committed]

    for g in range(0, len(pending), group_size):
        group = pending[g : g + group_size]
        t0 = time.perf_counter()
        chunk = transcripts.where(bucket_expr(key, n_buckets).isin(group))
        stats = _fingerprints(chunk, key, n_buckets)
        # the triple's bucket is re-derived from its provenance key (doc
        # = conv_id by construction), so one partitioned write commits
        # every bucket of the group in a single job, and the same job
        # counts each bucket's triples (0 for a bucket that wrote none)
        written = Observation()
        counts = [F.count_if(F.col("bucket") == b).alias(str(b)) for b in group]
        (
            pipeline_fn(chunk)
            .withColumn("bucket", bucket_expr("doc", n_buckets))
            .observe(written, *counts)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(out_dir)
        )
        n_triples = written.get
        wall = time.perf_counter() - t0
        # ledger commit strictly after the data commit (watermark rule);
        # one append of the whole group's rows, still one row per bucket
        rows = [
            (b, *stats.get(b, (0, None)), n_triples[str(b)], wall / len(group), None)
            for b in group
        ]
        spark.createDataFrame(rows, LEDGER_SCHEMA).withColumn(
            "finished_ts", F.current_timestamp()
        ).write.mode("append").parquet(ledger_dir)
        processed += len(group)
    return {"processed": processed, "skipped": len(committed)}


def read_output(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read all bucket outputs back as one DataFrame. A run whose every
    bucket emitted zero rows has no ``bucket=`` dirs at all (dynamic
    overwrite writes nothing) — that is an empty result, not an error."""
    if not any(Path(out_dir).glob("bucket=*")):
        from dstlr_spark.schemas import TRIPLE_SCHEMA

        return spark.createDataFrame([], TRIPLE_SCHEMA).withColumn(
            "bucket", F.lit(None).cast("int")
        )
    return spark.read.option("basePath", out_dir).parquet(f"{out_dir}/bucket=*")
