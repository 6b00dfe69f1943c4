"""Document assembly: transcripts → per-conversation documents.

This transform replaces the reference's pass-through document source
(SURVEY.md §1.2): the source of truth is a table of multi-turn
transcripts, and the flat document is *derived* under stable
``(conv_id, turn_idx)`` ordering — the driver's per-row invariant is
per-turn text equality under that ordering.

Scale design:
- One shuffle, on ``conv_id`` (the groupBy key). At 10^12 turns this is
  the big exchange; AQE coalesces/splits post-shuffle partitions.
- Ordering is enforced by ``array_sort`` on ``struct(turn_idx, text)``
  *inside* the aggregation — no global sort, no window, no
  ``orderBy`` (which would be a second exchange + range partitioner).
- Long-conversation skew is handled downstream by salted repartition
  before the extraction UDF (see :func:`salted_repartition`): the
  groupBy itself cannot be salted without a two-phase reassembly, and
  a single conversation's turns always fit one task's memory because
  documents are bounded by the F3 sentence guard anyway; a 1000-turn
  outlier is ~100 KB, not a straggler for the *shuffle* — it is a
  straggler for the *NLP stage*, which is where the salt goes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def assemble_documents(transcripts: DataFrame) -> DataFrame:
    """``groupBy(conv_id)`` → stable-ordered concat of per-turn text.

    Filters F1/F2 (null/empty conv_id and text,
    ExtractTriples.scala:64-65) are applied here so invalid rows never
    reach the shuffle. Returns ``documents(doc_id, contents)``.
    """
    return (
        transcripts.where(
            F.col("conv_id").isNotNull()
            & (F.col("conv_id") != "")
            & F.col("text").isNotNull()
            & (F.col("text") != "")
        )
        .groupBy(F.col("conv_id").alias("doc_id"))
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("turn_idx"), F.col("text")))
            ).alias("turns")
        )
        .select(
            "doc_id",
            F.array_join(
                F.transform(F.col("turns"), lambda t: t["text"]), " "
            ).alias("contents"),
        )
    )


def salted_repartition(df: DataFrame, n: int) -> DataFrame:
    """Salted repartition before the CPU-heavy extraction stage.

    The reference load-balances with a blunt round-robin
    ``repartition(conf.partitions())`` (ExtractTriples.scala:63). Pure
    round-robin destroys key locality; pure hash(doc_id) lets one huge
    conversation pin a partition. Salting on ``(doc_id, salt)`` keeps
    documents of one conversation co-located *per salt bucket* while
    spreading hot keys across 8 salt buckets.

    The salt is derived ONLY from row content (``xxhash64`` over every
    column), never from ``monotonically_increasing_id()`` or ``rand()``:
    a nondeterministic partitioning expression re-deals rows differently
    when a stage retries after a shuffle-fetch failure — the
    SPARK-23207 lost/duplicated-row class — and would break the
    ledger's resume-equals-one-shot guarantee. Content hashing keeps
    retries byte-identical.
    """
    # xxhash64 rejects MapType columns — hash
    # only hashable column types; the salt stays content-derived as long
    # as at least one non-map column exists (all realistic inputs do)
    cols = [
        F.col(f.name) for f in df.schema.fields
        if not f.dataType.typeName().startswith("map")
    ]
    if not cols:
        raise ValueError("salted_repartition needs at least one non-map column")
    return df.repartition(
        n,
        F.col("doc_id"),
        F.pmod(F.xxhash64(*cols), F.lit(8)),
    )
