"""End-to-end KG-construction pipeline wiring (SURVEY.md §7 Stage 1-2).

transcripts → assemble → [salted repartition] → extract → link → enrich
→ triples bag → graph tables → clean queries.

Each step is an independent operator; this module only composes them
(the reference's analog is the four spark-submit jobs chained by
parquet paths, bin/*.sh).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dstlr_spark.operators.assembly import assemble_documents, salted_repartition
from dstlr_spark.operators.enrich import enrich_triples
from dstlr_spark.operators.extract import (
    DEFAULT_SENT_THRESHOLD,
    extract_triples_pattern,
)


def build_triples(
    transcripts: DataFrame,
    alias_dict: DataFrame,
    facts: DataFrame,
    property_relation: DataFrame,
    n_partitions: int | None = None,
    sent_threshold: int = DEFAULT_SENT_THRESHOLD,
) -> DataFrame:
    """transcripts → full TripleRow bag (mentions + relations + links + facts)."""
    docs = assemble_documents(transcripts)
    if n_partitions:
        docs = salted_repartition(docs, n_partitions)
    # Fused in-annotator linking: mentions + relations + LINKS_TO in ONE
    # annotator pass; persisted because the bag still feeds two consumers
    # (enrich + the final union) — without it the annotator would run per
    # consumer.
    base = extract_triples_pattern(docs, sent_threshold, alias_dict).persist()
    gt = enrich_triples(base, facts, property_relation)
    return base.unionByName(gt)


def observe_metrics(df: DataFrame, name: str = "metrics"):
    """X10/A5: row counters without a second pass — Spark ``observe``
    replaces the reference's accumulators (ExtractTriples.scala:46-48).

    Returns ``(df, observation)``; read ``observation.get`` after the
    first action. Exact DISTINCT is not allowed inside observed metrics;
    the sketch is the right tool for a progress counter anyway.
    """
    from pyspark.sql import Observation

    obs = Observation(name)
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("triples"),
        F.approx_count_distinct(F.col("doc")).alias("docs"),
    )
    return observed, obs
