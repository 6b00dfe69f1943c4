"""The transcripts build, composed once (SURVEY.md §7 Stage 1-2).

transcripts → assemble → salted repartition → extract with fused
linking → [enrich] → triples bag → graph tables.

Each step is an independent operator; this module only composes them,
and the jobs (``jobs/extract.py``, ``jobs/load.py``, ``jobs/build_kg.py``)
and the in-process reference (:func:`build_triples`) run these stages —
the reference's analog is the spark-submit jobs chained by parquet
paths, bin/*.sh.
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
from dstlr_spark.operators.graph import materialize_graph


def extract_chunk(
    transcripts: DataFrame,
    aliases: DataFrame,
    partitions: int = 8,  # package.scala:30
    sent_threshold: int = DEFAULT_SENT_THRESHOLD,
) -> DataFrame:
    """The extract stage: transcripts → mention, relation and LINKS_TO
    triples. Linking is fused into the one annotator pass (in-annotator
    Wikidict lookup, ExtractTriples.scala:105)."""
    docs = salted_repartition(assemble_documents(transcripts), partitions)
    return extract_triples_pattern(docs, sent_threshold, aliases)


def build_triples(
    transcripts: DataFrame,
    alias_dict: DataFrame,
    facts: DataFrame,
    property_relation: DataFrame,
    sent_threshold: int = DEFAULT_SENT_THRESHOLD,
) -> DataFrame:
    """transcripts → full TripleRow bag (mentions + relations + links + facts)."""
    # persisted because the bag feeds two consumers (enrich + the final
    # union) — without it the annotator would run per consumer
    base = extract_chunk(transcripts, alias_dict, sent_threshold=sent_threshold).persist()
    gt = enrich_triples(base, facts, property_relation)
    return base.unionByName(gt)


def write_graph(bag: DataFrame, graph_dir: str) -> dict[str, DataFrame]:
    """The load stage: triple bag → the six graph tables, each written to
    ``graph_dir/<table>`` and returned as read back from there, so a
    consumer (FK check, canonicalize) reads what was written instead of
    re-planning the graph from the bag."""
    tables = materialize_graph(bag)
    for name, df in tables.items():
        df.write.mode("overwrite").parquet(f"{graph_dir}/{name}")
    spark = bag.sparkSession
    return {name: spark.read.parquet(f"{graph_dir}/{name}") for name in tables}


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
