"""Enrichment: linked entities → ground-truth Fact triples.

Reimplements EnrichTriples.scala:19-97 with the three synchronous
SPARQL RPC tiers (id lookup :99-123, property list :125-148, property
value :150-168) collapsed into local broadcast joins — no network I/O
inside tasks (SURVEY.md §3.2).

Reference semantics preserved exactly:
- operate on the DISTINCT set of linked entities (A1,
  EnrichTriples.scala:46-50) — dedupe before expensive work;
- route only properties P159 (headquarters) and P569/P570 (birth/death
  dates); every *other* mapped property is dropped
  (EnrichTriples.scala:79-83);
- P159 fans out to ALL relations mapped for it in wikidata.csv —
  city/country/stateorprovince each receive the same fact value
  (EnrichTriples.scala:80; a reference quirk we reproduce);
- dates reformatted ``yyyy-MM-dd'T'HH:mm:ss'Z'`` → ``yyyy-MM-dd`` (C6,
  :57-58,67);
- output rows ``("ground-truth", "Entity", <entity>, <relation>,
  "Fact", <value>, null)`` (:62,67).

Divergence (documented): the Entity node key is the resolved
``entity_id`` (stable Wikidata-style id) rather than the surface name —
our linking already resolves ids, and a stable key is what cross-doc
canonicalization needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dstlr_spark.functions.text import reformat_sparql_date
from dstlr_spark.schemas import META_SCHEMA

ROUTED_PROPERTIES = ("P159", "P569", "P570")
DATE_PROPERTIES = ("P569", "P570")


def linked_entities(triples: DataFrame) -> DataFrame:
    """F4+F5+A1: LINKS_TO rows → distinct non-null entity ids
    (EnrichTriples.scala:46-50)."""
    return (
        triples.where(
            (F.col("relation") == "LINKS_TO")
            # the LINKS_TO endpoint type: a literal in every producer, so
            # the filter prunes a bag's relation self-join from the plan
            & (F.col("objectType") == "Entity")
            & F.col("objectValue").isNotNull()
        )
        .select(F.col("objectValue").alias("entity_id"))
        .distinct()
    )


def enrich_triples(
    triples: DataFrame, facts: DataFrame, property_relation: DataFrame
) -> DataFrame:
    """Linked entities ⨝ facts ⨝ property→relation multimap → Fact triples.

    Join plan: entities (big, distinct) ⨝ facts on entity_id — a shuffle
    hash/sort-merge join at scale; the 46-row multimap and the routing
    filter are broadcast so the fan-out happens map-side.
    """
    mapping = F.broadcast(
        property_relation.where(
            F.col("property").isNotNull() & (F.col("property") != "")
        )  # empty-property rows filtered (EnrichTriples.scala:39)
    )
    routed = (
        linked_entities(triples)
        .join(facts, "entity_id", "inner")
        .where(F.col("property").isin(*ROUTED_PROPERTIES))
        .join(mapping, "property", "inner")  # J1 multimap fan-out
    )
    value = F.when(
        F.col("property").isin(*DATE_PROPERTIES),
        reformat_sparql_date(F.col("value")),
    ).otherwise(F.col("value"))
    return routed.select(
        F.lit("ground-truth").alias("doc"),
        F.lit("Entity").alias("subjectType"),
        F.col("entity_id").alias("subjectValue"),
        F.col("relation").alias("relation"),
        F.lit("Fact").alias("objectType"),
        value.alias("objectValue"),
        F.lit(None).cast(META_SCHEMA).alias("meta"),
    )
