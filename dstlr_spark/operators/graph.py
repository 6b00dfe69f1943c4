"""Graph materialize: triple bag → partitioned node/edge tables.

Replaces the reference's Neo4j bulk load (LoadTriples.scala:19-179)
with columnar tables mirroring the same property-graph schema
(SURVEY.md §1.4):

    (:Document)-[:MENTIONS]->(:Mention {class, span, index[]})
    (:Mention)-[:LINKS_TO]->(:Entity)
    (:Mention)-[:SUBJECT_OF]->(:Relation {type, confidence})-[:OBJECT_OF]->(:Mention)
    (:Entity)-[:HAS_FACT]->(:Fact {relation, value})

What Neo4j's MERGE gave the reference — idempotent upsert — we get from
``dropDuplicates`` on node/edge keys + snapshot overwrite; the
serialization hack (``coalesce(1)``, LoadTriples.scala:37, to dodge
MERGE deadlocks) disappears entirely: every table writes in parallel.

The mention ``index`` accumulating list (ON MATCH SET m.index = m.index
+ [i], LoadTriples.scala:67,189-190) becomes a ``collect_list`` over
span labels, sorted for determinism (A4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dstlr_spark.functions.text import span_index_label, utf8_truncate_1024


def split_triples(triples: DataFrame) -> dict[str, DataFrame]:
    """F7/F8 routing: the 4-way disjoint split of LoadTriples.scala:39-146."""
    non_fact = triples.where(F.col("objectType") != "Fact")
    return {
        "mentions": non_fact.where(F.col("relation") == "MENTIONS"),
        "links": non_fact.where(
            (F.col("relation") == "LINKS_TO") & F.col("objectValue").isNotNull()
        ),
        "relations": non_fact.where(
            (F.col("relation") != "MENTIONS") & (F.col("relation") != "LINKS_TO")
        ),
        "facts": triples.where(F.col("objectType") == "Fact"),
    }


def graph_tables(
    mentions: DataFrame, links: DataFrame, relations: DataFrame, facts: DataFrame
) -> dict[str, DataFrame]:
    """The six graph tables, defined once for every builder.

    Inputs: ``mentions`` (doc_id, mention_id, entity_class, span,
    normalized, begin, end), one row per occurrence; ``links``
    (mention_id, entity_id), entity_id null when unresolved;
    ``relations`` already in ``relation_edges`` shape; ``facts``
    (entity_id, relation, value). Keys are deduped (MERGE semantics).
    """
    # Mention node: id + class/span (first wins, as MERGE ON CREATE) +
    # accumulated sorted index list (A4).
    mention_nodes = (
        mentions.groupBy("mention_id")
        .agg(
            F.min_by(
                F.struct("entity_class", "span", "normalized"),
                F.struct("doc_id", "begin"),
            ).alias("attrs"),
            F.sort_array(F.collect_list(span_index_label("begin", "end"))).alias("index"),
        )
        .select(
            "mention_id",
            F.col("attrs")["entity_class"].alias("entity_class"),
            # C9: the reference caps spans at 1024 BYTES for the Neo4j
            # index (LoadTriples.scala:16-17,55-59); we truncate on a
            # code-point boundary (documented divergence, SURVEY C9)
            utf8_truncate_1024(F.col("attrs")["span"]).alias("span"),
            F.col("attrs")["normalized"].alias("normalized"),
            "index",
        )
    )
    links_to = links.where(F.col("entity_id").isNotNull()).dropDuplicates(
        ["mention_id", "entity_id"]
    )
    fact_edges = facts.dropDuplicates(["entity_id", "relation", "value"])
    entity_nodes = (
        links_to.select("entity_id")
        .unionByName(fact_edges.select("entity_id"))
        .distinct()
    )
    return {
        "mention_nodes": mention_nodes,
        "mentions_edges": mentions.select("doc_id", "mention_id", "begin", "end"),
        "links_to": links_to,
        "relation_edges": relations,
        "fact_edges": fact_edges,
        "entity_nodes": entity_nodes,
    }


def triple_edges(
    links: DataFrame, relations: DataFrame, facts: DataFrame
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """LINKS_TO, relation and Fact triples → the ``links``, ``relations``
    and ``facts`` inputs of :func:`graph_tables`."""
    return (
        links.select(
            F.col("subjectValue").alias("mention_id"),
            F.col("objectValue").alias("entity_id"),
        ),
        relations.select(
            F.col("doc").alias("doc_id"),
            F.col("subjectValue").alias("subject_mention_id"),
            F.col("relation").alias("type"),
            F.col("meta")["confidence"].alias("confidence"),
            F.col("objectValue").alias("object_mention_id"),
        ),
        facts.select(
            F.col("subjectValue").alias("entity_id"),
            "relation",
            F.col("objectValue").alias("value"),
        ),
    )


def materialize_graph(triples: DataFrame) -> dict[str, DataFrame]:
    """Triple bag → {mention_nodes, mentions_edges, links_to, relation_edges,
    fact_edges, entity_nodes} DataFrames via :func:`graph_tables`.

    A MENTIONS row carries its document id in both ``doc`` and
    ``subjectValue`` (every producer emits them equal), so one
    ``doc_id`` column serves the edge and the mention-node tie-break."""
    parts = split_triples(triples)
    meta = F.col("meta")
    mentions = parts["mentions"].select(
        F.col("subjectValue").alias("doc_id"),
        F.col("objectValue").alias("mention_id"),
        *(meta[c].alias(c) for c in ("entity_class", "span", "normalized", "begin", "end")),
    )
    return graph_tables(
        mentions, *triple_edges(parts["links"], parts["relations"], parts["facts"])
    )


def validate_fk(graph: dict[str, DataFrame]) -> dict[str, int]:
    """J4: orphan-edge checks via left anti joins — the rebuild's analog of
    Neo4j MATCH failing silently (LoadTriples.scala:199,210-211,221)."""
    mention_ids = graph["mention_nodes"].select("mention_id")
    orphans = {
        "links_to_orphans": graph["links_to"]
        .join(mention_ids, "mention_id", "left_anti")
        .count(),
        "relation_subject_orphans": graph["relation_edges"]
        .join(
            mention_ids.withColumnRenamed("mention_id", "subject_mention_id"),
            "subject_mention_id",
            "left_anti",
        )
        .count(),
        "relation_object_orphans": graph["relation_edges"]
        .join(
            mention_ids.withColumnRenamed("mention_id", "object_mention_id"),
            "object_mention_id",
            "left_anti",
        )
        .count(),
    }
    return orphans
