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
    """F7/F8 routing: the 4-way disjoint split of LoadTriples.scala:39-146,
    facts by ``objectType`` and the rest by ``relation``.

    MENTIONS and LINKS_TO also require their endpoint type from the
    schema above, ``(:Document)-[:MENTIONS]`` and ``[:LINKS_TO]->(:Entity)``,
    which every producer emits, and relations are the rows neither route
    takes. The types are literals in each producer's projection, so
    Catalyst folds every route per union branch: a bag branch that cannot
    hold a table's rows is pruned from its plan, and the relation
    self-join, whose ``relation`` is a ``concat_ws``, is read by its own
    table with no residual filter on that name."""
    is_mention = (F.col("relation") == "MENTIONS") & (F.col("subjectType") == "Document")
    is_link = (F.col("relation") == "LINKS_TO") & (F.col("objectType") == "Entity")
    non_fact = triples.where(F.col("objectType") != "Fact")
    return {
        "mentions": non_fact.where(is_mention),
        "links": non_fact.where(is_link & F.col("objectValue").isNotNull()),
        "relations": non_fact.where(~is_mention & ~is_link),
        "facts": triples.where(F.col("objectType") == "Fact"),
    }


def symmetrize(edges: DataFrame) -> DataFrame:
    """``edges(src, dst)`` ∪ the same edges reversed: the directed form
    of an undirected edge list, one row per (vertex, neighbor)."""
    return edges.select("src", "dst").unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def materialize_graph(triples: DataFrame) -> dict[str, DataFrame]:
    """Triple bag → {mention_nodes, mentions_edges, links_to, relation_edges,
    fact_edges, entity_nodes}, the one graph builder. Keys are deduped
    (MERGE semantics).

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
    # the split keeps only resolved links: entity_id is never null
    links = parts["links"].select(
        F.col("subjectValue").alias("mention_id"),
        F.col("objectValue").alias("entity_id"),
    )
    facts = parts["facts"].select(
        F.col("subjectValue").alias("entity_id"),
        "relation",
        F.col("objectValue").alias("value"),
    )
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
    return {
        "mention_nodes": mention_nodes,
        "mentions_edges": mentions.select("doc_id", "mention_id", "begin", "end"),
        "links_to": links.dropDuplicates(["mention_id", "entity_id"]),
        "relation_edges": parts["relations"].select(
            F.col("doc").alias("doc_id"),
            F.col("subjectValue").alias("subject_mention_id"),
            F.col("relation").alias("type"),
            meta["confidence"].alias("confidence"),
            F.col("objectValue").alias("object_mention_id"),
        ),
        "fact_edges": facts.dropDuplicates(["entity_id", "relation", "value"]),
        # from the raw inputs, not the two deduped tables: one distinct
        # instead of re-running the link and fact dedupes beneath it
        "entity_nodes": links.select("entity_id")
        .unionByName(facts.select("entity_id"))
        .distinct(),
    }


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
