"""Entity linking: mention → entity id via broadcast alias dictionary.

The modular form of linking (SURVEY.md J2): the reference's
in-annotator Wikidict lookup (``mention.entity()``,
ExtractTriples.scala:105,216-218) and per-entity SPARQL id resolution
(EnrichTriples.scala:53,99-123) as one broadcast equi-join plus arg-max
scoring over a triple bag. The pipelines resolve links inside their
scans instead (``NativeKG``'s mention scan, the fused bag and the
pattern annotator, all through
:func:`~dstlr_spark.operators.extract.best_alias_entity`); tests compare
them against this operator.

Scale: the alias dictionary is a dimension (≤10^7 rows in practice) —
broadcast; candidate scoring is a ``min_by`` hash aggregate (partial +
final, map-side combine), not a window sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dstlr_spark.functions.text import lemma_key
from dstlr_spark.schemas import META_SCHEMA


def resolve_aliases(mentions: DataFrame, alias_dict: DataFrame) -> DataFrame:
    """Mentions (doc, mention_id, span) → best (entity_id, link_score).

    Deterministic arg-max: highest prior wins, ties broken by smallest
    entity_id — implemented as ``min_by(entity_id, struct(-prior,
    entity_id))``, a single hash aggregate. Unresolvable spans keep a
    null entity_id. BOTH join sides are lemma-normalized (C2): the span
    key so plural surface forms resolve, and the alias so an inflected
    dictionary entry (e.g. ``systems``) is not silently dead — in
    lockstep with the fused in-annotator lookup
    (:func:`~dstlr_spark.operators.extract.best_alias_entity`, which
    lemma-keys its dictionary the same way).
    """
    cand = mentions.join(
        F.broadcast(alias_dict),
        lemma_key(mentions["span"]) == lemma_key(alias_dict["alias"]),
        "left",
    )
    return cand.groupBy("doc", "mention_id", "span").agg(
        F.min_by(
            F.col("entity_id"), F.struct((-F.col("prior")).alias("np"), F.col("entity_id"))
        ).alias("entity_id"),
        F.max("prior").alias("link_score"),
    )


def link_mentions(mention_triples: DataFrame, alias_dict: DataFrame) -> DataFrame:
    """MENTIONS triples → LINKS_TO triples (X7/J2).

    Input: reference-shape MENTIONS rows (objectValue = mention id,
    meta.span = surface form). Output: one LINKS_TO row per distinct
    (doc, mention id): ``(doc, Mention, mention_id, LINKS_TO, Entity,
    entity_id|null, meta=null)`` — null objectValue preserved for
    unresolved mentions exactly as the reference emits them
    (ExtractTriples.scala:216-218; filtered later at
    EnrichTriples.scala:48).
    """
    mentions = (
        mention_triples.where(F.col("relation") == "MENTIONS")
        .select(
            F.col("doc"),
            F.col("objectValue").alias("mention_id"),
            F.col("meta")["span"].alias("span"),
        )
        .dropDuplicates(["doc", "mention_id"])
    )
    best = resolve_aliases(mentions, alias_dict)
    return best.select(
        F.col("doc"),
        F.lit("Mention").alias("subjectType"),
        F.col("mention_id").alias("subjectValue"),
        F.lit("LINKS_TO").alias("relation"),
        F.lit("Entity").alias("objectType"),
        F.col("entity_id").alias("objectValue"),
        F.lit(None).cast(META_SCHEMA).alias("meta"),
    )
