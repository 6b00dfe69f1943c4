"""Canonicalization: cross-document entity identity via connected components.

The reference's identity model is *within-document only*: one UUID per
lemma key per doc (ExtractTriples.scala:73,102); cross-document identity
exists only implicitly through Neo4j MERGE on mention ids at load time.
The north rule generalizes this: a ``canonical_id`` per mention cluster,
where mentions are connected when they share an identity signal:

  1. same lemma key (the reference's own coreference-by-lemma rule,
     lifted across documents), or
  2. same resolved link target (two spellings linking to one entity).

Design for 10^12-turn scale:
- Signal 1 needs no edges. All mentions of one key are connected, so
  the key group contracts to one vertex, its minimum mention id (the
  *rep*); one pass maps every mention to its rep. The 10^6 mentions of
  "Obama" are one vertex, and connected components runs over a graph
  of keys, not mentions: its rounds shuffle vocabulary-sized data.
  This is exact, because a component's minimum over a key group is
  that group's rep.
- Signal 2 is **star edges** over (rep, entity) pairs (member →
  group-min), one edge per member instead of O(group²) pairs.
- Components by iterative min-label propagation with pointer doubling
  over the symmetric edge set: each round is a few joins and one
  aggregate; lineage is cut every round with ``localCheckpoint`` (on a
  cluster: a checkpoint dir) so plans don't grow exponentially. The
  checkpoint job also counts the round's changed labels, and the loop
  stops when none changed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from dstlr_spark.operators.graph import symmetrize


def star_edges(df: DataFrame, id_col: str, group_col: str) -> DataFrame:
    """Group members → (src=member, dst=group minimum). O(n) edges."""
    w_min = df.groupBy(group_col).agg(F.min(id_col).alias("dst"))
    return (
        df.select(F.col(id_col).alias("src"), F.col(group_col).alias("g"))
        .join(w_min.withColumnRenamed(group_col, "g"), "g")
        .select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )


#: round budget of :func:`connected_components`
CC_MAX_ITER = 50


def connected_components(edges: DataFrame) -> DataFrame:
    """``edges(src, dst)`` → ``(id, component)`` with component = min id.

    Deterministic: the component representative is the lexicographic
    minimum member id. A self-loop ``(v, v)`` makes ``v`` a vertex.

    Raises ``RuntimeError`` if labels are still changing after
    CC_MAX_ITER rounds — min-label propagation needs diameter-many
    rounds, and silently returning a partially merged clustering would
    present non-convergence as a valid result.
    """
    sym = symmetrize(edges).localCheckpoint()
    labels = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("component"))
        .localCheckpoint()
    )

    changed = -1
    for _ in range(CC_MAX_ITER):
        # neighbour minimum: for each dst, min over its neighbours' labels
        nbr = (
            sym.join(labels, sym["src"] == labels["id"], "inner")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("component").alias("nbr_min"))
        )
        # ``prev`` rides along so the round's change count needs no join
        stepped = labels.join(nbr, "id", "left").select(
            "id",
            F.least(
                F.col("component"), F.coalesce(F.col("nbr_min"), F.col("component"))
            ).alias("component"),
            F.col("component").alias("prev"),
        )
        # pointer doubling: follow the label chain one hop
        # (component := label(component)) — min-label alone needs
        # diameter-many rounds; compressing through the current mapping
        # makes chains collapse in O(log diameter) rounds, i.e. fewer
        # shuffles at 10^12 scale. Component values are always vertex
        # ids, so the self-join is total (coalesce is belt-and-braces).
        chain = stepped.select(
            F.col("id").alias("component"), F.col("component").alias("root")
        )
        # the round's change count is observed on the checkpoint job
        # that materializes the labels, not counted by a job of its own
        moved = Observation()
        labels = (
            stepped.join(chain, "component", "left")
            .select(
                "id",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("root"), F.col("component")),
                ).alias("component"),
                "prev",
            )
            .observe(
                moved, F.count_if(F.col("component") != F.col("prev")).alias("n")
            )
            .localCheckpoint()
        )
        changed = moved.get["n"]
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"connected_components did not converge in {CC_MAX_ITER} iterations "
            f"({changed} labels still changing); raise CC_MAX_ITER — the graph's "
            "diameter exceeds the round budget"
        )
    return labels.select("id", "component")


def canonicalize_mentions(mentions: DataFrame, links_to: DataFrame) -> DataFrame:
    """→ (mention_id, canonical_id). Additive: never rewrites the
    reference-shape per-doc ids (SURVEY.md §7 Stage 3 invariant).

    ``mentions`` needs (mention_id, key) with non-null ids; a mention id
    listed twice keeps one of its keys. ``links_to`` needs (mention_id,
    entity_id). The output has one row per mention, plus one per linked
    id missing from ``mentions`` whose entity links another id too.
    """
    m = mentions.select("mention_id", "key").dropDuplicates(["mention_id"])
    key_min = (
        m.where(F.col("key").isNotNull())
        .groupBy("key")
        .agg(F.min("mention_id").alias("rep"))
    )
    # each mention → its key group's minimum id; an unkeyed mention is
    # its own group (a null key is no identity signal)
    reps = (
        m.join(key_min, "key", "left")
        .select("mention_id", F.coalesce("rep", "mention_id").alias("rep"))
        .localCheckpoint()
    )
    pairs = (
        links_to.where(F.col("entity_id").isNotNull())
        .join(reps, "mention_id", "left")
        .select(F.coalesce("rep", "mention_id").alias("rep"), "entity_id")
    )
    cc = connected_components(star_edges(pairs, "rep", "entity_id"))
    keyed = reps.join(cc, reps["rep"] == cc["id"], "left").select(
        "mention_id", F.coalesce("component", "rep").alias("canonical_id")
    )
    # graph vertices that are no mention's rep: links to unknown mentions
    # (matched against the reps only, one per key, so the keyed mentions
    # are not read again)
    rep_ids = reps.where(F.col("mention_id") == F.col("rep")).select(
        F.col("rep").alias("id")
    )
    orphans = cc.join(rep_ids, "id", "left_anti").select(
        F.col("id").alias("mention_id"), F.col("component").alias("canonical_id")
    )
    return keyed.unionByName(orphans)
