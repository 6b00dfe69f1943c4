"""Invariant pins for the KG export/training-data builders added at the
round-4 close: mention-context windows, the adjacency-list export, and
the streaming turn-triple extractor.

The value-hash oracle gate proves engine parity; these pin the
CROSS-QUERY properties parity cannot see — the context window really
contains the mention it was cut around, the adjacency export is the
same graph the degree histogram counts, and the streaming extractor's
turn-local pairs respect the co-occurrence window contract.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from dstlr_spark.operators.extract import extract_mentions_native
from dstlr_spark.queries.doc_kg import (
    CONTEXT_TOKENS,
    COOCCUR_WINDOW,
    _aliases,
    _comention_und,
    _documents,
    _ent_docs,
    _gazetteer,
    q_adjacency_list,
    q_entity_degree_hist,
    q_mention_contexts,
    q_stream_turn_triples,
)

SF = "/root/testdata/sf0.001"


def test_mention_contexts_cover_every_occurrence(spark):
    """One context row per mention occurrence — the training-example
    builder drops nothing and fabricates nothing."""
    n_ctx = q_mention_contexts(spark, SF).count()
    n_occ = extract_mentions_native(
        _documents(spark, SF), _gazetteer(spark), _aliases(spark)
    ).count()
    assert n_ctx == n_occ > 0


def test_mention_context_window_contains_mention(spark):
    """The snippet holds the mention's own token (lemma-keyed: the raw
    token lowercased starts with the key's stem) and is bounded by the
    2*CONTEXT_TOKENS+1 token budget."""
    bad = (
        q_mention_contexts(spark, SF)
        .where(
            (F.size(F.split(F.col("context"), " ")) > 2 * CONTEXT_TOKENS + 1)
            | ~F.array_contains(
                F.transform(
                    F.split(F.col("context"), " "),
                    lambda t: F.lower(F.regexp_replace(t, r"[.?,:;'\"!]", "")),
                ),
                F.col("key"),
            )
        )
        .count()
    )
    assert bad == 0


def test_adjacency_list_matches_degree_hist(spark):
    """The export and the histogram describe the SAME graph: per-degree
    vertex counts agree, and each neighbors string holds exactly
    `degree` comma-separated distinct ids."""
    adj = q_adjacency_list(spark, SF).cache()
    try:
        mism = adj.where(
            F.size(F.split(F.col("neighbors"), ",")) != F.col("degree")
        ).count()
        assert mism == 0
        from_adj = {
            (r["degree"], r["n"])
            for r in adj.groupBy("degree")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        from_hist = {
            (r["degree"], r["n_entities"])
            for r in q_entity_degree_hist(spark, SF).collect()
        }
        assert from_adj == from_hist
    finally:
        adj.unpersist()


def test_adjacency_list_is_symmetric(spark):
    """a lists b ⟺ b lists a — the undirected contract survives the
    union-symmetrize + groupBy."""
    pairs = q_adjacency_list(spark, SF).select(
        F.col("entity_id").alias("src"),
        F.explode(F.split(F.col("neighbors"), ",")).alias("dst"),
    )
    rev = pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    assert pairs.exceptAll(rev).count() == 0
    # and the edge set is exactly the capped co-mention edge set
    und = _comention_und(_ent_docs(spark, SF)).select("src", "dst").distinct()
    n_und = und.count()
    assert pairs.count() == 2 * n_und > 0


def test_stream_turn_triples_window_contract(spark):
    """Every emitted pair is turn-local, forward-ordered, within the
    co-occurrence window, and never self-paired."""
    out = q_stream_turn_triples(spark, SF).cache()
    try:
        assert out.count() > 0
        bad = out.where(
            (F.col("b_pos") <= F.col("a_pos"))
            | (F.col("b_pos") > F.col("a_pos") + COOCCUR_WINDOW)
            | (F.col("subj_key") == F.col("obj_key"))
        ).count()
        assert bad == 0
        # relation name carries both endpoint classes
        malformed = out.where(
            ~F.col("relation").rlike(r"^COOCCURS_[A-Z_]+$")
        ).count()
        assert malformed == 0
    finally:
        out.unpersist()
