"""Invariant pins for the temporal-provenance family (mention→turn
attribution and its consumers).

The attribution interval join is only correct if turn spans PARTITION
the assembled document: every mention offset must land in exactly one
turn. These tests pin that partition property (completeness: nothing
dropped, nothing double-counted) and the internal consistency of the
downstream rollups — properties the value-hash oracle gate cannot
express because they relate MULTIPLE queries to each other.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from dstlr_spark.queries.doc_kg import (
    NEG_PER_TRIPLE,
    _aliases,
    _documents,
    _gazetteer,
    _linked_entity_pairs,
    _linked_mention_turns,
    q_entity_timeline,
    q_mention_turn_attribution,
    q_negative_samples,
    q_triple_temporal,
)
from dstlr_spark.operators.extract import extract_mentions_native

SF = "/root/testdata/sf0.001"


def test_attribution_partitions_every_mention(spark):
    """Turn spans partition the document: the attribution counts sum to
    EXACTLY the mention-occurrence count — no offset dropped (a gap
    between spans) and none double-attributed (overlapping spans)."""
    attributed = (
        q_mention_turn_attribution(spark, SF)
        .agg(F.sum("n_mentions"))
        .collect()[0][0]
    )
    occurrences = extract_mentions_native(
        _documents(spark, SF), _gazetteer(spark), _aliases(spark)
    ).count()
    assert attributed == occurrences


def test_timeline_consistent_with_linked_occurrences(spark):
    """Per-entity timeline counts roll up exactly the linked
    occurrences, and every interval is well-formed."""
    linked = _linked_mention_turns(spark, SF)
    tl = q_entity_timeline(spark, SF)
    assert tl.agg(F.sum("n_mentions")).collect()[0][0] == linked.count()
    bad = tl.where(
        (F.col("first_ts_s") > F.col("last_ts_s"))
        | (F.col("n_convs") > F.col("n_mentions"))
        | (F.col("n_convs") < 1)
    )
    assert bad.count() == 0


def test_triple_temporal_rolls_up_all_linked_pairs(spark):
    """Temporal triple observation counts sum to the linked-pair
    count: the span join attributes every subject occurrence."""
    pairs = _linked_entity_pairs(spark, SF).count()
    obs = q_triple_temporal(spark, SF).agg(F.sum("n_obs")).collect()[0][0]
    assert obs == pairs


def test_negative_samples_are_corruptions(spark):
    """Every negative differs from the positive object, shares the
    relation's observed-object universe, and each positive triple gets
    at most NEG_PER_TRIPLE negatives with dense ranks."""
    neg = q_negative_samples(spark, SF).cache()
    try:
        assert neg.where(F.col("neg_obj") == F.col("obj_entity")).count() == 0
        per = neg.groupBy("subj_entity", "relation", "obj_entity").agg(
            F.count(F.lit(1)).alias("n"), F.max("neg_rank").alias("mx")
        )
        assert (
            per.where(
                (F.col("n") > NEG_PER_TRIPLE) | (F.col("mx") != F.col("n"))
            ).count()
            == 0
        )
        # relation-constrained: (relation, neg_obj) must be an observed pair
        ro = (
            _linked_entity_pairs(spark, SF)
            .select(
                F.concat(
                    F.lit("COOCCURS_"), F.col("a_cls"), F.lit("_"), F.col("b_cls")
                ).alias("relation"),
                F.col("obj_entity").alias("neg_obj"),
            )
            .distinct()
        )
        assert neg.select("relation", "neg_obj").join(
            ro, ["relation", "neg_obj"], "left_anti"
        ).count() == 0
    finally:
        neg.unpersist()


def test_truth_discovery_fusion_invariants(spark):
    """kg_truth_discovery: one row per distinct claim, confidence in
    (0, ~1e9] with the max-supported claim pinned at the normalization
    ceiling, and claims asserted by IDENTICAL source sets getting
    IDENTICAL confidence (fusion is a pure function of provenance)."""
    from dstlr_spark.queries.doc_kg import q_truth_discovery

    prov = (
        _linked_entity_pairs(spark, SF)
        .select(
            "conv_id",
            F.col("subj_entity").alias("subj_entity"),
            F.concat(
                F.lit("COOCCURS_"), F.col("a_cls"), F.lit("_"), F.col("b_cls")
            ).alias("relation"),
            F.col("obj_entity").alias("obj_entity"),
        )
        .distinct()
    )
    n_claims = (
        prov.select("subj_entity", "relation", "obj_entity").distinct().count()
    )
    rows = q_truth_discovery(spark, SF).collect()
    assert len(rows) == n_claims
    mx = max(r["confidence_ppb"] for r in rows)
    assert 1_000_000_000 <= mx <= 1_001_000_000  # floor-normalized ceiling
    assert all(0 < r["confidence_ppb"] <= mx for r in rows)
    # identical source sets => identical confidence
    srcsets: dict[tuple, frozenset] = {}
    for r in prov.collect():
        k = (r["subj_entity"], r["relation"], r["obj_entity"])
        srcsets.setdefault(k, set()).add(r["conv_id"])  # type: ignore[union-attr]
    conf = {
        (r["subj_entity"], r["relation"], r["obj_entity"]): r["confidence_ppb"]
        for r in rows
    }
    by_set: dict[frozenset, set[int]] = {}
    for k, s in srcsets.items():
        by_set.setdefault(frozenset(s), set()).add(conf[k])
    assert all(len(v) == 1 for v in by_set.values())


def test_entity_summary_topk_ordering(spark):
    """kg_entity_summary: ≤ K facts per subject with dense ranks whose
    n_obs ordering is non-increasing, and every summary fact's n_obs
    matches the full rollup."""
    from dstlr_spark.queries.doc_kg import ENTITY_SUMMARY_K, q_entity_summary

    rows = q_entity_summary(spark, SF).collect()
    assert rows
    per: dict[str, list] = {}
    for r in rows:
        per.setdefault(r["subj_entity"], []).append(r)
    full = (
        _linked_entity_pairs(spark, SF)
        .select(
            "subj_entity",
            F.concat(
                F.lit("COOCCURS_"), F.col("a_cls"), F.lit("_"), F.col("b_cls")
            ).alias("relation"),
            "obj_entity",
        )
        .groupBy("subj_entity", "relation", "obj_entity")
        .count()
        .collect()
    )
    truth = {
        (r["subj_entity"], r["relation"], r["obj_entity"]): r["count"] for r in full
    }
    for subj, facts in per.items():
        facts.sort(key=lambda r: r["fact_rank"])
        assert 1 <= len(facts) <= ENTITY_SUMMARY_K
        assert [f["fact_rank"] for f in facts] == list(range(1, len(facts) + 1))
        obs = [f["n_obs"] for f in facts]
        assert obs == sorted(obs, reverse=True)
        for f in facts:
            assert (
                truth[(f["subj_entity"], f["relation"], f["obj_entity"])]
                == f["n_obs"]
            )


def test_snapshot_asof_subset_of_temporal(spark):
    """kg_snapshot_asof: a constant data-derived instant, every kept
    triple's interval covers it, and the kept set is exactly the
    covering subset of kg_triple_temporal."""
    from dstlr_spark.queries.doc_kg import q_snapshot_asof

    snap = q_snapshot_asof(spark, SF).collect()
    assert snap
    ts = {r["asof_ts_s"] for r in snap}
    assert len(ts) == 1
    t = ts.pop()
    for r in snap:
        assert r["first_ts_s"] <= t <= r["last_ts_s"]
    temporal = q_triple_temporal(spark, SF).collect()
    want = {
        (r["subj_entity"], r["relation"], r["obj_entity"])
        for r in temporal
        if r["first_ts_s"] <= t <= r["last_ts_s"]
    }
    got = {(r["subj_entity"], r["relation"], r["obj_entity"]) for r in snap}
    assert got == want
