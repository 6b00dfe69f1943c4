"""Pins for the graph-quality layer (round-4 bursts 5/6): clustering
coefficient, two-hop reach, agreement-by-distance, name variants, and
the Zipf fit.

The value-hash oracle gate proves engine parity at three scales; these
pin the SEMANTICS parity cannot see — exact values on hand-built
graphs, the hub-cap exclusion contract, and cross-query consistency
(the quality layer describes the same graph the analytics layer runs
on).
"""

from __future__ import annotations

import pyspark.sql.functions as F

from dstlr_spark.queries import doc_kg
from dstlr_spark.queries.doc_kg import (
    adjacency,
    q_agreement_by_distance,
    q_clustering_coefficient,
    q_entity_degree_hist,
    q_name_variants,
    q_two_hop_reach,
    two_hop_reach,
)
from dstlr_spark.queries.textstats import q_zipf_fit

SF = "/root/testdata/sf0.001"


def test_two_hop_reach_exact_on_hand_graph(spark, monkeypatch):
    """A-B, B-C, C-D, A-C: exactly-2 sets are A→{D}, B→{D}, C→{},
    D→{A, B} (within-2 minus direct neighbors minus self)."""
    edges = spark.createDataFrame(
        [("A", "B"), ("B", "C"), ("C", "D"), ("A", "C")], "src string, dst string"
    )
    monkeypatch.setattr(doc_kg, "JACCARD_HUB_CAP", 10)
    out = {r.entity_id: r for r in two_hop_reach(adjacency(edges)).collect()}
    assert out["A"].n_1hop == 2 and out["A"].n_2hop == 1
    assert out["B"].n_1hop == 2 and out["B"].n_2hop == 1
    assert out["C"].n_1hop == 3 and out["C"].n_2hop == 0
    assert out["D"].n_1hop == 1 and out["D"].n_2hop == 2


def test_two_hop_reach_hub_cap_blocks_middles_keeps_degrees(spark, monkeypatch):
    """JACCARD_HUB_CAP=2 excludes C (degree 3) as a MIDDLE: every 2-hop path in
    the hand graph runs through C, so all n_2hop collapse to 0 — but
    full degrees are still reported."""
    edges = spark.createDataFrame(
        [("A", "B"), ("B", "C"), ("C", "D"), ("A", "C")], "src string, dst string"
    )
    monkeypatch.setattr(doc_kg, "JACCARD_HUB_CAP", 2)
    out = {r.entity_id: r for r in two_hop_reach(adjacency(edges)).collect()}
    assert out["C"].n_1hop == 3  # degree unaffected by the cap
    assert all(r.n_2hop == 0 for r in out.values())
    # paths through non-hub middles survive: add E-A so D reaches E
    # via... E's only 2-hop middle is A (degree 3 now) — plant a
    # middle UNDER the cap instead: B (degree 2) carries A<->C, which
    # is a direct edge, so still 0; the collapse above is the pin.


def test_clustering_coefficient_consistent_with_degree_hist(spark):
    """cc is 0..10^6 ppm; deg<2 vertices report 0; the degree column
    is the SAME degree the histogram counts (sum over hist buckets ==
    number of cc rows)."""
    cc = q_clustering_coefficient(spark, SF).collect()
    assert cc, "corpus graph is non-empty"
    for r in cc:
        assert 0 <= r.cc_ppm <= 1_000_000
        if r.degree < 2:
            assert r.cc_ppm == 0
        if r.n_triangles == 0:
            assert r.cc_ppm == 0
    hist = q_entity_degree_hist(spark, SF).collect()
    assert sum(r.n_entities for r in hist) == len(cc)


def test_agreement_by_distance_bounds(spark):
    """Distances are 1..W; ppm in range; n_agree ≤ n_obs; and the
    majority rule means overall agreement is ≥ 50% is NOT guaranteed,
    but every (distance) row's agree count can't exceed its obs."""
    rows = q_agreement_by_distance(spark, SF).collect()
    assert rows
    from dstlr_spark.queries.doc_kg import COOCCUR_WINDOW

    for r in rows:
        assert 1 <= r.distance <= COOCCUR_WINDOW
        assert 0 <= r.n_agree <= r.n_obs
        assert r.agree_ppm == r.n_agree * 1_000_000 // r.n_obs


def test_name_variants_share_and_occurrence_consistency(spark):
    """Per entity: top-form share ≤ 10^6; n_variants ≥ 1; the summed
    occurrence traffic equals the linked-occurrence total implied by
    the timeline query's n_mentions."""
    nv = q_name_variants(spark, SF).collect()
    assert nv
    for r in nv:
        assert r.n_variants >= 1
        assert 0 < r.top_form_share_ppm <= 1_000_000
        assert r.n_occurrences >= r.n_variants
    from dstlr_spark.queries.doc_kg import q_entity_timeline

    tl = {r.entity_id: r.n_mentions for r in q_entity_timeline(spark, SF).collect()}
    for r in nv:
        assert tl[r.entity_id] == r.n_occurrences


def test_rule_predictions_on_hand_kg(spark, monkeypatch):
    """Planted rule r1 ∧ r2 ⇒ r with one closed and one open body
    pair: only the open pair is predicted, with the rule's 50%
    confidence; raising the confidence floor silences it."""
    from dstlr_spark.queries.doc_kg import rule_predictions

    t = spark.createDataFrame(
        [
            ("a", "r1", "b"), ("b", "r2", "c"), ("a", "r", "c"),  # closed
            ("d", "r1", "e"), ("e", "r2", "f"),                    # open
        ],
        "subj string, relation string, obj string",
    )
    monkeypatch.setattr(doc_kg, "RULE_PRED_MIN_CONF_PPM", 250_000)
    monkeypatch.setattr(doc_kg, "RULE_PRED_MIN_BODY", 2)
    out = rule_predictions(t).collect()
    assert len(out) == 1
    p = out[0]
    assert (p.subj_entity, p.relation, p.obj_entity) == ("d", "r", "f")
    assert p.n_rules == 1 and p.best_conf_ppm == 500_000
    monkeypatch.setattr(doc_kg, "RULE_PRED_MIN_CONF_PPM", 600_000)
    assert rule_predictions(t).count() == 0


def test_blocking_quality_accounts_every_occurrence(spark):
    """Block traffic sums to the mention-occurrence total; linked ≤
    occurrences; purity is a valid ppm and present exactly when the
    block has linked occurrences."""
    from dstlr_spark.queries.doc_kg import q_blocking_quality, q_mentions

    rows = q_blocking_quality(spark, SF).collect()
    assert rows
    assert sum(r.n_occurrences for r in rows) == q_mentions(spark, SF).count()
    for r in rows:
        assert 0 <= r.n_linked <= r.n_occurrences
        assert r.n_entities <= r.n_linked
        if r.n_linked > 0:
            assert r.top_entity is not None
            assert 0 < r.purity_ppm <= 1_000_000
        else:
            assert r.top_entity is None and r.purity_ppm == 0


def test_alias_winners_lockstep_with_batch_links(spark):
    """The broadcast alias-winner dictionary (`_alias_winners`) must
    reproduce the batch link table exactly: for every distinct
    (doc, key) mention the resolved entity equals the winner — the
    invariant that justifies replacing the corpus-scale link join in
    `kg_name_variants` / `stream_entity_links` with a dictionary
    broadcast."""
    from dstlr_spark.operators.graph import split_triples
    from dstlr_spark.queries.doc_kg import _alias_winners, _kg

    kg = _kg(spark, SF)
    links = (
        split_triples(kg.bag())["links"]
        .where(F.col("objectValue").isNotNull())
        .join(
            kg.mentions.select(
                F.col("doc_id").alias("doc"),
                F.col("mention_id").alias("subjectValue"),
                "key",
            ).distinct(),
            ["doc", "subjectValue"],
        )
        .select("key", F.col("objectValue").alias("linked"))
        .distinct()
    )
    joined = links.join(_alias_winners(spark), "key", "full").collect()
    assert joined
    for r in joined:
        # every linked key has a winner and they agree; winner keys
        # with no linked row are aliases absent from this corpus
        if r.linked is not None:
            assert r.linked == r.entity_id


def test_alias_ambiguity_keys_aliases_like_the_linker(spark, monkeypatch):
    """The ambiguity report keys each alias as the linker does (each
    single-space token lemmatized, no punctuation stripped): a
    punctuated, padded or capitalized alias is a candidate only for the
    key `best_alias_entity` resolves it under, and the reported winner
    is the linker's."""
    from collections import defaultdict

    from dstlr_spark.functions.text import lemma_token_py
    from dstlr_spark.operators.extract import best_alias_entity
    from dstlr_spark.queries import doc_kg

    aliases = [
        ("spark", "E-spark", 0.9),
        ("spark.", "E-spark-dot", 0.6),
        ("spark.", "E-spark-film", 0.4),
        ("join", "E-join", 0.9),
        (" join", "E-join", 0.5),
        (" join", "E-join-pad", 0.7),
        ("Tables!", "E-table", 0.5),
        ("Tables!", "E-table-furniture", 0.3),
        ("tables", "E-table-lower", 0.8),
    ]
    frame = spark.createDataFrame(
        aliases, "alias string, entity_id string, prior double"
    )

    class _StubKG:
        mentions = spark.createDataFrame([("spark.",), ("join",)], "key string")

    monkeypatch.setattr(doc_kg, "_aliases", lambda _spark: frame)
    monkeypatch.setattr(doc_kg, "_kg", lambda _spark, _sf: _StubKG)
    got = {r.alias_key: r for r in doc_kg.q_alias_ambiguity(spark, SF).collect()}

    candidates = defaultdict(set)
    for alias, entity, _ in aliases:
        candidates[" ".join(lemma_token_py(t) for t in alias.split(" "))].add(entity)
    winners = best_alias_entity(frame)
    multi = {k for k, es in candidates.items() if len(es) > 1}
    assert multi == {"spark.", " join", "Tables!"}
    assert set(got) == multi
    assert {k: r.best_entity for k, r in got.items()} == {k: winners[k] for k in multi}
    assert {k: r.n_mentions for k, r in got.items()} == {
        "spark.": 1, " join": 0, "Tables!": 0
    }


def test_entity_distances_exact_on_path_graph(spark, monkeypatch):
    """Path A-B-C-D: six unordered pairs with hops 1/1/1/2/2/3; a
    tighter horizon drops only the 3-hop pair."""
    from dstlr_spark.queries.doc_kg import adjacency, entity_distances

    edges = spark.createDataFrame(
        [("A", "B"), ("B", "C"), ("C", "D")], "src string, dst string"
    )
    out = {
        (r.entity_a, r.entity_b): r.hops
        for r in entity_distances(adjacency(edges)).collect()
    }
    assert out == {
        ("A", "B"): 1, ("B", "C"): 1, ("C", "D"): 1,
        ("A", "C"): 2, ("B", "D"): 2, ("A", "D"): 3,
    }
    with monkeypatch.context() as m:
        m.setattr(doc_kg, "KHOP_MAX", 2)
        out2 = {
            (r.entity_a, r.entity_b): r.hops
            for r in entity_distances(adjacency(edges)).collect()
        }
    assert ("A", "D") not in out2 and len(out2) == 5
    # anchored: BFS seeded at D — exactly the unordered pairs
    # involving D, now as (anchor, other) with the same hop counts
    anch = {
        r.entity_b: r.hops
        for r in entity_distances(adjacency(edges), seeds=("D",)).collect()
    }
    assert anch == {"C": 1, "B": 2, "A": 3}


def test_entity_distances_hub_cap_binds_on_star_graph(spark):
    """Star H-{L1..L6} plus a path edge L1-X. With hub_cap=5 the
    center H (degree 6) is never a pivot: leaves keep their hop-1
    edge TO H (hubs stay reachable as endpoints) but leaf↔leaf
    2-hop paths through H vanish; the non-hub pivot L1 still routes
    H↔X and leaf↔X paths. Uncapped (or cap ≥ 6) reproduces the full
    all-pairs-within-K table — pinning that the cap changes pivot
    eligibility and nothing else."""
    from dstlr_spark.queries.doc_kg import adjacency, entity_distances

    rows = [("H", f"L{i}") for i in range(1, 7)] + [("L1", "X")]
    edges = spark.createDataFrame(rows, "src string, dst string")

    capped = {
        (r.entity_a, r.entity_b): r.hops
        for r in entity_distances(adjacency(edges), hub_cap=5).collect()
    }
    # hop-1 edges survive (hubs are endpoints, not pivots)
    assert capped[("H", "L1")] == 1 and capped[("L1", "X")] == 1
    # leaf-leaf pairs only existed through the hub: gone — as is
    # L2→X, whose only path (L2-H-L1-X) needs H as an interior pivot
    assert ("L2", "L3") not in capped and ("L2", "X") not in capped
    # paths pivoting through the non-hub L1 survive
    assert capped[("H", "X")] == 2

    uncapped = {
        (r.entity_a, r.entity_b): r.hops
        for r in entity_distances(adjacency(edges)).collect()
    }
    high_cap = {
        (r.entity_a, r.entity_b): r.hops
        for r in entity_distances(adjacency(edges), hub_cap=6).collect()
    }
    assert high_cap == uncapped
    assert uncapped[("L2", "L3")] == 2
    assert set(capped) < set(uncapped)


def test_wl_signature_orbits_on_hand_graphs(spark):
    """Path A-B-C: the symmetric leaves {A, C} share a WL orbit, the
    center B is alone. Adding D-E (a disjoint symmetric pair) gives
    D, E their own shared orbit distinct from the path's leaves
    (different degree-neighborhood structure)."""
    from dstlr_spark.queries.doc_kg import adjacency, wl_signature

    edges = spark.createDataFrame(
        [("A", "B"), ("B", "C"), ("D", "E")], "src string, dst string"
    )
    out = {r.entity_id: r for r in wl_signature(adjacency(edges)).collect()}
    assert out["A"].wl_label == out["C"].wl_label
    assert out["A"].orbit_size == 2
    assert out["B"].orbit_size == 1
    assert out["B"].wl_label != out["A"].wl_label
    assert out["D"].wl_label == out["E"].wl_label
    assert out["D"].orbit_size == 2
    # degree-1 vertices with different 2-hop structure split orbits
    assert out["D"].wl_label != out["A"].wl_label


def test_zipf_fit_exact_on_hand_corpus(spark, tmp_path):
    """Hand corpus with known counts — a×4, b×2, c×2, d/e/f/g×1 —
    gives buckets (x=2, 1 token), (x=1, 2 tokens), (x=0, 4 tokens):
    points (2,0), (1,1), (0,2) → exact slope −1.0 (−1,000,000 ppm),
    the ideal Zipf signature."""
    text = "a a a a b b c c d e f g"
    spark.createDataFrame(
        [("d1", text, "en", len(text))],
        "doc_id string, text string, lang string, n_chars int",
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    row = q_zipf_fit(spark, str(tmp_path)).collect()[0]
    assert row.vocab_size == 7
    assert row.total_tokens == 12
    assert row.n_buckets == 3
    assert row.slope_ppm == -1_000_000


def test_conv_novelty_partitions_the_triple_set(spark):
    """Every distinct triple is novel in EXACTLY one conversation
    (Σ n_novel == |distinct triples|); ppm bounds hold. (No conv is
    guaranteed all-novel: turn timestamps are epoch+turn_idx, so a
    later-id conv can observe a triple at an earlier turn offset.)"""
    from dstlr_spark.queries.doc_kg import q_conv_novelty, q_triple_temporal

    rows = q_conv_novelty(spark, SF).collect()
    assert rows
    n_triples_global = q_triple_temporal(spark, SF).count()
    assert sum(r.n_novel for r in rows) == n_triples_global
    for r in rows:
        assert 0 <= r.n_novel <= r.n_triples
        assert r.novelty_ppm == r.n_novel * 1_000_000 // r.n_triples
    assert max(r.novelty_ppm for r in rows) > 0


def test_events_transitions_shares_sum_to_one(spark):
    """Per from_type, floor-ppm shares sum into (10^6 − |rows|, 10^6]."""
    from collections import defaultdict

    from dstlr_spark.queries.curation import q_events_transitions

    rows = q_events_transitions(spark, SF).collect()
    assert rows
    by_from = defaultdict(list)
    for r in rows:
        by_from[r.from_type].append(r)
    for fr, group in by_from.items():
        s = sum(r.from_share_ppm for r in group)
        assert 1_000_000 - len(group) < s <= 1_000_000
        tot = sum(r.n_transitions for r in group)
        for r in group:
            assert r.from_share_ppm == r.n_transitions * 1_000_000 // tot


def test_frame_schedule_covers_payload_at_stride(spark):
    """Frame count per doc == ceil(payload_bytes / 64); offsets are the
    exact stride grid; samples are valid bytes."""
    from dstlr_spark.operators.multimodal import synth_media
    from dstlr_spark.queries.multimodal import _docs, q_frame_schedule

    sizes = {
        r.doc_id: r.n
        for r in synth_media(_docs(spark, SF))
        .select("doc_id", F.length("payload").alias("n"))
        .collect()
    }
    from collections import defaultdict

    frames = defaultdict(list)
    for r in q_frame_schedule(spark, SF).collect():
        frames[r.doc_id].append(r)
        assert 0 <= r.sample <= 255
        assert r.byte_offset == r.frame_idx * 64
    for doc_id, n in sizes.items():
        assert len(frames[doc_id]) == (n + 63) // 64


def test_zipf_fit_accounts_every_token(spark):
    """On the sf corpus: vocab/total accounting matches an independent
    count (the synthetic corpus's 31-word vocabulary is too small for a
    sign pin — the exact-slope pin above carries the math)."""
    row = q_zipf_fit(spark, SF).collect()[0]
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    toks = docs.select(F.explode(F.split("text", " ")).alias("t"))
    assert row.total_tokens == toks.count()
    assert row.vocab_size == toks.distinct().count()
    assert 1 <= row.n_buckets <= 64


def test_entity_distances_multi_anchor_batch(spark):
    """Multi-anchor batch BFS (one pass, K seeds) must equal the union
    of per-seed anchored runs — the K-point-lookup shape that pays one
    graph traversal instead of K."""
    from dstlr_spark.queries.doc_kg import adjacency, entity_distances

    edges = spark.createDataFrame(
        [("A", "B"), ("B", "C"), ("C", "D"), ("B", "E")],
        "src string, dst string",
    )
    batch = {
        (r.entity_a, r.entity_b): r.hops
        for r in entity_distances(adjacency(edges), seeds=("A", "D")).collect()
    }
    singles = {}
    for s in ("A", "D"):
        for r in entity_distances(adjacency(edges), seeds=(s,)).collect():
            singles[(s, r.entity_b)] = r.hops
    assert batch == singles
    # sanity: expected content from seed A (hops ≤ 3)
    assert batch[("A", "B")] == 1 and batch[("A", "C")] == 2
    assert batch[("A", "D")] == 3 and batch[("A", "E")] == 2


def _py_bfs_pairs(edges, max_hops, cap=None, seeds=None):
    """Pure-Python reference for entity_distances: min hops over paths
    whose INTERIOR vertices all have degree <= cap (endpoints uncapped;
    cap=None disables). Independent of the Spark join-expansion shape."""
    from collections import defaultdict, deque

    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    deg = {v: len(ns) for v, ns in adj.items()}
    out = {}
    roots = seeds if seeds is not None else sorted(adj)
    for s in roots:
        seen = {s: 0}
        dq = deque([s])
        while dq:
            u = dq.popleft()
            d = seen[u]
            if d >= max_hops:
                continue
            # pivoting THROUGH u requires u to be the root or a non-hub
            if u != s and cap is not None and deg.get(u, 0) > cap:
                continue
            for v in adj[u]:
                if v not in seen:
                    seen[v] = d + 1
                    dq.append(v)
        for v, d in seen.items():
            if v != s:
                out[(s, v)] = d
    return out


def test_entity_distances_matches_python_bfs_on_random_graphs(spark):
    """Property pin on seeded random graphs: the join-expansion BFS
    (exact, hub-capped, and multi-anchor batch forms) must equal an
    independent pure-Python BFS — the gazetteer gate graph is tiny and
    regular, so this is where wrong-shape bugs (revisit handling,
    min-hops after capped detours, seed rooting) would actually show."""
    import random

    from dstlr_spark.queries.doc_kg import KHOP_MAX, adjacency, entity_distances

    for seed in (11, 23, 47):
        rng = random.Random(seed)
        n = 18
        edges = sorted(
            {
                (f"v{min(i, j):02d}", f"v{max(i, j):02d}")
                for i in range(n)
                for j in range(n)
                if i != j and rng.random() < 0.12
            }
        )
        if not edges:
            continue
        edf = spark.createDataFrame(edges, "src string, dst string")

        # exact all-pairs-within-K (hub_cap disabled)
        got = {
            (r.entity_a, r.entity_b): r.hops
            for r in entity_distances(adjacency(edf)).collect()
        }
        ref = _py_bfs_pairs(edges, KHOP_MAX)
        want = {(a, b): d for (a, b), d in ref.items() if a < b}
        assert got == want, f"exact mismatch (seed={seed})"

        # hub-capped: cap at the median degree so it genuinely binds
        from collections import Counter

        degc = Counter()
        for a, b in edges:
            degc[a] += 1
            degc[b] += 1
        cap = sorted(degc.values())[len(degc) // 2]
        got_c = {
            (r.entity_a, r.entity_b): r.hops
            for r in entity_distances(adjacency(edf), hub_cap=cap).collect()
        }
        ref_c = _py_bfs_pairs(edges, KHOP_MAX, cap=cap)
        want_c = {(a, b): d for (a, b), d in ref_c.items() if a < b}
        assert got_c == want_c, f"hub-cap mismatch (seed={seed}, cap={cap})"
        assert any(d > cap for d in degc.values()) or got_c == got

        # multi-anchor batch: 3 seeds, rooted pairs
        seeds = sorted(rng.sample(sorted(degc), 3))
        got_b = {
            (r.entity_a, r.entity_b): r.hops
            for r in entity_distances(adjacency(edf), seeds=tuple(seeds)).collect()
        }
        want_b = _py_bfs_pairs(edges, KHOP_MAX, seeds=seeds)
        assert got_b == want_b, f"batch mismatch (seed={seed}, seeds={seeds})"


def test_ktruss_peel_on_planted_clique_plus_tail(spark):
    """k=4 truss peeling on a hand graph: a 4-clique (every edge in 2
    triangles → support 2 ≥ k−2) survives all rounds intact; a pendant
    tail edge (support 0) and a triangle hanging off one clique vertex
    (support 1 each — below threshold) peel away. Also pins the
    cascade effect: the hanging triangle's edges die in round 1, so
    nothing outside the clique survives even though the triangle
    edges DID have triangles initially."""
    from dstlr_spark.queries.doc_kg import _truss_peel

    clique = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"),
              ("c", "d")]
    hang = [("d", "x"), ("d", "y"), ("x", "y")]  # triangle off d
    tail = [("y", "z")]
    edges = spark.createDataFrame(clique + hang + tail, "src string, dst string")
    got = {(r.src, r.dst): r.support for r in _truss_peel(edges, 4, 3).collect()}
    assert set(got) == set(clique)
    assert all(s == 2 for s in got.values())


def _py_kcore(edges, k, rounds):
    """Pure-Python round-synchronous peel: vertex → the round that
    peeled it, 0 if it survives every round."""
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    peel = {v: 0 for v in adj}
    for rnd in range(1, rounds + 1):
        alive = {v for v, r in peel.items() if r == 0}
        for v in [v for v in alive if len(adj[v] & alive) < k]:
            peel[v] = rnd
    return peel


def test_kcore_peel_matches_python_on_planted_graphs(spark):
    """k=3 peel of a K4 with a pendant chain: p4 (degree 1) peels
    first, and each removal drops the next chain vertex below 3, so
    the chain peels one vertex per round toward the clique, which
    survives. An isolated strong pair peels in round 1; too few rounds
    leave the cascade's tail in the core; no edges, no vertices."""
    from dstlr_spark.queries.doc_kg import kcore_peel

    k4 = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d")]
    chain = [("a", "p1"), ("b", "p1"), ("p1", "p2"), ("a", "p2"), ("p2", "p3"),
             ("a", "p3"), ("p3", "p4")]
    pair = [("s", "t")]
    rows = k4 + chain + pair
    edges = spark.createDataFrame(rows, "src string, dst string")
    for rounds in (8, 2):
        got = {r.entity_id: r.peel_round for r in kcore_peel(edges, 3, rounds).collect()}
        assert got == _py_kcore(rows, 3, rounds), rounds
    assert got == {"a": 0, "b": 0, "c": 0, "d": 0, "p1": 0, "p2": 0,
                   "p3": 2, "p4": 1, "s": 1, "t": 1}
    full = {r.entity_id: r.peel_round for r in kcore_peel(edges, 3, 8).collect()}
    assert [full[v] for v in ("p4", "p3", "p2", "p1")] == [1, 2, 3, 4]
    empty = spark.createDataFrame([], "src string, dst string")
    assert kcore_peel(empty, 3, 8).collect() == []


def test_kcore_peel_checkpoints_one_frame_per_round(spark, monkeypatch):
    """The peel carries one vertex-state frame: one checkpoint of the
    symmetrized edges, then one per round."""
    from dstlr_spark.queries.doc_kg import kcore_peel

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")], "src string, dst string"
    )
    frame_cls = type(edges)
    calls = []
    real_checkpoint = frame_cls.localCheckpoint

    def counting(self, *args, **kwargs):
        calls.append(self)
        return real_checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(frame_cls, "localCheckpoint", counting)
    out = kcore_peel(edges, 2, 5)
    monkeypatch.setattr(frame_cls, "localCheckpoint", real_checkpoint)
    assert len(calls) == 1 + 5
    assert {r.entity_id: r.peel_round for r in out.collect()} == {
        "a": 0, "b": 0, "c": 0, "d": 1
    }


def test_allen_case_classifies_all_13_relations(spark):
    """The shared _ALLEN_CASE cascade labels each canonical interval
    configuration with its Allen relation — all 13, exhaustive and
    mutually exclusive by construction (ELSE arm reached only by
    overlapped_by)."""
    from dstlr_spark.queries.doc_kg import _ALLEN_CASE

    cases = [
        (0, 2, 5, 9, "precedes"),
        (0, 5, 5, 9, "meets"),
        (0, 6, 5, 9, "overlaps"),
        (5, 7, 5, 9, "starts"),
        (6, 8, 5, 9, "during"),
        (7, 9, 5, 9, "finishes"),
        (5, 9, 5, 9, "equals"),
        (5, 9, 0, 2, "preceded_by"),
        (5, 9, 0, 5, "met_by"),
        (5, 9, 0, 6, "overlapped_by"),
        (5, 9, 5, 7, "started_by"),
        (5, 9, 6, 8, "contains"),
        (5, 9, 7, 9, "finished_by"),
    ]
    df = spark.createDataFrame(
        [(af, al, bf, bl) for af, al, bf, bl, _ in cases],
        "af long, al long, bf long, bl long",
    )
    got = [r[0] for r in df.select(F.expr(_ALLEN_CASE)).collect()]
    assert got == [want for *_, want in cases]


def test_stratified_sample_kept_set_is_pure_hash_function(spark):
    """curate_stratified_sample's kept counts at sf0.001 equal a
    pure-Python re-derivation: md5 of the doc_id string, first 8 hex
    nibbles mod 1e6, compared against the domain-mix keep rate — no
    RNG, no partitioning dependence, resumable by construction."""
    import hashlib

    from dstlr_spark.queries.curation import q_domain_mix, q_stratified_sample

    sf = "/root/testdata/sf0.001"
    rates = {
        r.source: min(1_000_000, r.mix_weight_ppm)
        for r in q_domain_mix(spark, sf).collect()
    }
    docs = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", "source").where(F.col("doc_id").isNotNull()).collect()
    want = {}
    for r in docs:
        h = int(hashlib.md5(str(r.doc_id).encode()).hexdigest()[:8], 16) % 1_000_000
        n_docs, n_kept = want.get(r.source, (0, 0))
        want[r.source] = (n_docs + 1, n_kept + (1 if h < rates[r.source] else 0))
    got = {r.source: (r.n_docs, r.n_kept)
           for r in q_stratified_sample(spark, sf).collect()}
    assert got == want


def _py_ppr(edges, anchor, verts, iters=3, scale=1_000_000_000):
    """Pure-Python mirror of the exact integer PPR spec."""
    sym = {}
    for a, b in edges:
        sym.setdefault(a, []).append(b)
        sym.setdefault(b, []).append(a)
    ranks = {v: scale if v == anchor else 0 for v in verts}
    for _ in range(iters):
        s = {v: 0 for v in verts}
        for u, nbrs in sym.items():
            c = ranks.get(u, 0) // len(nbrs)
            for v in nbrs:
                s[v] += c
        ranks = {
            v: (15 * scale // 100 if v == anchor else 0) + 85 * s[v] // 100
            for v in verts
        }
    return {v: r for v, r in ranks.items() if r > 0}


def test_ppr_anchored_multipath_beats_single_path(spark):
    """Diamond A-{B,C}-D plus pendant A-E-F: D (two length-2 paths
    from the anchor A) must outrank F (one length-2 path), which plain
    hop counts cannot distinguish — the reason PPR exists next to the
    anchored BFS. Exact values pinned against the pure-Python spec."""
    from dstlr_spark.queries.doc_kg import adjacency, ppr_anchored

    rows = [("A", "B"), ("A", "C"), ("B", "D"), ("C", "D"),
            ("A", "E"), ("E", "F")]
    edges = spark.createDataFrame(rows, "src string, dst string")
    adj = adjacency(edges)
    verts_df = adj.select(F.col("src").alias("id")).distinct()
    got = {r.entity_id: r.ppr_ppb for r in ppr_anchored(adj, "A", verts_df).collect()}
    verts = sorted({v for e in rows for v in e})
    assert got == _py_ppr(rows, "A", verts)
    assert got["D"] > got["F"]  # two paths absorb more restart mass


def test_ppr_anchored_matches_python_on_random_graphs(spark):
    """Randomized lockstep: PPR over seeded random graphs equals the
    pure-Python reference exactly (integer spec — no tolerance), with
    an isolated-anchor corner: teleport mass still emitted via verts."""
    import random

    from dstlr_spark.queries.doc_kg import adjacency, ppr_anchored

    for seed in (1, 7):
        rng = random.Random(seed)
        verts = [f"v{i}" for i in range(14)]
        rows = sorted(
            {
                tuple(sorted(rng.sample(verts, 2)))
                for _ in range(22)
            }
        )
        edges = spark.createDataFrame(rows, "src string, dst string")
        anchor = verts[0]
        adj = adjacency(edges)
        verts_df = adj.select(F.col("src").alias("id")).distinct()
        got = {r.entity_id: r.ppr_ppb
               for r in ppr_anchored(adj, anchor, verts_df).collect()}
        assert got == _py_ppr(rows, anchor, verts=sorted(
            {v for e in rows for v in e}
        ))

    # isolated anchor: no edges touch Z, but verts includes it
    edges = spark.createDataFrame([("A", "B")], "src string, dst string")
    vf = spark.createDataFrame([("A",), ("B",), ("Z",)], "id string")
    got = {r.entity_id: r.ppr_ppb
           for r in ppr_anchored(adjacency(edges), "Z", vf).collect()}
    assert got == {"Z": 150_000_000}
