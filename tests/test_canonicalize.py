"""Connected components + cross-doc canonicalization (SURVEY.md §7 Stage 3)."""

from __future__ import annotations

from pyspark.sql import functions as F

from dstlr_spark.operators import canonicalize
from dstlr_spark.operators.canonicalize import (
    canonicalize_mentions,
    connected_components,
    star_edges,
)


def _cc_map(labels):
    return {r["id"]: r["component"] for r in labels.collect()}


def _no_links(spark):
    return spark.createDataFrame([], "mention_id string, entity_id string")


def test_cc_simple_components(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "src string, dst string"
    )
    got = _cc_map(connected_components(edges))
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_cc_chain_through_bridges(spark):
    """A long chain (worst case for naive propagation) still converges."""
    chain = [(f"v{i:02d}", f"v{i + 1:02d}") for i in range(20)]
    got = _cc_map(connected_components(spark.createDataFrame(chain, "src string, dst string")))
    assert set(got.values()) == {"v00"}
    assert len(got) == 21


def test_cc_rounds_count_on_the_checkpoint(spark, monkeypatch):
    """Each round's change count comes from the checkpoint job that
    materializes the round's labels: a multi-round graph converges
    without a single ``DataFrame.count`` job."""
    chain = spark.createDataFrame(
        [(f"v{i:02d}", f"v{i + 1:02d}") for i in range(8)], "src string, dst string"
    )
    # the session's concrete DataFrame class (PySpark's classic one
    # overrides the abstract ``pyspark.sql.DataFrame.count``)
    frame_cls = type(chain)
    calls = []
    real_count = frame_cls.count

    def counting(self):
        calls.append(self)
        return real_count(self)

    monkeypatch.setattr(frame_cls, "count", counting)
    labels = connected_components(chain)
    monkeypatch.setattr(frame_cls, "count", real_count)
    assert calls == []
    assert set(_cc_map(labels).values()) == {"v00"}


def test_cc_isolated_vertices(spark):
    # the self-loop makes "solo" a vertex of its own component
    edges = spark.createDataFrame(
        [("a", "b"), ("solo", "solo")], "src string, dst string"
    )
    got = _cc_map(connected_components(edges))
    assert got == {"a": "a", "b": "a", "solo": "solo"}


def test_star_edges_linear_not_quadratic(spark):
    df = spark.createDataFrame(
        [(f"m{i}", "obama") for i in range(10)] + [("z", "other")],
        "mention_id string, key string",
    )
    e = star_edges(df, "mention_id", "key").collect()
    # 10-member group → 9 star edges (to min m0); singleton group → 0
    assert len(e) == 9
    assert all(r["dst"] == "m0" for r in e)


def test_canonicalize_bridges_key_and_entity(spark):
    """Mentions m1,m2 share a key; m2,m3 share a link target → one cluster."""
    mentions = spark.createDataFrame(
        [("m1", "apple"), ("m2", "apple"), ("m3", "apple inc"), ("m4", "kiwi")],
        "mention_id string, key string",
    )
    links = spark.createDataFrame(
        [("m2", "Q312"), ("m3", "Q312"), ("m4", None)],
        "mention_id string, entity_id string",
    )
    got = {
        r["mention_id"]: r["canonical_id"]
        for r in canonicalize_mentions(mentions, links).collect()
    }
    assert got["m1"] == got["m2"] == got["m3"] == "m1"
    assert got["m4"] == "m4"  # null entity never connects anything


def test_canonicalize_preserves_reference_ids(spark):
    """Canonical ids are additive — the mention_id column is untouched."""
    mentions = spark.createDataFrame(
        [("a", "k1"), ("b", "k1")], "mention_id string, key string"
    )
    out = canonicalize_mentions(mentions, _no_links(spark))
    assert set(out.columns) == {"mention_id", "canonical_id"}
    assert {r["mention_id"] for r in out.collect()} == {"a", "b"}


def test_lemma_key_same_doc_and_cross_doc(spark):
    """The lemma-key signal generalizes the reference's per-doc map (X5)
    across documents: same key in two docs → same cluster."""
    mentions = spark.createDataFrame(
        [("d1-apple", "apple"), ("d2-apple", "apple"), ("d1-paris", "paris")],
        "mention_id string, key string",
    )
    got = {
        r["mention_id"]: r["canonical_id"]
        for r in canonicalize_mentions(mentions, _no_links(spark)).collect()
    }
    assert got == {
        "d1-apple": "d1-apple", "d2-apple": "d1-apple", "d1-paris": "d1-paris"
    }


def _canonical_oracle(mentions, links):
    """Mention-level definition, by union-find: mentions sharing a
    non-null key are connected, ids linked to one non-null entity are
    connected, a cluster is labelled by its minimum id. The output has
    every mention plus each other linked id whose entity links another
    id too."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union_groups(pairs):
        first = {}
        for member, group in pairs:
            find(member)
            if group is not None:
                a, b = find(first.setdefault(group, member)), find(member)
                parent[max(a, b)] = min(a, b)

    union_groups(mentions)
    union_groups(links)
    ids = {m for m, _ in mentions}
    by_entity = {}
    for m, e in links:
        if e is not None:
            by_entity.setdefault(e, set()).add(m)
    ids |= {m for members in by_entity.values() if len(members) > 1 for m in members}
    return {m: find(m) for m in ids}


def test_canonicalize_matches_mention_level_union_find(spark):
    """Contracting each key group to its minimum id before connected
    components must give the mention-level answer on inputs with null
    and "" keys, duplicate mention rows, mentions linked to several
    entities, null entities and links to ids that are not mentions."""
    import random

    for seed in range(1, 7):
        rng = random.Random(seed)
        n = rng.randrange(20, 60)
        ids = [f"v{i:03d}" for i in range(n)]
        keys = [None, ""] + [f"k{i}" for i in range(rng.randrange(3, 12))]
        mention_ids = [v for v in ids if rng.random() < 0.85]
        mentions = [(m, rng.choice(keys)) for m in mention_ids]
        mentions += rng.sample(mentions, len(mentions) // 5)  # duplicate rows
        entities = [None] + [f"Q{i}" for i in range(rng.randrange(2, 8))]
        links = [
            (rng.choice(ids), rng.choice(entities))
            for _ in range(rng.randrange(n // 2, 2 * n))
        ]
        m_df = spark.createDataFrame(mentions, "mention_id string, key string")
        l_df = spark.createDataFrame(links, "mention_id string, entity_id string")
        for with_links in (True, False):
            got = canonicalize_mentions(
                m_df, l_df if with_links else _no_links(spark)
            ).collect()
            want = _canonical_oracle(mentions, links if with_links else [])
            assert len(got) == len(want), f"seed {seed}, links={with_links}"
            assert {r["mention_id"]: r["canonical_id"] for r in got} == want, (
                f"seed {seed}, links={with_links}"
            )


def test_canonicalize_runs_components_over_keys(spark, monkeypatch):
    """Components run over one vertex per lemma key, not per mention:
    1,000 mentions of 5 keys give a graph of at most 5 vertices."""
    seen = []
    real = canonicalize.connected_components

    def spy(edges, *args, **kwargs):
        seen.append(edges)
        return real(edges, *args, **kwargs)

    monkeypatch.setattr(canonicalize, "connected_components", spy)
    mentions = spark.createDataFrame(
        [(f"m{i:04d}", f"k{i % 5}") for i in range(1000)],
        "mention_id string, key string",
    )
    links = spark.createDataFrame(
        [(f"m{i:04d}", f"Q{i % 3}") for i in range(0, 1000, 7)],
        "mention_id string, entity_id string",
    )
    got = canonicalize_mentions(mentions, links).collect()
    assert len(got) == 1000
    assert {r["canonical_id"] for r in got} == {"m0000"}
    (edges,) = seen
    ends = edges.select("src").unionByName(edges.select(F.col("dst").alias("src")))
    assert ends.distinct().count() <= 5


def test_cc_raises_on_non_convergence(spark, monkeypatch):
    """A chain of diameter > CC_MAX_ITER must raise, not return a
    partially merged clustering as if converged."""
    import pytest

    from dstlr_spark.operators.canonicalize import connected_components

    chain = spark.createDataFrame(
        [(f"v{i:02d}", f"v{i + 1:02d}") for i in range(8)], "src string, dst string"
    )
    monkeypatch.setattr(canonicalize, "CC_MAX_ITER", 2)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain)
    # and with enough rounds the same chain converges to one component
    monkeypatch.setattr(canonicalize, "CC_MAX_ITER", 20)
    cc = connected_components(chain)
    assert cc.select("component").distinct().count() == 1


def test_canonical_triples_er_apply_invariants(spark):
    """kg_canonical_triples: endpoints are canonical representatives,
    coref self-loops are gone, and provenance counts are consistent
    (n_docs ≤ n_triples; one output row per canonical key)."""
    from dstlr_spark.queries.doc_kg import (
        q_canonical_clusters,
        q_canonical_triples,
    )

    sf = "/root/testdata/sf0.001"
    reps = {r["canonical_id"] for r in q_canonical_clusters(spark, sf).collect()}
    rows = q_canonical_triples(spark, sf).collect()
    assert rows, "corpus must yield cross-cluster relations"
    keys = [(r["subj"], r["relation"], r["obj"]) for r in rows]
    assert len(keys) == len(set(keys))  # collapsed to one row per triple
    for r in rows:
        assert r["subj"] != r["obj"]
        assert r["subj"] in reps and r["obj"] in reps
        assert 1 <= r["n_docs"] <= r["n_triples"]


def test_cc_matches_union_find_on_random_graphs(spark):
    """Equivalence property for the canonicalization core: on seeded
    random graphs across the shapes that break naive propagation —
    sparse forests, denser near-cliques, many singleton components,
    self-loops, duplicate and reversed-duplicate edges — the Spark
    pointer-doubling operator must produce exactly the label a
    sequential union-find oracle derives (component = lexicographic
    min member, the operator's documented contract)."""
    import random

    def oracle(n, edges):
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[ra] = rb
        comp = {}
        for v in range(n):
            comp.setdefault(find(v), []).append(v)
        out = {}
        for members in comp.values():
            lab = min(f"v{m:03d}" for m in members)
            for m in members:
                out[f"v{m:03d}"] = lab
        return out

    for seed, n, m in [(1, 12, 6), (2, 30, 25), (3, 40, 70), (4, 25, 12), (5, 50, 50)]:
        rng = random.Random(seed)
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        edges += [(v, v) for v in (0, n - 1)]           # self-loops
        edges += [(b, a) for a, b in edges[: m // 3]]   # reversed dups
        edges += edges[: m // 4]                        # exact dups
        # a self-loop per vertex makes the isolated ones vertices too
        df = spark.createDataFrame(
            [(f"v{a:03d}", f"v{b:03d}") for a, b in edges]
            + [(f"v{i:03d}", f"v{i:03d}") for i in range(n)],
            "src string, dst string",
        )
        got = _cc_map(connected_components(df))
        assert got == oracle(n, edges), f"seed {seed}"


def test_cc_partitioning_invariance(spark):
    """The operator's result must be a pure function of the edge SET —
    identical labels whether the edges arrive in 1 partition or 16,
    shuffled or sorted (at 1000 executors the physical layout is
    arbitrary; any layout sensitivity here silently corrupts every
    canonical id downstream)."""
    import random

    rng = random.Random(9)
    edges = [
        (f"v{rng.randrange(60):03d}", f"v{rng.randrange(60):03d}")
        for _ in range(80)
    ]
    base = None
    for nparts, order in [(1, False), (4, True), (16, True)]:
        rows = list(edges)
        if order:
            rng.shuffle(rows)
        df = spark.createDataFrame(rows, "src string, dst string").repartition(
            nparts
        )
        got = _cc_map(connected_components(df))
        if base is None:
            base = got
        else:
            assert got == base, f"labels differ at {nparts} partitions"
