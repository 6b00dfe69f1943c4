"""LSH band-bucket skew guard: a degenerate band key (e.g. 10⁵ identical
docs) must not silently explode into O(bucket²) join rows — oversize
buckets are dropped from the join and reported LOUDLY via
``skipped_band_buckets`` / the ``dedup_lsh_skipped_buckets`` query."""

from __future__ import annotations

from dstlr_spark.queries import dedup, doc_kg
from dstlr_spark.queries.dedup import (
    _shingles,
    LSH_BANDS,
    _banded,
    minhash_candidate_pairs,
    skipped_band_buckets,
)


def _adversarial_docs(spark, n_identical: int = 40):
    rows = [
        (f"dup{i:03d}", "alpha beta gamma delta epsilon zeta eta theta")
        for i in range(n_identical)
    ]
    rows += [
        ("pair_a", "one two three four five six seven"),
        ("pair_b", "one two three four five six seven"),
    ]
    return spark.createDataFrame(rows, "doc_id string, text string")


def test_lsh_bucket_guard_skips_degenerate_buckets(spark, monkeypatch):
    monkeypatch.setattr(dedup, "LSH_MAX_BUCKET", 10)
    docs = _adversarial_docs(spark)
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_candidate_pairs(
            _banded(_shingles(docs)).localCheckpoint()
        ).collect()
    }
    # the 40-identical group is over the cap in every band → no pairs from it
    assert not any(a.startswith("dup") or b.startswith("dup") for a, b in pairs)
    # small buckets still join: the 2-doc group survives
    assert ("pair_a", "pair_b") in pairs

    skipped = skipped_band_buckets(_banded(_shingles(docs))).collect()
    # identical docs share ALL band keys → one oversize bucket per band
    assert len(skipped) == LSH_BANDS
    assert all(r["n_docs"] == 40 for r in skipped)


def test_lsh_bucket_guard_inactive_below_cap(spark, monkeypatch):
    monkeypatch.setattr(dedup, "LSH_MAX_BUCKET", 10)
    docs = _adversarial_docs(spark, n_identical=5)
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_candidate_pairs(
            _banded(_shingles(docs)).localCheckpoint()
        ).collect()
    }
    # 5 ≤ cap: the identical group pairs normally (C(5,2) pairs)
    assert sum(a.startswith("dup") and b.startswith("dup") for a, b in pairs) == 10
    assert skipped_band_buckets(_banded(_shingles(docs))).count() == 0


def test_ngram_jaccard_stop_shingle_cap(spark, monkeypatch):
    """A viral shingle shared by every doc must not drive O(posting²)
    pair generation: above the cap it drops from the shingle SET (both
    intersection and sizes), below the cap it participates normally."""
    from dstlr_spark.queries.dedup import ngram_jaccard_pairs

    viral = "common common common common"  # shingles shared by all docs
    rows = [(f"d{i:02d}", f"{viral} unique{i}a unique{i}b unique{i}c") for i in range(20)]
    rows += [("twin_a", f"{viral} twin twin twin"),
             ("twin_b", f"{viral} twin twin twin")]
    docs = spark.createDataFrame(rows, "doc_id string, text string")

    monkeypatch.setattr(dedup, "HOT_SHINGLE_CAP", 5)
    capped = {
        (r["doc_a"], r["doc_b"]): r["jaccard_ppm"]
        for r in ngram_jaccard_pairs(_shingles(docs)).collect()
    }
    # the viral shingles (22 docs each) are dropped: the d* docs share
    # nothing else, so no d*-d* pair survives the 0.6 threshold
    assert not any(a.startswith("d") and b.startswith("d") for a, b in capped)
    # the twins still match on their OWN shingles, now with Jaccard 1.0
    assert capped[("twin_a", "twin_b")] == 1_000_000

    # below the cap the viral shingles count: d-d pairs share 2 of 8
    # shingles → 250000 ppm (under threshold) but twins stay perfect
    monkeypatch.setattr(dedup, "HOT_SHINGLE_CAP", 1000)
    uncapped = {
        (r["doc_a"], r["doc_b"]): r["jaccard_ppm"]
        for r in ngram_jaccard_pairs(_shingles(docs)).collect()
    }
    assert uncapped[("twin_a", "twin_b")] > 900_000


def test_comention_entity_cap(spark, monkeypatch):
    """A doc linking more entities than the cap contributes NO co-mention
    edges (it would emit O(E²) pairs) and is loudly auditable."""
    from dstlr_spark.queries.doc_kg import _comention_und, skipped_comention_docs

    rows = [("mega", f"E{i:03d}") for i in range(30)]
    rows += [("ok1", "E001"), ("ok1", "E002"), ("ok2", "E001"), ("ok2", "E003")]
    ent_docs = spark.createDataFrame(rows, "doc string, entity_id string")

    monkeypatch.setattr(doc_kg, "COMENTION_MAX_ENTITIES", 10)
    und = {(r["doc"], r["src"], r["dst"])
           for r in _comention_und(ent_docs).collect()}
    assert not any(d == "mega" for d, *_ in und)
    assert ("ok1", "E001", "E002") in und and ("ok2", "E001", "E003") in und

    skipped = skipped_comention_docs(ent_docs).collect()
    assert [(r["doc"], r["n_entities"]) for r in skipped] == [("mega", 30)]


def test_incremental_candidates_are_batch_pairs_cross_restricted(spark):
    """dedup_incremental == dedup_minhash_pairs restricted to pairs
    with exactly one side in the incoming batch — the ingest path may
    never invent or miss a candidate relative to batch mode."""
    from dstlr_spark.queries.dedup import (
        INCR_BATCH_MOD,
        INCR_BATCH_REM,
        q_dedup_incremental,
        q_dedup_minhash_pairs,
    )

    sf = "/root/testdata/sf0.001"
    inc = {
        (r["new_doc"], r["corpus_doc"])
        for r in q_dedup_incremental(spark, sf).collect()
    }

    def is_new(d):
        return int(d) % INCR_BATCH_MOD == INCR_BATCH_REM

    batch = set()
    for r in q_dedup_minhash_pairs(spark, sf).collect():
        a, b = r["doc_a"], r["doc_b"]
        if is_new(a) != is_new(b):
            new, corp = (a, b) if is_new(a) else (b, a)
            batch.add((new, corp))
    assert inc == batch


def test_edit_distance_rescorer_ascii_guard(spark, tmp_path):
    """Edit-distance rescoring: near-identical ASCII docs in one LSH
    bucket score their true distance; a non-ASCII twin pair is excluded
    by the documented codepoint/byte guard (identically in the oracle),
    not scored divergently."""
    from pyspark.sql import functions as F

    from dstlr_spark.queries.dedup import q_dedup_edit_distance

    base = "the quick brown fox jumps over the lazy dog again and again ok"
    docs = [
        ("1", base),
        ("2", base.replace("dog", "cat")),          # near-dup, ASCII
        ("3", base.replace("quick", "quíck")),      # near-dup, non-ASCII
        ("4", "completely different words entirely here nothing shared"),
    ]
    spark.createDataFrame(docs, "doc_id string, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    rows = q_dedup_edit_distance(spark, str(tmp_path)).collect()
    pairs = {(r["doc_a"], r["doc_b"]): r for r in rows}
    assert ("1", "2") in pairs
    assert pairs[("1", "2")]["edit_distance"] == 3  # dog -> cat
    assert all("3" not in p for p in pairs)  # non-ASCII excluded, both engines


def test_substring_coverage_union_of_planted_windows(spark, tmp_path):
    """A 20-token run shared by two docs marks exactly those tokens as
    duplicated in each (overlapping windows union, not double-count);
    a doc sharing nothing scores 0; sub-window (<20 token) overlap
    does not trigger."""
    from dstlr_spark.queries.dedup import SUBSTR_W, q_dedup_substring_coverage

    shared = " ".join(f"s{i}" for i in range(SUBSTR_W))  # exactly W tokens
    a = shared + " " + " ".join(f"a{i}" for i in range(SUBSTR_W))
    b = " ".join(f"b{i}" for i in range(SUBSTR_W)) + " " + shared
    c = " ".join(f"c{i}" for i in range(2 * SUBSTR_W))  # unique
    df = spark.createDataFrame(
        [("1", a), ("2", b), ("3", c)], "doc_id string, text string"
    )
    df.write.parquet(str(tmp_path / "documents.parquet"))
    rows = {
        r["doc_id"]: r
        for r in q_dedup_substring_coverage(spark, str(tmp_path)).collect()
    }
    assert rows["1"]["dup_tokens"] == SUBSTR_W
    assert rows["2"]["dup_tokens"] == SUBSTR_W
    assert rows["3"]["dup_tokens"] == 0
    assert rows["3"]["dup_coverage_ppm"] == 0
    assert rows["1"]["dup_coverage_ppm"] == 500_000  # half the doc


def test_neighbor_jaccard_exact_and_hub_excluded(spark, monkeypatch):
    """Known 4-vertex graph → exact Jaccard; a planted hub above the
    cap stops generating wedges THROUGH itself but keeps full degrees
    in the denominator."""
    from dstlr_spark.queries.doc_kg import adjacency, neighbor_jaccard

    # path graph A-B, B-C, C-D plus A-C: neighbors A:{B,C} B:{A,C}
    # C:{A,B,D} D:{C}
    edges = spark.createDataFrame(
        [("A", "B"), ("B", "C"), ("C", "D"), ("A", "C")], "src string, dst string"
    )
    monkeypatch.setattr(doc_kg, "JACCARD_HUB_CAP", 10)
    out = {
        (r.entity_a, r.entity_b): r
        for r in neighbor_jaccard(adjacency(edges)).collect()
    }
    # A and B share neighbor C: J = 1/(2+2-1)
    ab = out[("A", "B")]
    assert ab.common_neighbors == 1 and ab.jaccard_ppm == 1_000_000 // 3
    # A and D share neighbor C: J = 1/(2+1-1) = 1/2
    assert out[("A", "D")].jaccard_ppm == 500_000
    # B and D share neighbor C
    assert ("B", "D") in out
    # cap=2 excludes C (degree 3) as a SHARED neighbor: every pair above
    # met only through C, so they all vanish; A-B still meet through... 
    # A's other neighbor is C only for B — wedge x-n-y needs shared n.
    # Remaining shared-neighbor wedges: through A (B,C), through B (A,C).
    monkeypatch.setattr(doc_kg, "JACCARD_HUB_CAP", 2)
    capped = {
        (r.entity_a, r.entity_b): r
        for r in neighbor_jaccard(adjacency(edges)).collect()
    }
    assert ("A", "D") not in capped and ("B", "D") not in capped
    bc = capped[("B", "C")]  # through shared neighbor A
    assert bc.common_neighbors == 1 and bc.deg_b == 3  # full degree kept
    assert capped[("A", "C")].common_neighbors == 1  # through B


def test_rule_mining_confidence_and_fan_cap(spark, monkeypatch):
    """Planted composition rule r1(a,b) ∧ r2(b,c) ⇒ r3(a,c) with known
    support/confidence; a mid entity over the fan cap emits no paths."""
    from dstlr_spark.queries.doc_kg import mine_rules

    triples = [
        # two r1-r2 paths through mid M: (a1, c1) and (a2, c2)
        ("a1", "r1", "M"), ("M", "r2", "c1"),
        ("a2", "r1", "M2"), ("M2", "r2", "c2"),
        # head r3 holds for one of the two body pairs
        ("a1", "r3", "c1"),
    ]
    t = spark.createDataFrame(triples, "subj string, relation string, obj string")
    monkeypatch.setattr(doc_kg, "RULE_MID_FAN_CAP", 1000)
    out = {
        (r.body_r1, r.body_r2, r.head_relation): r
        for r in mine_rules(t).collect()
    }
    rule = out[("r1", "r2", "r3")]
    assert rule.n_body == 2 and rule.support == 1
    assert rule.conf_ppm == 500_000
    # hub mid: in-degree × out-degree fan above the cap → its paths drop
    hub = [(f"x{i}", "r1", "HUB") for i in range(4)]
    hub += [("HUB", "r2", f"y{i}") for i in range(4)]
    hub += [("x0", "r3", "y0")]
    th = spark.createDataFrame(hub, "subj string, relation string, obj string")
    assert mine_rules(th).where("body_r1 = 'r1'").count() > 0
    monkeypatch.setattr(doc_kg, "RULE_MID_FAN_CAP", 15)
    assert mine_rules(th).count() == 0  # 4×4 = 16 > 15
