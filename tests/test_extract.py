"""Extraction semantics vs the reference's smoke corpus (SURVEY.md §5).

The 5 embedded sentences (ExtractTriples.scala:162) have known expected
extractions (demo.md:12-57); these are our reference-parity goldens.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dstlr_spark.functions.text import lemma_key, max_sentence_tokens
from dstlr_spark.operators.extract import (
    PatternAnnotator,
    _lemma_key_py,
    apply_sentence_guard,
    extract_bag_fused,
    extract_mentions_native,
    extract_triples_pattern,
    mention_triples,
    relation_triples,
)
from dstlr_spark.schemas import DOCUMENT_SCHEMA
from dstlr_spark.sources.transcripts import SMOKE_SENTENCES


def _smoke_docs(spark):
    rows = [(f"smoke-{i}", s) for i, s in enumerate(SMOKE_SENTENCES)]
    return spark.createDataFrame(rows, DOCUMENT_SCHEMA)


def test_smoke_mentions_and_relations(spark):
    triples = extract_triples_pattern(_smoke_docs(spark)).collect()
    by_doc_rel = {}
    for t in triples:
        by_doc_rel.setdefault((t["doc"], t["relation"]), []).append(t)

    # smoke-0: Barack Obama (PERSON) + date with SUTime-style normalization
    m0 = by_doc_rel[("smoke-0", "MENTIONS")]
    classes = {t["meta"]["entity_class"]: t["meta"] for t in m0}
    assert classes["PERSON"]["span"] == "Barack Obama"
    assert classes["DATE"]["normalized"] == "1961-08-04"
    assert ("smoke-0", "PER_DATE_OF_BIRTH") in by_doc_rel

    # smoke-2: Good Technology based in Sunnyvale → ORG_CITY_OF_HEADQUARTERS
    # confidence is cue-distance-derived (1/(1 + gap/10)): subject ends at
    # 15, cue "based in" spans [30, 38), object begins at 39 → gap 15
    rel2 = by_doc_rel[("smoke-2", "ORG_CITY_OF_HEADQUARTERS")]
    assert len(rel2) == 1 and rel2[0]["meta"]["confidence"] == 1.0 / 2.5

    # smoke-4: located-in pattern + STATE_OR_PROVINCE mention
    m4 = {t["meta"]["entity_class"] for t in by_doc_rel[("smoke-4", "MENTIONS")]}
    assert m4 == {"ORGANIZATION", "CITY", "STATE_OR_PROVINCE"}
    assert ("smoke-4", "ORG_STATEORPROVINCE_OF_HEADQUARTERS") in by_doc_rel


def test_mention_ids_deterministic_and_shared_per_key(spark):
    """X5: one stable id per distinct lemma key per doc; same key in a
    different doc gets a different id."""
    docs = spark.createDataFrame(
        [("d1", "Apple is based in Cupertino. Apple ships phones."),
         ("d2", "Apple is based in Cupertino.")],
        DOCUMENT_SCHEMA,
    )
    t = extract_triples_pattern(docs).where(F.col("relation") == "MENTIONS").collect()
    apple_ids_d1 = {x["objectValue"] for x in t if x["doc"] == "d1" and x["meta"]["span"] == "Apple"}
    apple_ids_d2 = {x["objectValue"] for x in t if x["doc"] == "d2" and x["meta"]["span"] == "Apple"}
    n_apple_d1 = sum(1 for x in t if x["doc"] == "d1" and x["meta"]["span"] == "Apple")
    assert n_apple_d1 == 2          # one MENTIONS row per occurrence
    assert len(apple_ids_d1) == 1   # ...sharing one id (per-doc identity)
    assert apple_ids_d1 != apple_ids_d2  # doc-scoped ids


def test_sentence_guard_drops_whole_document(spark):
    """F3: a single over-threshold sentence drops the entire doc."""
    long_sent = " ".join(f"t{i}" for i in range(200)) + "."
    docs = spark.createDataFrame(
        [("short", "Apple is based in Cupertino."),
         ("long", "Apple is based in Cupertino. " + long_sent)],
        DOCUMENT_SCHEMA,
    )
    kept = apply_sentence_guard(docs, 128).select("doc_id").collect()
    assert {r["doc_id"] for r in kept} == {"short"}
    t = extract_triples_pattern(docs, sent_threshold=128)
    assert {r["doc"] for r in t.collect()} == {"short"}


def test_max_sentence_tokens_column(spark):
    df = spark.createDataFrame(
        [("a", "one two three. four five."), ("b", "x")], DOCUMENT_SCHEMA
    )
    got = {
        r["doc_id"]: r["m"]
        for r in df.select("doc_id", max_sentence_tokens("contents").alias("m")).collect()
    }
    assert got == {"a": 3, "b": 1}


def test_lemma_key_python_spark_lockstep(spark):
    """The Python annotator twin and the Column implementation agree."""
    samples = ["August 4th, 1961.", "Good Technology", "a, b; c!", "x  y"]
    df = spark.createDataFrame([(s,) for s in samples], "s string")
    spark_keys = [r["k"] for r in df.select(lemma_key("s").alias("k")).collect()]
    assert spark_keys == [_lemma_key_py(s) for s in samples]


def test_annotator_failure_isolation(monkeypatch):
    """X2: a document that makes the annotator throw contributes 0 triples
    and never kills the batch (ExtractTriples.scala:88,117-119) — even
    when it throws after emitting part of its rows into the batch's
    shared accumulator.

    Tested on the batch function directly (the Spark worker would import
    an unpatched module, so the monkeypatch must stay in-process).
    """
    import pandas as pd

    import dstlr_spark.operators.extract as ex

    orig = PatternAnnotator.emit

    def flaky(self, out, doc_id, contents, link_best=None):
        orig(self, out, doc_id, contents, link_best)
        if doc_id == "boom":
            assert out.size() > 0  # the partial rows are really there
            raise ValueError("synthetic failure")

    monkeypatch.setattr(PatternAnnotator, "emit", flaky)
    monkeypatch.setattr(ex, "_ANNOTATOR", None)
    pdf = pd.DataFrame(
        {"doc_id": ["ok", "boom", "ok2"],
         "contents": ["Apple is based in Cupertino."] * 3}
    )
    out = pd.concat(list(ex._extract_batches_factory()(iter([pdf]))))
    assert set(out["doc"]) == {"ok", "ok2"}
    assert len(out) == 2 * len(PatternAnnotator().annotate("ok", pdf["contents"][0]))


def test_all_miss_batches_are_empty_not_type_errors(spark):
    """A partition whose documents hold no gazetteer term, no pattern
    match, or no contents at all yields empty batches that Arrow still
    accepts as the declared schema (string and struct columns included)
    — through all three extraction bodies."""
    import pandas as pd
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    import dstlr_spark.operators.extract as ex
    from dstlr_spark.schemas import TRIPLE_SCHEMA

    rows = [("m1", "nothing here to find"), ("m2", "plain words only"), ("m3", None)]
    docs = spark.createDataFrame(rows, DOCUMENT_SCHEMA).coalesce(1)
    gaz = spark.createDataFrame([("spark", "TOOL")], "term string, entity_class string")
    ali = spark.createDataFrame([("spark", "Q1", 1.0)], "alias string, entity_id string, prior double")
    assert extract_mentions_native(docs, gaz, ali).count() == 0
    assert extract_bag_fused(docs, gaz, ali).count() == 0
    assert extract_triples_pattern(docs, alias_dict=ali).count() == 0

    # the sentence guard drops the null row before the triple bodies see
    # it in Spark, so feed the bodies the whole batch directly as well
    batch = pd.DataFrame({"doc_id": [r[0] for r in rows], "contents": [r[1] for r in rows]})
    bodies = [
        ex._fused_bag_batches({"spark": "TOOL"}, {"spark": "Q1"}, 8),
        ex._extract_batches_factory({"spark": "Q1"}),
    ]
    for body in bodies:
        (frame,) = body(iter([batch]))
        table = pa.Table.from_pandas(frame, schema=to_arrow_schema(TRIPLE_SCHEMA), preserve_index=False)
        assert table.num_rows == 0


def test_native_extraction_matches_manual(spark):
    docs = spark.createDataFrame(
        [("d1", "spark join spark filter scan")], DOCUMENT_SCHEMA
    )
    gaz = spark.createDataFrame(
        [("spark", "TOOL"), ("join", "OP"), ("scan", "OP")], "term string, entity_class string"
    )
    ali = spark.createDataFrame([("spark", "Q1", 1.0)], "alias string, entity_id string, prior double")
    m = extract_mentions_native(docs, gaz, ali)
    rows = mention_triples(m).unionByName(relation_triples(m, 2)).collect()
    mentions = [r for r in rows if r["relation"] == "MENTIONS"]
    rels = [r for r in rows if r["relation"].startswith("COOCCURS")]
    assert len(mentions) == 4  # spark x2, join, scan
    spans = sorted(m["meta"]["span"] for m in mentions)
    assert spans == ["join", "scan", "spark", "spark"]
    # offsets: "spark join spark filter scan" — begin of "join" is 6
    join_m = [m for m in mentions if m["meta"]["span"] == "join"][0]
    assert (join_m["meta"]["begin"], join_m["meta"]["end"]) == (6, 10)
    # co-occurrence pairs within window 2, distinct keys, left-to-right:
    # (spark@0,join@1) (spark@0,spark@2 — same key, excluded)
    # (join@1,spark@2) (spark@2,filter? not gaz) (filter,scan not gaz)
    # (spark@2, scan@4) at distance 2 → included
    assert len(rels) == 3
    confs = sorted(r["meta"]["confidence"] for r in rels)
    assert confs == [1.0 / 3.0, 0.5, 0.5]


def test_pattern_fused_linking_parity(spark):
    """In-annotator LINKS_TO (one annotator pass) must equal the modular
    extract → link_mentions union, row for row."""
    from dstlr_spark.operators.assembly import assemble_documents
    from dstlr_spark.operators.extract import extract_triples_pattern
    from dstlr_spark.operators.linking import link_mentions
    from dstlr_spark.sources.fixtures import alias_dict
    from dstlr_spark.sources.transcripts import generate_transcripts

    docs = assemble_documents(generate_transcripts(spark, n_convs=30))
    aliases = alias_dict(spark)

    fused = extract_triples_pattern(docs, alias_dict=aliases)
    modular = extract_triples_pattern(docs)
    expected = modular.unionByName(link_mentions(modular, aliases))

    key = lambda r: tuple(str(x) for x in r)  # noqa: E731
    assert sorted(map(tuple, fused.collect()), key=key) == sorted(
        map(tuple, expected.collect()), key=key
    )


def test_udf_factories_accept_broadcast_handles(spark):
    """Dictionaries ship as sc.broadcast (once per executor), never as
    task-closure captures; the factories must unwrap handles lazily."""
    import pandas as pd

    from dstlr_spark.operators.extract import (
        _extract_batches_factory,
        _fused_bag_batches,
        _mention_scan_batches,
    )

    sc = spark.sparkContext
    gaz_bc = sc.broadcast({"Apple": "ORGANIZATION", "Cupertino": "CITY"})
    best_bc = sc.broadcast({"Apple": "Q312"})
    batch = pd.DataFrame(
        {"doc_id": ["d1"], "contents": ["Apple is based in Cupertino."]}
    )

    mentions = pd.concat(list(_mention_scan_batches(gaz_bc, best_bc)([batch])))
    assert set(mentions["span"]) == {"Apple", "Cupertino"}
    assert dict(zip(mentions["span"], mentions["entity_id"])) == {
        "Apple": "Q312", "Cupertino": None
    }

    bag = pd.concat(list(_fused_bag_batches(gaz_bc, best_bc, 8)([batch])))
    assert (bag["relation"] == "LINKS_TO").any()
    linked = bag[bag["relation"] == "LINKS_TO"]
    assert "Q312" in set(linked["objectValue"])

    pat = pd.concat(list(_extract_batches_factory(best_bc)([batch])))
    assert (pat["relation"] == "LINKS_TO").any()


def test_fused_bag_matches_native_kg_bag(spark):
    """The two scan bodies left after the variant cleanup — the fused
    per-document bag and NativeKG's vectorized mention scan plus its
    DataFrame relation/link operators — must emit the identical triple
    bag, meta struct included."""
    from dstlr_spark.operators.extract import extract_bag_fused
    from dstlr_spark.plans.native_kg import NativeKG
    from dstlr_spark.queries.doc_kg import (
        COOCCUR_WINDOW,
        _aliases,
        _documents,
        _gazetteer,
    )

    docs = _documents(spark, "/root/testdata/sf0.001")
    gaz = _gazetteer(spark)
    # a punctuated and a leading-space alias key to no mention (their
    # single-space lemma keys keep the "." and the empty token); a
    # lemma-keyed join that strips and re-splits them would link
    # "spark"/"join" mentions to these higher-prior entities
    ali = _aliases(spark).unionByName(
        spark.createDataFrame(
            [("spark.", "E-spark-dot", 5.0), (" join", "E-join-space", 5.0)],
            "alias string, entity_id string, prior double",
        )
    )

    def rows(df):
        return sorted(
            (r["doc"], r["subjectType"], r["subjectValue"], r["relation"],
             r["objectType"], r["objectValue"],
             tuple(r["meta"]) if r["meta"] is not None else None)
            for r in df.collect()
        )

    fused = rows(extract_bag_fused(docs, gaz, ali, COOCCUR_WINDOW, 10_000))
    from dstlr_spark.schemas import TRIPLE_SCHEMA

    # no fact triples: the fused bag carries none
    no_facts = spark.createDataFrame([], TRIPLE_SCHEMA)
    kg = NativeKG(
        docs, gaz, ali, no_facts,
        cooccur_window=COOCCUR_WINDOW, sent_threshold=10_000,
    )
    try:
        native = rows(kg.bag())
    finally:
        kg.unpersist()
    assert fused == native and len(fused) > 0


def test_fused_extraction_partitioning_invariance(spark):
    """North-rule determinism at unit scale: the fused extraction bag
    must be a pure function of the document SET — row-identical whether
    the corpus arrives in 1 partition or 8, sorted or shuffled (the
    scaling harness asserts equal triple COUNTS across core counts;
    this pins full row equality, so N- and 4N-executor runs are
    bit-comparable)."""
    from dstlr_spark.operators.assembly import assemble_documents
    from dstlr_spark.operators.extract import extract_bag_fused
    from dstlr_spark.queries.doc_kg import COOCCUR_WINDOW, _aliases, _gazetteer
    from dstlr_spark.sources.transcripts import derive_transcripts

    base = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .selectExpr("CAST(doc_id AS STRING) AS doc_id", "text")
        .limit(120)
    )
    gaz, ali = _gazetteer(spark), _aliases(spark)

    def rows(docs_df):
        bag = extract_bag_fused(
            assemble_documents(derive_transcripts(docs_df)),
            gaz, ali, COOCCUR_WINDOW, 10_000,
        )
        return sorted(
            (r["doc"], r["subjectType"], r["subjectValue"], r["relation"],
             r["objectType"], r["objectValue"],
             tuple(r["meta"]) if r["meta"] is not None else None)
            for r in bag.collect()
        )

    a = rows(base.coalesce(1))
    b = rows(base.repartition(8))
    c = rows(base.orderBy(F.desc("doc_id")).repartition(3, "doc_id"))
    assert a == b == c and len(a) > 0
