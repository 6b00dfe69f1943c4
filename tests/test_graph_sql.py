"""Graph tables: C9 span cap at materialize time, builder parity."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dstlr_spark.operators.graph import materialize_graph
from dstlr_spark.operators.clean import supporting_information
from dstlr_spark.plans.pipeline import build_triples
from dstlr_spark.operators.extract import extract_triples_pattern
from dstlr_spark.schemas import DOCUMENT_SCHEMA
from dstlr_spark.sources.fixtures import alias_dict, facts, property_relation
from dstlr_spark.sources.transcripts import generate_transcripts


def test_span_capped_at_1024_bytes(spark):
    """C9: mention spans are byte-capped at graph-materialize time
    without splitting a code point (LoadTriples.scala:55-59 analog)."""
    wide = "日" * 600  # 1800 UTF-8 bytes
    docs = spark.createDataFrame(
        [("d1", f"Apple sells {wide}.")], DOCUMENT_SCHEMA
    )
    # patch a long span through: use pattern annotator mention on 'Apple'
    # plus a synthetic long-span triple appended manually
    t = extract_triples_pattern(docs)
    long_row = spark.createDataFrame(
        [("d1", "Document", "d1", "MENTIONS", "Mention", "m-long")],
        "doc string, subjectType string, subjectValue string, relation string, "
        "objectType string, objectValue string",
    ).withColumn(
        "meta",
        F.struct(
            F.lit("OTHER").alias("entity_class"),
            F.lit(wide).alias("span"),
            F.lit(0).cast("int").alias("begin"),
            F.lit(600).cast("int").alias("end"),
            F.lit(None).cast("string").alias("normalized"),
            F.lit(None).cast("double").alias("confidence"),
        ),
    )
    g = materialize_graph(t.unionByName(long_row))
    node = g["mention_nodes"].where(F.col("mention_id") == "m-long").first()
    span_bytes = node["span"].encode("utf-8")
    assert len(span_bytes) <= 1024
    assert node["span"] == "日" * 341  # whole code points only


def test_fk_elision_equals_cypher_literal_plan(spark):
    """The clean chain's MENTIONS-edge semijoin elision is row-for-row
    identical to the Cypher-literal plan on a graph from our own
    materializer — for all three clean patterns. The literal plan is the
    same pattern over a graph whose relation edges are first semijoined
    with ``mentions_edges`` on (doc_id, subject_mention_id)."""
    from dstlr_spark.operators.clean import (
        inconsistent_information,
        missing_information,
    )

    tr = generate_transcripts(spark, n_convs=8)
    g = materialize_graph(
        build_triples(tr, alias_dict(spark), facts(spark), property_relation(spark))
    )
    subj_doc = g["mentions_edges"].select(
        F.col("doc_id"), F.col("mention_id").alias("subject_mention_id")
    ).dropDuplicates()
    g_literal = dict(
        g,
        relation_edges=g["relation_edges"].join(
            subj_doc, ["doc_id", "subject_mention_id"], "inner"
        ),
    )
    key = ["doc_id", "subject_mention_id", "type", "object_mention_id", "entity_id"]
    for fn in (supporting_information, inconsistent_information, missing_information):
        fast = sorted(map(tuple, fn(g).select(*key).collect()))
        literal = sorted(map(tuple, fn(g_literal).select(*key).collect()))
        assert fast == literal, fn.__name__
        assert len(fast) > 0 or fn is missing_information, fn.__name__


GRAPH_TABLES = (
    "mention_nodes", "mentions_edges", "links_to",
    "relation_edges", "fact_edges", "entity_nodes",
)


@pytest.fixture(scope="module")
def doc_kg(spark):
    from dstlr_spark.plans.native_kg import NativeKG
    from dstlr_spark.queries.doc_kg import (
        COOCCUR_WINDOW,
        _aliases,
        _doc_fact_triples,
        _documents,
        _gazetteer,
    )

    kg = NativeKG(
        _documents(spark, "/root/testdata/sf0.001"),
        _gazetteer(spark),
        _aliases(spark),
        _doc_fact_triples(spark),
        cooccur_window=COOCCUR_WINDOW,
        sent_threshold=10_000,
    )
    yield kg
    kg.unpersist()


def test_native_graph_matches_materialize_graph(doc_kg):
    """Both builders go through graph_tables: NativeKG's one-hop
    derivation from the mention frame and materialize_graph over the
    same KG's triple bag must yield row-identical tables."""

    def rows(df):
        return sorted(map(repr, df.collect()))

    native = doc_kg.graph()
    via_bag = materialize_graph(doc_kg.bag())
    for t in GRAPH_TABLES:
        got = rows(native[t])
        assert got == rows(via_bag[t]), t
        assert len(got) > 0, t


def test_native_graph_derives_from_mention_frame_in_one_hop(spark, doc_kg):
    """The docs-path tables read the persisted mention frame directly:
    no bag Union and no re-run extraction scan above the cache."""
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    graph = doc_kg.graph()
    for t in ("mention_nodes", "mentions_edges", "links_to", "relation_edges"):
        plan = graph[t]._jdf.queryExecution().explainString(jmode)
        above, cached, _ = plan.partition("InMemoryRelation")
        assert cached, t
        assert "Union" not in above and "MapInPandas" not in above, t


def test_graph_plans_run_no_python_udf(spark, doc_kg):
    """The span cap is a JVM expression: no graph table of either builder
    crosses a scalar Python UDF boundary (the annotators' ``MapInPandas``
    scans are the only Python left, below the tables)."""
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    docs = spark.createDataFrame([("d1", "Apple is based in Cupertino.")], DOCUMENT_SCHEMA)
    builders = {
        "native": doc_kg.graph(),
        "via_bag": materialize_graph(doc_kg.bag()),
        "pattern": materialize_graph(extract_triples_pattern(docs, alias_dict=alias_dict(spark))),
    }
    for b, graph in builders.items():
        for t in GRAPH_TABLES:
            plan = graph[t]._jdf.queryExecution().explainString(jmode)
            assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, (b, t)
