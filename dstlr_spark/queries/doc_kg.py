"""KG-construction queries over the driver's ``documents`` corpus.

The driver's testdata documents are space-separated word streams — the
natural fit for the engine's *native* (pure-DataFrame) annotator
(SURVEY.md §2.3): token gazetteer mentions, windowed co-occurrence
relations, broadcast alias linking, clean-query join chains.

Every query here has a DuckDB oracle generated from the SAME constants
(gazetteer / alias / fact fixtures below), so Spark result and oracle
are two independent implementations of one spec.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dstlr_spark.operators.assembly import assemble_documents
from dstlr_spark.operators.clean import (
    inconsistent_information,
    missing_information,
    supporting_information,
)
from dstlr_spark.operators.extract import best_alias_entity, relation_triples
from dstlr_spark.operators.graph import symmetrize
from dstlr_spark.functions.text import (
    PUNCT_RE,
    lemma_token,
    lemma_token_sql,
)
from dstlr_spark.plans.native_kg import NativeKG
from dstlr_spark.queries.conv import _ENRICH_SQL
from dstlr_spark.queries.sqlgen import values_cte
from dstlr_spark.queries.streamgate import _SHRED_SQL
from dstlr_spark.schemas import META_SCHEMA
from dstlr_spark.sources.transcripts import derive_transcripts

COOCCUR_WINDOW = 8

# --- shared spec constants (drive BOTH the Spark plan and the oracle) -----
DOC_GAZETTEER: list[tuple[str, str]] = [
    ("spark", "SYSTEM"),
    ("join", "OPERATOR"),
    ("scan", "OPERATOR"),
    ("sort", "OPERATOR"),
    ("merge", "OPERATOR"),
    ("filter", "OPERATOR"),
    ("table", "OBJECT"),
    ("customer", "OBJECT"),
    ("query", "OBJECT"),
    ("window", "OBJECT"),
]

DOC_ALIASES: list[tuple[str, str, float]] = [
    ("spark", "E-spark", 0.9),
    ("spark", "E-spark-film", 0.1),  # ambiguity → arg-max scoring path
    ("join", "E-join", 0.9),
    ("scan", "E-scan", 0.9),
    ("sort", "E-sort", 0.8),
    ("merge", "E-merge", 0.8),
    ("filter", "E-filter", 0.8),
    ("table", "E-table", 0.7),
    ("table", "E-table-furniture", 0.3),
    ("customer", "E-customer", 0.9),
    # "query" and "window" deliberately missing → null-link path (X7)
]

DOC_FACTS: list[tuple[str, str, str]] = [
    ("E-spark", "COOCCURS_SYSTEM_OPERATOR", "join"),
    ("E-spark", "COOCCURS_SYSTEM_OBJECT", "table"),
    ("E-customer", "COOCCURS_OBJECT_OPERATOR", "scan"),
    ("E-table", "COOCCURS_OBJECT_OPERATOR", "sort"),
    ("E-join", "COOCCURS_OPERATOR_OBJECT", "window"),
]

# (entity_id, property, value) — exercises the EnrichTriples routing:
# P159 multimap fan-out, P569/P570 date reformat (C6), unmapped drop.
ENRICH_FACTS: list[tuple[str, str, str]] = [
    ("E-spark", "P159", "Berkeley"),
    ("E-spark", "P571", "2014-02-27T00:00:00Z"),  # mapped but NOT routed
    ("E-customer", "P569", "1970-01-02T03:04:05Z"),
    ("E-table", "P999", "unmapped-dropped"),
    ("E-join", "P570", "not-a-date-passes-through"),
]

PROPERTY_RELATION_DOC: list[tuple[str, str]] = [
    ("P159", "ORG_CITY_OF_HEADQUARTERS"),
    ("P159", "ORG_COUNTRY_OF_HEADQUARTERS"),
    ("P159", "ORG_STATEORPROVINCE_OF_HEADQUARTERS"),
    ("P571", "ORG_DATE_FOUNDED"),
    ("P569", "PER_DATE_OF_BIRTH"),
    ("P570", "PER_DATE_OF_DEATH"),
    ("", "ORG_DISSOLVED"),  # empty property → filtered
]


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dstlr_spark.plans.partitioning import fan_out

    # fan_out: single-row-group input — annotator/shred map stages would
    # otherwise run one-task; NativeKG's fan_out then sees the spread in
    # the plan and adds no second exchange
    return fan_out(
        spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.col("text").alias("contents"),
        )
    )


def _gazetteer(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(DOC_GAZETTEER, "term string, entity_class string")


def _aliases(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        DOC_ALIASES, "alias string, entity_id string, prior double"
    )


def _doc_fact_triples(spark: SparkSession) -> DataFrame:
    """DOC_FACTS → reference-shape ground-truth Fact triples."""
    rows = [("ground-truth", "Entity", e, r, "Fact", v) for e, r, v in DOC_FACTS]
    df = spark.createDataFrame(
        rows,
        "doc string, subjectType string, subjectValue string, relation string, "
        "objectType string, objectValue string",
    )
    return df.withColumn("meta", F.lit(None).cast(META_SCHEMA))


# --------------------------------------------------------------------------
# Spark-side queries
# --------------------------------------------------------------------------

def q_assembly_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → derived transcripts → reassembled documents.

    The oracle is the identity — proving stable-order reassembly restores
    per-turn text exactly (the driver's per-row invariant)."""
    docs = _documents(spark, sf_dir).withColumnRenamed("contents", "text")
    rebuilt = assemble_documents(derive_transcripts(docs))
    return rebuilt.select(F.col("doc_id"), F.col("contents").alias("text"))


def q_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _kg(spark, sf_dir).mentions.select(
        F.col("doc_id").alias("doc"),
        "mention_id",
        "entity_class",
        "span",
        F.col("begin").alias("begin_ofs"),
        F.col("end").alias("end_ofs"),
    )


def q_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    # corpus has no sentence structure; the staged frame's guard is off
    t = relation_triples(_kg(spark, sf_dir).mentions, COOCCUR_WINDOW)
    return t.select(
        F.col("doc"),
        F.col("subjectValue").alias("subject_mention_id"),
        F.col("relation"),
        F.col("objectValue").alias("object_mention_id"),
        F.col("meta")["confidence"].alias("confidence"),
    )


def _kg(spark: SparkSession, sf_dir: str) -> NativeKG:
    """Memoized per (application, sf_dir): ~14 kg_* queries derive from
    the same persisted mention frame, so a correctness-gate run builds it
    once instead of once per query (the production analog: all consumers
    read one Iceberg mentions stage table). Correctness is unaffected by
    external unpersist — the frame just recomputes uncached."""
    from dstlr_spark.queries._memo import staged

    return staged(
        spark,
        ("kg", sf_dir),
        lambda: NativeKG(
            _documents(spark, sf_dir),
            _gazetteer(spark),
            _aliases(spark),
            _doc_fact_triples(spark),
            cooccur_window=COOCCUR_WINDOW,
            sent_threshold=10_000,
        ),
    )


def q_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _kg(spark, sf_dir)
        .mentions.select(F.col("doc_id").alias("doc"), "mention_id", "entity_id")
        .distinct()
    )


def q_triples_by_relation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate shape check of the full triple bag."""
    return _kg(spark, sf_dir).bag().groupBy("relation").agg(
        F.count(F.lit(1)).alias("n")
    )


def _graph(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return _kg(spark, sf_dir).graph()


def _clean_cols() -> list:
    return [
        F.col("doc_id"),
        F.col("subject_mention_id"),
        F.col("type").alias("relation"),
        F.col("object_mention_id"),
        F.col("object_span"),
        F.col("entity_id"),
        F.col("fact_value"),
        F.col("confidence"),
    ]


def q_supporting(spark: SparkSession, sf_dir: str) -> DataFrame:
    return supporting_information(_graph(spark, sf_dir)).select(*_clean_cols())


ANCHOR_RELATION = "COOCCURS_SYSTEM_OPERATOR"
SUPPORT_MIN_CONF = 0.5  # exact IEEE halves: conf = 1/(1+d) ≥ 0.5 ⇔ d ≤ 1


def q_supporting_anchored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's primary CleanTriples usage: the clean query
    anchored on ONE relation type (README.md:147-151,
    ``{type: "ORG_CITY_OF_HEADQUARTERS"}``) — the anchor is an equi-key
    pushed into the relation scan, never a post-join filter."""
    return supporting_information(
        _graph(spark, sf_dir), relation_type=ANCHOR_RELATION
    ).select(*_clean_cols())


def q_supporting_confident(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confidence-thresholded supporting information: only corroborations
    whose extraction confidence (1/(1+distance), ExtractTriples'
    ``confidenceGloss`` analog) clears SUPPORT_MIN_CONF."""
    return (
        supporting_information(_graph(spark, sf_dir))
        .where(F.col("confidence") >= SUPPORT_MIN_CONF)
        .select(*_clean_cols())
    )


def q_inconsistent(spark: SparkSession, sf_dir: str) -> DataFrame:
    return inconsistent_information(_graph(spark, sf_dir)).select(*_clean_cols())


def q_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    return missing_information(_graph(spark, sf_dir)).select(*_clean_cols())


def q_enrich_facts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full EnrichTriples semantics over the doc corpus: distinct linked
    entities ⨝ facts ⨝ property→relation multimap, P159/P569/P570
    routing, C6 date reformat, ground-truth provenance rows."""
    from dstlr_spark.operators.enrich import enrich_triples

    facts = spark.createDataFrame(
        ENRICH_FACTS, "entity_id string, property string, value string"
    )
    mapping = spark.createDataFrame(
        PROPERTY_RELATION_DOC, "property string, relation string"
    )
    gt = enrich_triples(_kg(spark, sf_dir).bag(), facts, mapping)
    return gt.select(
        F.col("subjectValue").alias("entity_id"),
        "relation",
        F.col("objectValue").alias("fact_value"),
    )


def q_canonical_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document canonicalization: connected components over the
    mention-coreference graph (shared lemma key ∪ shared link target).
    The oracle expresses the same fixpoint as a DuckDB recursive CTE
    (reachability closure + MIN), so even the iterative operator is
    value-checked end-to-end."""
    cc = _mention_canonical(spark, sf_dir)
    return cc.groupBy("canonical_id").agg(
        F.count(F.lit(1)).alias("n_mentions")
    )


def _mention_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared (mention_id, canonical_id) map — the ER fixpoint both
    `kg_canonical_clusters` and `kg_canonical_triples` consume."""
    from dstlr_spark.operators.canonicalize import canonicalize_mentions

    m = _kg(spark, sf_dir).mentions
    return canonicalize_mentions(
        m.select("mention_id", "key").dropDuplicates(["mention_id"]),
        m.where(F.col("entity_id").isNotNull())
        .select("mention_id", "entity_id")
        .distinct(),
    )


def q_canonical_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ER-apply — the step that turns mention-level extractions into
    the canonical knowledge graph: rewrite each co-occurrence relation's
    endpoints to their canonical cluster ids (`kg_canonical_clusters`'s
    fixpoint), drop intra-cluster self-loops (coref artifacts, not
    facts), and collapse to ONE row per canonical (subject, relation,
    object) with provenance counts (distinct supporting docs + raw
    extraction multiplicity). This is the table a KG release ships.

    Scale: two mention-keyed equi-joins (relation endpoints ⨝ the
    vertex-sized canonical map — broadcastable once clusters are
    computed) and one hash aggregate on the canonical key. The CC
    fixpoint itself is the already-audited star-edge pointer-doubling
    operator; everything after it is a single shuffle."""
    return _canonical_relations(spark, sf_dir).groupBy("subj", "relation", "obj").agg(
        F.countDistinct("doc").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_triples"),
    )


def _canonical_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ER-apply rows (doc, subj, relation, obj, conf): every
    co-occurrence relation with both endpoint mentions rewritten to
    their canonical ids, intra-cluster self-loops dropped — shared by
    `kg_canonical_triples` and `kg_provenance_bundle`."""
    cc = _mention_canonical(spark, sf_dir)
    rels = (
        relation_triples(_kg(spark, sf_dir).mentions, COOCCUR_WINDOW)
        .select(
            "doc",
            F.col("subjectValue").alias("sm"),
            "relation",
            F.col("objectValue").alias("om"),
            F.col("meta")["confidence"].alias("conf"),
        )
    )
    return (
        rels.join(
            cc.select(F.col("mention_id").alias("sm"),
                      F.col("canonical_id").alias("subj")),
            "sm",
        )
        .join(
            cc.select(F.col("mention_id").alias("om"),
                      F.col("canonical_id").alias("obj")),
            "om",
        )
        .where(F.col("subj") != F.col("obj"))
    )


COMENTION_MAX_ENTITIES = 1_000  # per-doc entity cap for co-mention edges


def _ent_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (doc, entity_id) over the linked mention rows — the
    co-mention family's shared input, staged ONCE per (session, sf_dir)
    via :mod:`_memo` (the `_turn_spans` / `_linked_entity_pairs`
    pattern): ~20 graph queries consume this frame, so a gate run
    scans the mention cache once instead of once per consumer."""
    from dstlr_spark.queries._memo import staged

    def build() -> DataFrame:
        return (
            _kg(spark, sf_dir)
            .mentions.where(F.col("entity_id").isNotNull())
            .select(F.col("doc_id").alias("doc"), "entity_id")
            .dropDuplicates(["doc", "entity_id"])
        )

    return staged(spark, ("kg_ent_docs", sf_dir), build)


def skipped_comention_docs(ent_docs: DataFrame) -> DataFrame:
    """Documents linking more than COMENTION_MAX_ENTITIES distinct
    entities — excluded from co-mention edge generation (a 10⁴-entity
    doc would emit 10⁸ pairs) and surfaced LOUDLY here
    (``kg_comention_skipped_docs``)."""
    return (
        ent_docs.groupBy("doc")
        .agg(F.count(F.lit(1)).alias("n_entities"))
        .where(F.col("n_entities") > COMENTION_MAX_ENTITIES)
    )


def _comention_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The co-mention pair counts (src, dst, n_docs) with src < dst:
    the doc-level pair join and its aggregate, staged once per
    (session, sf_dir). `kg_entity_comention`, the edge set, k-core and
    PMI read this checkpoint instead of re-running the pair join."""
    from dstlr_spark.queries._memo import staged

    def build() -> DataFrame:
        return (
            _comention_und(_ent_docs(spark, sf_dir))
            .groupBy("src", "dst")
            .agg(F.count(F.lit(1)).alias("n_docs"))
        )

    return staged(spark, ("kg_comention_weights", sf_dir), build)


def _comention_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DISTINCT undirected co-mention edge set (src, dst): the keys
    of the staged pair counts."""
    return _comention_weights(spark, sf_dir).select("src", "dst")


def adjacency(edges: DataFrame) -> DataFrame:
    """A distinct undirected edge list (src, dst) → its adjacency
    (src, dst, degree): both directions of every edge, each row
    carrying its ``src``'s degree (distinct neighbors). The input of
    every co-mention graph kernel."""
    return symmetrize(edges).withColumn(
        "degree", F.count(F.lit(1)).over(Window.partitionBy("src"))
    )


def _comention_adj(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The co-mention adjacency (src, dst, degree) of
    `_comention_edges`, staged once per (session, sf_dir) for every
    query that walks the graph or reads vertex degrees: the adjacency
    export, degree histogram, clustering, assortativity, hub audit,
    PageRank, label propagation, the distance BFS, WL, neighbor
    Jaccard, two-hop reach and PPR."""
    from dstlr_spark.queries._memo import staged

    def build() -> DataFrame:
        return adjacency(_comention_edges(spark, sf_dir))

    return staged(spark, ("kg_comention_adj", sf_dir), build)


def _comention_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(entity_id, degree) per co-mention vertex with ≥ 1 edge."""
    return (
        _comention_adj(spark, sf_dir)
        .select(F.col("src").alias("entity_id"), "degree")
        .distinct()
    )


def _capped_ent_docs(ent_docs: DataFrame) -> DataFrame:
    """``ent_docs`` minus the docs :func:`skipped_comention_docs` excludes."""
    return ent_docs.join(
        F.broadcast(skipped_comention_docs(ent_docs).select("doc")),
        "doc",
        "left_anti",
    )


def _comention_und(ent_docs: DataFrame) -> DataFrame:
    """Distinct undirected co-mention edges (src < dst) over docs at or
    below the per-doc entity cap — O(Σ min(doc_entities, cap)²)."""
    kept = _capped_ent_docs(ent_docs)
    a = kept.alias("a")
    b = kept.alias("b")
    return (
        a.join(
            b,
            (F.col("a.doc") == F.col("b.doc"))
            & (F.col("a.entity_id") < F.col("b.entity_id")),
        )
        .select(
            F.col("a.doc").alias("doc"),
            F.col("a.entity_id").alias("src"),
            F.col("b.entity_id").alias("dst"),
        )
    )


def q_entity_degree_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the co-mention graph: (degree,
    n_entities) — the graph-stats table a KG release ships first (hub
    detection, power-law sanity). Degree = distinct neighbors = edge
    incidences over the distinct undirected edge set, read off the
    staged adjacency; one hash aggregate, output bounded by max
    degree."""
    return _comention_degrees(spark, sf_dir).groupBy("degree").agg(
        F.count(F.lit(1)).alias("n_entities")
    )


#: tokens of context kept on each side of a mention occurrence
CONTEXT_TOKENS = 3


def q_mention_contexts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distant-supervision context builder: for every mention
    occurrence, the ±CONTEXT_TOKENS raw-token window around it as a
    space-joined snippet — the (mention, context) training examples a
    relation-extraction / NER model is fine-tuned on (the step that
    turns a silver KG back into model training data).

    Scale shape: one doc-keyed equi-join (mention occurrences ⨝ the
    per-doc token array) then pure slice/array_join projections inside
    codegen. Snippet size is constant-bounded, output is
    mention-frame-sized. At 10^12 turns the join co-partitions on the
    document id — the same key both frames were produced under."""
    kg = _kg(spark, sf_dir)
    toks = _documents(spark, sf_dir).select(
        F.col("doc_id"),
        F.split(F.col("contents"), " ").alias("toks"),
    )
    m = kg.mentions.select(
        "doc_id",
        "mention_id",
        "key",
        F.col("pos").cast("int").alias("pos"),
    )
    j = m.join(toks, "doc_id")
    start = F.greatest(F.col("pos") - CONTEXT_TOKENS, F.lit(0))
    end = F.least(F.col("pos") + CONTEXT_TOKENS, F.size("toks") - 1)
    return j.select(
        F.col("doc_id").alias("doc"),
        "mention_id",
        "key",
        "pos",
        F.array_join(
            F.slice(F.col("toks"), start + 1, end - start + 1), " "
        ).alias("context"),
    )


def q_adjacency_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity adjacency export of the co-mention graph: sorted
    distinct neighbor list (comma-joined) + degree — the bulk-import
    shape graph stores and GNN samplers consume (reference parity: the
    Neo4j loader's per-node relationship groups,
    LoadTriples.scala:118-141, as a flat file instead of Cypher).

    Scale shape: the staged symmetrized adjacency (already capped +
    audited), then ONE hash aggregate per vertex; neighbor lists are
    degree-bounded — the same rows a graph store would hold. A
    production run caps the list with slice() for super-hubs; exact
    here because the oracle must hash-match."""
    return (
        _comention_adj(spark, sf_dir)
        .groupBy(F.col("src").alias("entity_id"), "degree")
        .agg(F.array_join(F.sort_array(F.collect_set("dst")), ",").alias("neighbors"))
    )


def q_entity_comention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity co-mention graph: edges between entities linked within the
    same document, weighted by document count — the KG-analytics
    aggregate layered on the linked mention rows (demo.md-style graph queries
    generalized to entity granularity). Per-doc entity cap + audit:
    see :func:`skipped_comention_docs`. A projection of the staged
    pair counts (:func:`_comention_weights`)."""
    return _comention_weights(spark, sf_dir).select(
        F.col("src").alias("entity_a"), F.col("dst").alias("entity_b"), "n_docs"
    )


def q_comention_skipped_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audit: docs excluded from co-mention edges by the entity cap
    (none on the sf corpora; the cap is exercised by tests)."""
    return skipped_comention_docs(_ent_docs(spark, sf_dir))


def _turn_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turn intervals in document coordinates: (conv_id, turn_idx,
    role, ts_s, start, ln) — the shared input of the provenance family
    (mention→turn attribution, entity timeline, temporal triples).

    Mention ``begin`` offsets are document-coordinate (the assembled
    conversation text), turn spans are the shred's cumulative lengths,
    so the turn containing a mention is the one whose
    [start, start+ln) interval covers the offset (well-defined:
    reassembly is byte-identity, pinned by ``kg_assembly_roundtrip``).
    The running sum is one conv-partitioned window — per-conversation
    state only, never a corpus-wide window. Staged once per (session,
    sf_dir): six provenance queries consume it, so a gate run derives
    the shred + window once (the dedup posting-list pattern — on a
    cluster this is an Iceberg stage table)."""
    from dstlr_spark.queries._memo import staged

    def build() -> DataFrame:
        from dstlr_spark.queries.conv import enrich_turns

        turns = derive_transcripts(
            _documents(spark, sf_dir).withColumnRenamed("contents", "text")
        )
        w = (
            Window.partitionBy("conv_id")
            .orderBy("turn_idx")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        return enrich_turns(turns).select(
            "conv_id",
            "turn_idx",
            "role",
            "ts_s",
            F.coalesce(
                F.sum(F.length("text").cast("long") + 1).over(w),
                F.lit(0).cast("long"),
            ).alias("start"),
            F.length("text").cast("long").alias("ln"),
        )

    return staged(spark, ("kg_turn_spans", sf_dir), build)


def q_mention_turn_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribute every KG mention back to the transcript TURN that
    contains it — the axes-A+B bridge (interval semantics in
    :func:`_turn_spans`). Emits per-(conv, turn, role) mention counts
    — "which turns, and which speaker roles, introduce entities" is
    the transcript-corpus question KG provenance needs.

    Scale shape: the attribution join is an equi-join on conv_id with
    the interval-containment residual — per-conversation pair volume
    is turns × mentions of THAT conversation only (both conversation-
    bounded; the same skew salting as extraction if one conversation
    is huge), never a corpus cross."""
    m = _kg(spark, sf_dir).mentions.select(
        F.col("doc_id").alias("conv_id"), F.col("begin").cast("long").alias("b")
    )
    return (
        m.join(_turn_spans(spark, sf_dir), "conv_id")
        .where((F.col("b") >= F.col("start")) & (F.col("b") < F.col("start") + F.col("ln")))
        .groupBy("conv_id", "turn_idx", "role")
        .agg(F.count(F.lit(1)).cast("long").alias("n_mentions"))
    )


def _linked_mention_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every linked mention OCCURRENCE attributed to its turn:
    (conv_id, entity_id, pos, role, ts_s) — shared by the timeline,
    bursts, salience, and role-profile queries. Occurrences are the
    persisted mention rows (one per token hit) whose scan-resolved
    ``entity_id`` is non-null, so the only join is the turn
    containment. Staged once per (session, sf_dir) like
    :func:`_turn_spans`: four gate queries consume it, so a sweep pays
    the corpus-sized join once (on a cluster this is an Iceberg stage
    table)."""
    from dstlr_spark.queries._memo import staged

    def build() -> DataFrame:
        occ = (
            _kg(spark, sf_dir)
            .mentions.where(F.col("entity_id").isNotNull())
            .select(
                F.col("doc_id").alias("conv_id"),
                "entity_id",
                F.col("pos").cast("long").alias("pos"),
                F.col("begin").cast("long").alias("b"),
            )
        )
        return (
            occ.join(_turn_spans(spark, sf_dir), "conv_id")
            .where(
                (F.col("b") >= F.col("start"))
                & (F.col("b") < F.col("start") + F.col("ln"))
            )
            .select("conv_id", "entity_id", "pos", "role", "ts_s")
        )

    return staged(spark, ("kg_linked_mention_turns", sf_dir), build)


def q_entity_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity observation timeline over the transcript corpus:
    first/last timestamp an entity is mentioned, occurrence count, and
    conversation reach — the KG release's temporal index ("when did
    this entity enter the corpus, is it still active, how broadly").

    Scale shape: linked occurrences ride the persisted mention frame;
    the turn attribution is conversation-bounded (:func:`_turn_spans`);
    the rollup is ONE hash aggregate keyed on entity_id with map-side
    partials (min/max/count all combine) plus an exact distinct-conv
    count (entity-keyed two-phase distinct agg — entity cardinality is
    dictionary-scale, orders below the corpus)."""
    return (
        _linked_mention_turns(spark, sf_dir)
        .groupBy("entity_id")
        .agg(
            F.min("ts_s").alias("first_ts_s"),
            F.max("ts_s").alias("last_ts_s"),
            F.count(F.lit(1)).cast("long").alias("n_mentions"),
            F.countDistinct("conv_id").cast("long").alias("n_convs"),
        )
    )


def q_alias_ambiguity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linking-risk report: lemma keys whose alias dictionary offers
    MORE than one candidate entity, with the winning entity, the prior
    margin to the runner-up (exact ppm ints — floor of an identical
    IEEE product in both engines), and how many corpus mention
    occurrences actually ride on the ambiguity. This is the table a KG
    curator reviews before trusting the arg-max: a tiny margin on a
    high-traffic alias is where linking errors concentrate.

    Scale shape: the dictionary side is dimension-scale (windows
    partition by alias key); the only corpus-sized input is one
    key-grouped count over the persisted mention frame. Aliases are
    keyed as the linker keys them (:func:`best_alias_entity`): each
    single-space token lemmatized, nothing stripped."""
    al = _aliases(spark).select(
        F.array_join(F.transform(F.split("alias", " "), lemma_token), " ").alias("key"),
        "entity_id",
        "prior",
    )
    # DISTINCT candidate entities per key: two surface forms of the
    # same entity may lemma-collapse to one key (e.g. 'query' and
    # 'queries') — that is NOT ambiguity. Keep each entity's best
    # prior, then rank/count entities.
    ent = al.groupBy("key", "entity_id").agg(F.max("prior").alias("prior"))
    w = Window.partitionBy("key").orderBy(
        F.col("prior").desc(), F.col("entity_id").asc()
    )
    rk = ent.withColumn("rn", F.row_number().over(w))
    agg = (
        ent.groupBy("key")
        .agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
        .where(F.col("n_candidates") > 1)
    )
    b1 = rk.where(F.col("rn") == 1).select(
        "key", F.col("entity_id").alias("best_entity"), F.col("prior").alias("p1")
    )
    b2 = rk.where(F.col("rn") == 2).select("key", F.col("prior").alias("p2"))
    mc = (
        _kg(spark, sf_dir)
        .mentions.groupBy("key")
        .agg(F.count(F.lit(1)).cast("long").alias("n_mentions"))
    )
    return (
        agg.join(b1, "key")
        .join(b2, "key", "left")
        .join(mc, "key", "left")
        .select(
            F.col("key").alias("alias_key"),
            "n_candidates",
            "best_entity",
            (
                F.floor(F.col("p1") * 1_000_000)
                - F.floor(F.coalesce(F.col("p2"), F.lit(0.0)) * 1_000_000)
            )
            .cast("long")
            .alias("margin_ppm"),
            F.coalesce(F.col("n_mentions"), F.lit(0).cast("long")).alias(
                "n_mentions"
            ),
        )
    )


KCORE_K = 3  # minimum degree to stay in the core
KCORE_STRONG_PCT = 95  # strong edge: weight ≥ 95% of the max co-mention weight
KCORE_ROUNDS = 8  # fixed peel unroll (both engines run EXACTLY these rounds)


def q_entity_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (onion layers) of the STRONG co-mention
    graph: iteratively peel entities with fewer than K strong
    neighbors; emit each entity's peel round (1 = removed first, 0 =
    survives all rounds — the k-core, the KG's densely inter-mentioned
    nucleus). Strong edges are RELATIVE (weight ≥ 95% of the max
    co-mention weight) so the subgraph adapts to corpus size instead
    of hard-coding an absolute count.

    Determinism: peeling is round-synchronous (all sub-K vertices of a
    round removed together), so the layer assignment is unique — no
    tie-breaking needed. Both engines run EXACTLY ``KCORE_ROUNDS``
    rounds (the oracle unrolls them as CTEs, the k-means/label-prop
    pattern); the truncation is exact whenever the peel cascade is
    ≤ 8 deep, and production iterates the same round body to fixpoint.

    Scale shape: the strong edges filter the staged pair counts
    (:func:`_comention_weights`) against their 1-row max; the peel
    (:func:`kcore_peel`) carries one vertex-state frame, and each
    round is one degree aggregate over the strong edges between
    surviving vertices plus one vertex-keyed join, with
    ``localCheckpoint`` cutting lineage per round as PageRank does.
    Rounds are bounded by construction, not by convergence luck."""
    w = _comention_weights(spark, sf_dir)
    mx = w.agg(F.max("n_docs").alias("mx"))
    strong = (
        w.crossJoin(F.broadcast(mx))
        .where(F.col("n_docs") * 100 >= F.col("mx") * KCORE_STRONG_PCT)
        .select("src", "dst")
    )
    return kcore_peel(strong, KCORE_K, KCORE_ROUNDS)


def kcore_peel(edges: DataFrame, k: int, rounds: int) -> DataFrame:
    """``rounds`` round-synchronous peels of an undirected edge list
    (src, dst) → (entity_id, peel_round) per vertex with an edge:
    the round that peeled it, 0 while it is still in the k-core. The
    q_entity_kcore kernel, factored out so planted-graph tests can
    drive it with a synthetic edge frame."""
    sym = symmetrize(edges).localCheckpoint()
    state = sym.select(
        F.col("src").alias("entity_id"), F.lit(0).alias("peel_round")
    ).distinct()
    for rnd in range(1, rounds + 1):
        alive = state.where(F.col("peel_round") == 0)
        deg = (
            sym.join(alive.select(F.col("entity_id").alias("src")), "src", "left_semi")
            .join(alive.select(F.col("entity_id").alias("dst")), "dst", "left_semi")
            .groupBy(F.col("src").alias("entity_id"))
            .agg(F.count(F.lit(1)).alias("d"))
        )
        peel = (F.col("peel_round") == 0) & (F.coalesce(F.col("d"), F.lit(0)) < k)
        state = (
            state.join(deg, "entity_id", "left")
            .select(
                "entity_id",
                F.when(peel, F.lit(rnd))
                .otherwise(F.col("peel_round"))
                .cast("int")
                .alias("peel_round"),
            )
            .localCheckpoint()
        )
    return state


NEG_PER_TRIPLE = 2  # negatives emitted per positive triple
NEG_REL_OBJ_CAP = 100  # candidate objects per relation (hash-ordered, LOUD cap)


def q_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relation-constrained negative sampling for KG-embedding
    training (TransE/DistMult-style): for every positive
    (subj, relation, obj) triple, emit ``NEG_PER_TRIPLE`` corrupted
    triples whose object is replaced by a DIFFERENT object seen with
    the SAME relation — the type-constrained corruption that yields
    harder negatives than uniform entity replacement (uniform picks
    are trivially distinguishable by type alone). Selection is
    deterministic: candidates and per-triple picks are ordered by
    md5 of the (triple, candidate) key — both engines produce the
    same lowercase hex, so the "random" draw is bit-identical.

    Scale shape: the candidate-object dictionary is capped per
    relation (``NEG_REL_OBJ_CAP``, hash-ordered so the cap is a
    uniform sample, not a frequency bias); the candidate join is a
    broadcast equi-join on relation (relation cardinality is schema-
    scale); both windows partition by relation or by triple — never
    corpus-wide. Candidate volume is |triples| × cap, linear in the
    triple count."""
    t = (
        _linked_entity_pairs(spark, sf_dir)
        .select(
            "subj_entity",
            F.concat(
                F.lit("COOCCURS_"), F.col("a_cls"), F.lit("_"), F.col("b_cls")
            ).alias("relation"),
            "obj_entity",
        )
        .distinct()
    )
    ro = t.select("relation", "obj_entity").distinct()
    wcap = Window.partitionBy("relation").orderBy(
        F.md5(F.concat_ws("\x1f", "relation", "obj_entity")), F.col("obj_entity")
    )
    ro = (
        ro.withColumn("rn", F.row_number().over(wcap))
        .where(F.col("rn") <= NEG_REL_OBJ_CAP)
        .select("relation", F.col("obj_entity").alias("neg_obj"))
    )
    cand = t.join(F.broadcast(ro), "relation").where(
        F.col("neg_obj") != F.col("obj_entity")
    )
    wtrip = Window.partitionBy("subj_entity", "relation", "obj_entity").orderBy(
        F.md5(
            F.concat_ws(
                "\x1f", "subj_entity", "relation", "obj_entity", "neg_obj"
            )
        ),
        F.col("neg_obj"),
    )
    return (
        cand.withColumn("neg_rank", F.row_number().over(wtrip).cast("int"))
        .where(F.col("neg_rank") <= NEG_PER_TRIPLE)
        .select("subj_entity", "relation", "obj_entity", "neg_obj", "neg_rank")
    )


#: burst test σ², exact-integer (σ ≈ 1.41). Calibrated DOWN for the
#: synthetic corpus: its per-turn clock is a pure function of turn_idx
#: (every conversation shares one epoch), so per-entity activity is
#: nearly flat and a 3σ bar (σ² = 9) is unreachable by construction —
#: production raises this to 9. Bucket width 60 s for the same reason.
BURST_SIGMA2 = 2
BURST_BUCKET_S = 60


def q_entity_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity burst detection: time buckets where an entity's mention
    count spikes above its own per-bucket baseline — the
    trending-entity signal a temporal KG surfaces (news events,
    incident spikes, topic bursts). Statistics are the EXACT-integer
    σ test the events QC already pins (no float mean/stddev): with n
    observed buckets, s = Σc, ss = Σc², a bucket bursts iff

        n·c − s > 0   AND   (n·c − s)² > σ²·(n·ss − s²)

    — both sides exact BIGINTs, bit-identical in both engines. The
    baseline is the entity's ACTIVE buckets (unobserved buckets are
    not zero-filled): bursts are relative to the entity's own activity
    profile, which is also what keeps the moments frame entity-sized.

    Scale shape: two hash aggregates (time-bucket counts, then
    entity-keyed moments — both map-side-combining) and one broadcast
    of the dictionary-sized moments frame back onto the counts. Same
    plan at any corpus size."""
    obs = _linked_mention_turns(spark, sf_dir).select(
        "entity_id", F.expr(f"ts_s DIV {BURST_BUCKET_S}").alias("bucket")
    )
    counts = obs.groupBy("entity_id", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    mom = counts.groupBy("entity_id").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("ss"),
    )
    j = counts.join(F.broadcast(mom), "entity_id")
    dev = F.col("n") * F.col("c") - F.col("s")
    var_n2 = F.col("n") * F.col("ss") - F.col("s") * F.col("s")
    return j.where(
        (dev > 0) & (dev * dev > F.lit(BURST_SIGMA2) * var_n2)
    ).select("entity_id", "bucket", "c")


def q_entity_role_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which speaker ROLES introduce which entities: per (entity,
    role) mention-occurrence counts and conversation reach. In an
    agent-transcript corpus this separates entities the USER brings up
    (intent) from ones the ASSISTANT introduces (knowledge) from ones
    that only ever appear in TOOL output (retrieval) — a provenance
    cut no document-level KG can make, and the reason mention→turn
    attribution exists.

    Scale shape: identical to the timeline rollup — one hash
    aggregate on (entity_id, role), output bounded by
    |entities| × |roles|."""
    mt = _linked_mention_turns(spark, sf_dir)
    return (
        mt.groupBy("entity_id", "role")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_mentions"),
            F.countDistinct("conv_id").cast("long").alias("n_convs"),
        )
    )


def q_entity_salience(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(conversation, entity) salience: an entity mentioned EARLY
    and OFTEN in a conversation is what the conversation is about;
    one mentioned once in passing at turn 40 is not. Score is exact
    integer math so both engines hash identically:

        salience_ppm = (1_000_000 · n_mentions) DIV (first_pos + 10)

    (first_pos = earliest token position of any linked occurrence;
    the +10 floor keeps position-0 mentions from dominating on
    position alone). This is the doc-level ranking signal entity
    indexes ship next to the timeline.

    Scale shape: one hash aggregate on (conv, entity) — output is
    bounded by links, which the co-mention family already handles;
    no windows, no sorts."""
    agg = (
        _linked_mention_turns(spark, sf_dir)
        .groupBy("conv_id", "entity_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_mentions"),
            F.min("pos").alias("first_pos"),
        )
    )
    return agg.select(
        "conv_id",
        "entity_id",
        "n_mentions",
        "first_pos",
        F.expr("(1000000L * n_mentions) DIV (first_pos + 10)").alias("salience_ppm"),
    )


def bucketed_window_pairs(a: DataFrame, bm: DataFrame, window: int) -> DataFrame:
    """Forward window-bounded pair join — all (a, b) with
    ``b_pos ∈ (a_pos, a_pos + window]`` within one conv_id — via the
    :mod:`operators.rangejoin` bucket idiom. ``a`` must carry
    (conv_id, a_pos, …), ``bm`` (conv_id, b_pos, …); other column
    names must not collide.

    Positions are bucketed ``pos DIV window``; the a-side is exploded
    into buckets {k, k+1} (for a_pos in bucket k, every qualifying
    b_pos lands in k or k+1 — never further, so each pair meets
    exactly once), making the join key (conv_id, bucket) a real
    equi-key. Scan work per conversation is O(mentions · window)
    instead of the naive conv-only equi-join's O(mentions²) — the
    difference between a straggler and a non-event when one
    pathological conversation has 100k mentions
    (tests/test_doc_kg_pairs.py pins 50k-in-seconds)."""
    ae = a.withColumn(
        "_bkt",
        F.explode(
            F.array(
                F.expr(f"CAST(a_pos AS BIGINT) DIV {window}"),
                F.expr(f"CAST(a_pos AS BIGINT) DIV {window} + 1"),
            )
        ),
    )
    be = bm.withColumn("_bkt", F.expr(f"CAST(b_pos AS BIGINT) DIV {window}"))
    return (
        ae.join(be, ["conv_id", "_bkt"])
        .where(
            (F.col("b_pos") > F.col("a_pos"))
            & (F.col("b_pos") <= F.col("a_pos") + window)
        )
        .drop("_bkt")
    )


def _linked_entity_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-occurrence pairs whose BOTH endpoints resolve to KB
    entities, with the subject occurrence's document offset:
    (conv_id, subj_entity, obj_entity, a_cls, b_cls, a_pos, b_pos, b)
    — shared by the whole temporal / ER / novelty family (~15 gate
    queries), so it is STAGED once per (session, sf_dir) via
    :mod:`queries._memo` exactly like ``_turn_spans`` (on a cluster: an
    Iceberg stage table all downstream jobs read).

    The pair join is position-BUCKETED (the
    :mod:`operators.rangejoin` shape): a naive ``join(bm, "conv_id")``
    with the ``b_pos ∈ (a_pos, a_pos+W]`` band as a post-join filter
    produces a W-bounded OUTPUT but scans O(mentions²) pairs per
    conversation — one pathological 100k-mention conversation at
    corpus scale is a straggler. Bucketing ``pos DIV W`` and exploding
    the a-side into buckets {k, k+1} makes the equi-key
    (conv_id, bucket): every qualifying pair meets exactly once (for
    a_pos in bucket k, b_pos ≤ a_pos+W lands in k or k+1, never
    further), scan work per conversation drops to O(mentions · W),
    and the band predicate runs as a residual on bucket-collision
    pairs only. Both sides are the linked mention rows (scan-resolved
    ``entity_id`` non-null), so no link join follows the pair join."""
    from dstlr_spark.queries._memo import staged

    def build() -> DataFrame:
        m = _kg(spark, sf_dir).mentions.where(F.col("entity_id").isNotNull())
        a = m.select(
            F.col("doc_id").alias("conv_id"),
            F.col("entity_id").alias("subj_entity"),
            F.col("entity_class").alias("a_cls"),
            F.col("pos").alias("a_pos"),
            F.col("key").alias("a_key"),
            F.col("begin").cast("long").alias("b"),
        )
        bm = m.select(
            F.col("doc_id").alias("conv_id"),
            F.col("entity_id").alias("obj_entity"),
            F.col("entity_class").alias("b_cls"),
            F.col("pos").alias("b_pos"),
            F.col("key").alias("b_key"),
        )
        return bucketed_window_pairs(a, bm, COOCCUR_WINDOW).where(
            F.col("a_key") != F.col("b_key")
        )

    return staged(spark, ("kg_linked_entity_pairs", sf_dir), build)


def q_triple_temporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal scoping of entity-level relation triples: for every
    (subject_entity, relation, object_entity) whose BOTH endpoints
    resolve to KB entities, the first/last observation timestamp and
    observation count — the validity-interval shape temporal KGs
    (e.g. Wikidata qualifiers) attach to edges, derived here from
    transcript turn timestamps via mention→turn attribution.

    Scale shape: the co-occurrence pair join is the SAME per-document
    window-bounded self-join as relation extraction (≤ W partners per
    occurrence, conversation-bounded) over the linked mention rows; the
    turn attribution is conversation-bounded; the final rollup is one
    hash aggregate on the entity-pair key with map-side partials.
    Nothing here is corpus-quadratic."""
    return (
        _linked_entity_pairs(spark, sf_dir)
        .join(_turn_spans(spark, sf_dir), "conv_id")
        .where(
            (F.col("b") >= F.col("start")) & (F.col("b") < F.col("start") + F.col("ln"))
        )
        .select(
            "subj_entity",
            F.concat(
                F.lit("COOCCURS_"), F.col("a_cls"), F.lit("_"), F.col("b_cls")
            ).alias("relation"),
            "obj_entity",
            "ts_s",
        )
        .groupBy("subj_entity", "relation", "obj_entity")
        .agg(
            F.min("ts_s").alias("first_ts_s"),
            F.max("ts_s").alias("last_ts_s"),
            F.count(F.lit(1)).cast("long").alias("n_obs"),
        )
    )


def q_conv_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation KG novelty — the ingest-value curve: of the
    entity-level triples a conversation asserts, how many had NEVER
    been observed in any earlier conversation (first observation by
    (timestamp, conv_id) order)? The table crawl/ingest scheduling
    reads at 100 TB: sources whose novelty_ppm collapses are re-crawls
    feeding the dedup stage, not the KG.

    Scale shape: observations ride the shared window-bounded pair join
    + turn attribution (the `kg_triple_temporal` budget); per-conv
    triple rollup and the first-observation pick are one hash
    aggregate + one triple-keyed window (rows per key ≤ the triple's
    conversation reach — never corpus-single-partition); the final
    rollup is conversation-keyed."""
    o = (
        _linked_entity_pairs(spark, sf_dir)
        .join(_turn_spans(spark, sf_dir), "conv_id")
        .where(
            (F.col("b") >= F.col("start"))
            & (F.col("b") < F.col("start") + F.col("ln"))
        )
        .select(
            "conv_id",
            "subj_entity",
            F.concat(
                F.lit("COOCCURS_"), F.col("a_cls"), F.lit("_"), F.col("b_cls")
            ).alias("relation"),
            "obj_entity",
            "ts_s",
        )
        .groupBy("conv_id", "subj_entity", "relation", "obj_entity")
        .agg(F.min("ts_s").alias("first_ts"))
    )
    w = Window.partitionBy("subj_entity", "relation", "obj_entity").orderBy(
        F.col("first_ts").asc(), F.col("conv_id").asc()
    )
    first = (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .groupBy("conv_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_novel"))
    )
    per = o.groupBy("conv_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_triples")
    )
    return per.join(first, "conv_id", "left").select(
        "conv_id",
        "n_triples",
        F.coalesce(F.col("n_novel"), F.lit(0)).cast("long").alias("n_novel"),
        F.expr("coalesce(n_novel, 0L) * 1000000 DIV n_triples")
        .cast("long")
        .alias("novelty_ppm"),
    )


def q_relation_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal drift per relation: observation counts in the early vs
    late half of the corpus' time range (split at the midpoint of the
    attributed-observation timestamps) and the late share in floor ppm
    — the KG-freshness trend table that flags relations whose evidence
    is growing or dying out, derived from the same mention→turn
    attribution as ``kg_triple_temporal``.

    Scale shape: the observation frame is the conversation-bounded
    pair+span join (never corpus-quadratic); the midpoint is a 1-row
    min/max broadcast (audited under _ALLOWED_SCALAR_BROADCAST); the
    rollup is one hash aggregate on the relation dictionary."""
    obs = (
        _linked_entity_pairs(spark, sf_dir)
        .join(_turn_spans(spark, sf_dir), "conv_id")
        .where(
            (F.col("b") >= F.col("start"))
            & (F.col("b") < F.col("start") + F.col("ln"))
        )
        .select(
            F.concat(
                F.lit("COOCCURS_"), F.col("a_cls"), F.lit("_"), F.col("b_cls")
            ).alias("relation"),
            "ts_s",
        )
    )
    minmax = obs.agg(
        F.min("ts_s").alias("ts_min"), F.max("ts_s").alias("ts_max")
    )
    return (
        obs.crossJoin(F.broadcast(minmax))
        .select(
            "relation",
            F.when(
                F.col("ts_s") * 2 <= F.col("ts_min") + F.col("ts_max"), 1
            )
            .otherwise(0)
            .alias("is_early"),
        )
        .groupBy("relation")
        .agg(
            F.sum("is_early").cast("long").alias("n_early"),
            F.sum(1 - F.col("is_early")).cast("long").alias("n_late"),
        )
        .select(
            "relation",
            "n_early",
            "n_late",
            F.expr("n_late * 1000000 DIV (n_early + n_late)").alias(
                "late_share_ppm"
            ),
        )
    )


def q_comention_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information over co-mention pairs — the
    association-strength ranking that separates genuinely related
    entity pairs from pairs that merely share popular documents:

        pmi_bits ≈ log2( c_ab · N / (c_a · c_b) )

    computed EXACTLY in integers as bitlen(c_ab·N) − bitlen(c_a·c_b)
    (both engines render ``bin()`` of a positive int without leading
    zeros — the invariant the HLL rho and LM surprisal already pin),
    so the oracle hashes identically; negative values mean
    anti-association.

    Scale shape: pair counts are `kg_entity_comention` (already
    capped per doc + audited); marginals are one vertex-sized hash agg
    joined twice onto the pair frame (vertex ≪ edge scale, AQE
    broadcasts when it fits); N is a 1-row scalar broadcast (audited
    under _ALLOWED_SCALAR_BROADCAST). No windows, no driver loops."""
    pairs = q_entity_comention(spark, sf_dir)
    kept = _capped_ent_docs(_ent_docs(spark, sf_dir))
    marg = kept.groupBy("entity_id").agg(F.count(F.lit(1)).cast("long").alias("c"))
    n_docs_total = kept.select("doc").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n_total")
    )
    return (
        pairs.join(
            marg.select(F.col("entity_id").alias("entity_a"), F.col("c").alias("ca")),
            "entity_a",
        )
        .join(
            marg.select(F.col("entity_id").alias("entity_b"), F.col("c").alias("cb")),
            "entity_b",
        )
        .crossJoin(F.broadcast(n_docs_total))
        .select(
            "entity_a",
            "entity_b",
            "n_docs",
            (
                F.length(F.bin(F.col("n_docs") * F.col("n_total")))
                - F.length(F.bin(F.col("ca") * F.col("cb")))
            )
            .cast("long")
            .alias("pmi_bits"),
        )
    )


def q_entity_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count per entity over the co-mention graph — the motif
    query of KG analytics. Canonical-order edge list (src < dst) makes
    each triangle match exactly once as a<b<c via two equi-joins (the
    standard distributed triangle enumeration: no direction double
    counting, join keys not inequality residuals); every triangle then
    credits its three corners."""
    edges = _comention_edges(spark, sf_dir)
    e1 = edges.select(F.col("src").alias("x"), F.col("dst").alias("y"))
    e2 = edges.select(F.col("src").alias("y"), F.col("dst").alias("z"))
    e3 = edges.select(F.col("src").alias("x"), F.col("dst").alias("z"))
    tri = e1.join(e2, "y").join(e3, ["x", "z"])
    corners = (
        tri.select(F.col("x").alias("entity_id"))
        .unionByName(tri.select(F.col("y").alias("entity_id")))
        .unionByName(tri.select(F.col("z").alias("entity_id")))
    )
    return corners.groupBy("entity_id").agg(F.count(F.lit(1)).alias("n_triangles"))


def q_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per entity over the co-mention
    graph: cc = 2·triangles / (deg·(deg−1)) as exact integer ppm (DIV)
    — how tightly an entity's neighborhood is interlinked, the standard
    ego-density signal for hub-vs-bridge triage and ER candidate
    vetting (a bridge with cc≈0 spanning two dense regions is a likely
    conflation; reference parity: the graph-analytics layer the Neo4j
    store exposes, README.md:136-183, computed engine-side).

    Scale shape: the triangle counts are ``kg_entity_triangles`` (two
    edge-scale equi-joins on a capped edge list), the degrees come off
    the staged adjacency, and one vertex-sized left join combines them
    — no new shuffle class; deg<2 vertices report 0 ppm."""
    return (
        _comention_degrees(spark, sf_dir)
        .join(q_entity_triangles(spark, sf_dir), "entity_id", "left")
        .select(
            "entity_id",
            "degree",
            F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long").alias(
                "n_triangles"
            ),
            F.when(
                F.col("degree") >= 2,
                F.expr(
                    "2 * coalesce(n_triangles, 0L) * 1000000"
                    " DIV (degree * (degree - 1))"
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("cc_ppm"),
        )
    )


KTRUSS_K = 4  # keep edges in >= (K-2) triangles: the cohesive core
KTRUSS_ROUNDS = 3  # fixed unrolled peels (same convention as PAGERANK_ITERS)


def q_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-round k-truss peeling (k = 4) of the co-mention graph —
    the edge-level cohesion complement to ``kg_entity_kcore``'s
    vertex-level one: each round computes per-edge triangle support
    (common-neighbor count) and drops edges supported by fewer than
    k−2 triangles; at convergence the survivors are exactly the
    k-truss (Cohen 2008). KTRUSS_ROUNDS is fixed so the DuckDB oracle
    unrolls the identical rounds in CTEs (the PAGERANK_ITERS/
    LABELPROP_ITERS convention); the output reports each surviving
    edge with its support in the FINAL surviving graph, so a
    non-converged round count is visible (support < k−2 rows), never
    hidden. Reference parity: the Neo4j graph-analytics surface
    (README.md:136-183), computed engine-side.

    Scale shape: per round, support is two edge-scale equi-joins on
    the hub-capped edge list (the ``kg_entity_triangles`` shape) + one
    edge-keyed hash agg; the survivor filter is a left join at edge
    scale. Lineage cut per round with localCheckpoint. Everything
    rides the same COMENTION_MAX_ENTITIES cap every other graph
    operator documents."""
    return _truss_peel(_comention_edges(spark, sf_dir), KTRUSS_K, KTRUSS_ROUNDS)


def _edge_support(e: DataFrame) -> DataFrame:
    """Per-edge triangle support: for each canonical edge (src < dst),
    the number of common neighbors in the symmetrized adjacency."""
    sym = symmetrize(e)
    xa = sym.select(F.col("src").alias("sa"), F.col("dst").alias("c"))
    xb = sym.select(F.col("src").alias("sb"), F.col("dst").alias("cb"))
    return (
        e.join(xa, F.col("src") == F.col("sa"))
        .join(xb, (F.col("dst") == F.col("sb")) & (F.col("c") == F.col("cb")))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
    )


def _truss_peel(edges: DataFrame, k: int, rounds: int) -> DataFrame:
    """``rounds`` support-filter peels then a final support recompute —
    the q_ktruss kernel, factored out so planted-graph tests can drive
    it with a synthetic edge frame."""
    for _ in range(rounds):
        edges = (
            edges.join(_edge_support(edges), ["src", "dst"], "left")
            .where(F.coalesce(F.col("support"), F.lit(0)) >= k - 2)
            .select("src", "dst")
            .localCheckpoint()
        )
    return edges.join(_edge_support(edges), ["src", "dst"], "left").select(
        "src",
        "dst",
        F.coalesce(F.col("support"), F.lit(0).cast("long")).alias("support"),
    )


def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-level degree assortativity (Newman 2002) of the co-mention
    graph — one row: do high-degree entities link to high-degree
    entities (assortative, r>0) or to leaves (disassortative, r<0)?
    The corpus-shape audit run before trusting hub-sensitive analytics
    (PageRank/k-core) on a new crawl.

    Over the SYMMETRIZED edge list Σx=Σy and Σx²=Σy², so Pearson's r
    needs no square root: r = (M·Σxy − (Σx)²) / (M·Σxx − (Σx)²) with
    every term an exact BIGINT — ppm via floor(double) on identically
    exact inputs (terms < 2^53 up to ~10^8-edge graphs; past that,
    switch the moment sums to DECIMAL(38,0) — same plan shape).

    Scale shape: the staged adjacency carries each row's source
    degree; one edge-scale join attaches the target degree, then one
    global single-row aggregate with map-side partials."""
    paired = _comention_adj(spark, sf_dir).join(
        _comention_degrees(spark, sf_dir).select(
            F.col("entity_id").alias("dst"), F.col("degree").alias("dy")
        ),
        "dst",
    )
    agg = paired.agg(
        F.count(F.lit(1)).cast("long").alias("m2"),
        F.sum(F.col("degree") * F.col("dy")).cast("long").alias("sum_xy"),
        F.sum("degree").cast("long").alias("sum_x"),
        F.sum(F.col("degree") * F.col("degree")).cast("long").alias("sum_xx"),
    )
    num = F.col("m2") * F.col("sum_xy") - F.col("sum_x") * F.col("sum_x")
    den = F.col("m2") * F.col("sum_xx") - F.col("sum_x") * F.col("sum_x")
    return agg.select(
        (F.col("m2") / 2).cast("long").alias("n_edges"),
        "sum_xy",
        "sum_x",
        "sum_xx",
        F.when(den != 0, F.floor(num * 1000000.0 / den))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("assortativity_ppm"),
    )


def q_community_conductance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-community conductance of the label-propagation partition:
    cut / (2·internal + cut) in exact integer ppm — the community
    QUALITY score (low = well-separated). Run after every community
    detection pass to decide whether the partition is trustworthy
    enough to drive entity-resolution merges.

    Scale shape: the shared LPA labels (vertex-sized) joined onto the
    undirected edge list twice (edge-scale equi-joins on vertex keys —
    the same class as one LPA round), then one community-keyed hash
    aggregate. Edges whose endpoints share a community count internal;
    others charge one cut to EACH side's community."""
    labels = _lpa_labels(spark, sf_dir)
    edges = _comention_edges(spark, sf_dir)
    lab = lambda side: labels.select(  # noqa: E731
        F.col("id").alias(side), F.col("label").alias(f"{side}_c")
    )
    e = edges.join(lab("src"), "src").join(lab("dst"), "dst")
    internal = (
        e.where(F.col("src_c") == F.col("dst_c"))
        .groupBy(F.col("src_c").alias("community"))
        .agg(F.count(F.lit(1)).cast("long").alias("internal_edges"))
    )
    cut_sides = e.where(F.col("src_c") != F.col("dst_c"))
    cuts = (
        cut_sides.select(F.col("src_c").alias("community"))
        .unionByName(cut_sides.select(F.col("dst_c").alias("community")))
        .groupBy("community")
        .agg(F.count(F.lit(1)).cast("long").alias("cut_edges"))
    )
    sizes = labels.groupBy(F.col("label").alias("community")).agg(
        F.count(F.lit(1)).cast("long").alias("n_entities")
    )
    return (
        sizes.join(internal, "community", "left")
        .join(cuts, "community", "left")
        .select(
            "community",
            "n_entities",
            F.coalesce("internal_edges", F.lit(0)).cast("long").alias(
                "internal_edges"
            ),
            F.coalesce("cut_edges", F.lit(0)).cast("long").alias("cut_edges"),
            F.expr(
                "CASE WHEN coalesce(internal_edges, 0L) = 0"
                "      AND coalesce(cut_edges, 0L) = 0 THEN 0L"
                " ELSE coalesce(cut_edges, 0L) * 1000000"
                "      DIV (2 * coalesce(internal_edges, 0L)"
                "           + coalesce(cut_edges, 0L)) END"
            )
            .cast("long")
            .alias("conductance_ppm"),
        )
    )


def _alias_winners(spark: SparkSession) -> DataFrame:
    """(key, entity_id): the linker's per-key arg-max over the alias
    dictionary — :func:`best_alias_entity`, the same dictionary the
    mention scan resolves every ``entity_id`` with, as a local frame.
    Dictionary-sized: the broadcast stand-in for joining the
    corpus-scale mention rows when only the winning entity per key is
    needed."""
    return spark.createDataFrame(
        list(best_alias_entity(_aliases(spark)).items()),
        "key string, entity_id string",
    )


def q_name_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity surface-form dictionary: how many RAW forms (punct-
    stripped, case preserved) each KB entity is written as, total
    occurrence traffic, and the dominant form with its ppm share — the
    alias-table export an ER/linking stage maintains (the inverse view
    of ``kg_alias_ambiguity``: that is alias→entities risk, this is
    entity→forms inventory; reference parity: the LINKS_TO surface the
    Neo4j store aggregates per entity, ExtractTriples.scala:215-218).

    The persisted mention frame stores only the LEMMA key, so raw forms
    are recovered with one extra corpus scan: explode → punct-strip →
    broadcast gazetteer membership on the lemma — no offsets, hence no
    token-stream window (the scan is map-only until the two hash aggs).
    Entity resolution here is the BROADCAST alias-winner dictionary
    (:func:`_alias_winners` — the linker's per-key argmax is global, so
    joining the corpus-scale link table would shuffle the whole token
    stream twice for the identical answer; measured 68 s → map-side at
    200k docs). The dominant-form pick is a window PARTITIONED BY
    entity (dictionary-scale keys, never corpus-single-partition)."""
    toks = _documents(spark, sf_dir).select(
        F.col("doc_id").alias("conv_id"),
        F.explode(F.split("contents", " ")).alias("token"),
    )
    form = F.regexp_replace(F.col("token"), PUNCT_RE, "")
    occ = (
        toks.select("conv_id", form.alias("form"), lemma_token(form).alias("key"))
        .join(F.broadcast(_gazetteer(spark)), F.col("key") == F.col("term"))
        .select("key", "form")
    )
    fc = (
        occ.join(F.broadcast(_alias_winners(spark)), "key")
        .groupBy("entity_id", "form")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    w = Window.partitionBy("entity_id").orderBy(
        F.col("cnt").desc(), F.col("form").asc()
    )
    top = (
        fc.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("entity_id", F.col("form").alias("top_form"), F.col("cnt").alias("tc"))
    )
    st = fc.groupBy("entity_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_variants"),
        F.sum("cnt").cast("long").alias("n_occurrences"),
    )
    return st.join(top, "entity_id").select(
        "entity_id",
        "n_variants",
        "n_occurrences",
        "top_form",
        F.expr("tc * 1000000 DIV n_occurrences").cast("long").alias(
            "top_form_share_ppm"
        ),
    )


def q_agreement_by_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extraction-precision curve vs co-occurrence distance: for every
    linked pair observation at token distance d (1..W), does its object
    agree with the corpus-MAJORITY object for the same (subject,
    relation)? The empirical curve that justifies (or shrinks) the
    extraction window at scale — if agreement decays past d=4, W=8 is
    paying double the pair-join budget for noise. All exact integers.

    Scale shape: observations ride the shared window-bounded pair join
    (:func:`_linked_entity_pairs`); the majority pick is a hash agg on
    the claim key + a claim-partitioned window over the aggregated
    value counts (value cardinality per claim, dictionary-scale); the
    final rollup is one W-row hash agg with map-side partials."""
    p = _linked_entity_pairs(spark, sf_dir).select(
        F.col("subj_entity").alias("subj"),
        F.concat(
            F.lit("COOCCURS_"), F.col("a_cls"), F.lit("_"), F.col("b_cls")
        ).alias("relation"),
        F.col("obj_entity").alias("obj"),
        (F.col("b_pos") - F.col("a_pos")).cast("long").alias("distance"),
    )
    cnts = p.groupBy("subj", "relation", "obj").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("subj", "relation").orderBy(
        F.col("cnt").desc(), F.col("obj").asc()
    )
    modal = (
        cnts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("subj", "relation", F.col("obj").alias("modal_obj"))
    )
    return (
        p.join(modal, ["subj", "relation"])
        .groupBy("distance")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_obs"),
            F.sum(
                F.when(F.col("obj") == F.col("modal_obj"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_agree"),
        )
        .select(
            "distance",
            "n_obs",
            "n_agree",
            F.expr("n_agree * 1000000 DIV n_obs").cast("long").alias("agree_ppm"),
        )
    )


#: bounded-path horizon: the Cypher variable-length-path analog
#: (`MATCH (a)-[*1..3]-(b)`) is materialized to this many hops.
KHOP_MAX = 3


#: degree above which a vertex is a HUB: the frontier expansion never
#: pivots THROUGH it (it stays reachable as an endpoint). All-pairs-
#: within-K explodes combinatorially exactly at high-degree vertices —
#: one celebrity entity with 10^6 co-mention neighbors contributes
#: 10^12 candidate 2-hop pairs; capping the pivot bounds each
#: frontier's fan-out at deg≤CAP per expansion and is the standard
#: sub-quadratic relaxation (same family as the LSH
#: ``dedup_lsh_skipped_buckets`` cap, and audited just as loudly by
#: ``kg_distance_hub_audit``). 4096 is far above any degree the
#: synthetic gazetteer produces (complete graph on 8 entities, deg 7),
#: so the gate output is cap-invariant; the cap-BINDING semantics are
#: pinned by tests/test_doc_kg.py's star-graph unit test.
DIST_HUB_DEGREE_CAP = 4096


def q_entity_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded shortest-path distance table over the co-mention graph
    — the engine-side analog of Neo4j's variable-length path match
    (`MATCH (a)-[*1..{KHOP_MAX}]-(b)`), which the reference's graph
    store exposes on the loaded KG (README.md:136-183): every
    unordered entity pair within KHOP_MAX hops (paths pivoting only
    through non-hub vertices, see :data:`DIST_HUB_DEGREE_CAP`), with
    the exact hop distance. Downstream: relatedness features for
    linking, Cypher path-query offload, and the distance cutoff audit
    for `kg_rule_predictions` (rules only ever fire at distance 2).

    Scale shape: frontier expansion — per extra hop, ONE edge-scale
    equi-join of the known-distance frame with the adjacency list,
    then a min-hash-aggregate on the pair key (the connected-components
    budget, bounded to {KHOP_MAX} rounds). Unbounded all-pairs-within-K
    explodes combinatorially on dense graphs; two guards make this the
    100 TB shape: (1) hub pivots are excluded — every expansion joins
    the frontier only with the staged adjacency's rows out of
    ≤CAP-degree vertices, so per-row fan-out is bounded and a
    celebrity vertex can't mushroom the frontier (excluded hubs are
    surfaced by ``kg_distance_hub_audit``, never silently dropped);
    (2) the ANCHORED twin below pushes a seed predicate into the first
    frontier scan for point lookups."""
    return entity_distances(_comention_adj(spark, sf_dir), hub_cap=DIST_HUB_DEGREE_CAP)


def q_distance_hub_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Loud audit for the hub cap in `kg_entity_distances`: the full
    co-mention degree table with the is-hub flag (degree >
    :data:`DIST_HUB_DEGREE_CAP` ⇒ the vertex is never used as a BFS
    pivot). Rows with ``is_hub = 1`` are exactly the vertices whose
    through-paths the distance table under-reports — the audit a
    capped operator must ship (the ``dedup_lsh_skipped_buckets``
    pattern: cap loudly, never silently).

    Scale shape: the degrees of the staged adjacency — vertex-sized
    output."""
    return _comention_degrees(spark, sf_dir).select(
        "entity_id",
        "degree",
        F.when(F.col("degree") > DIST_HUB_DEGREE_CAP, F.lit(1))
        .otherwise(F.lit(0))
        .cast("int")
        .alias("is_hub"),
    )


#: gate anchor for the anchored-BFS shape (any entity id works; the
#: gazetteer's highest-traffic entity exercises the widest frontier)
DIST_ANCHOR = "E-spark"


def q_entity_distances_anchored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB shape of `kg_entity_distances`, executable: the BFS
    is SEEDED from one anchor entity, so every frontier is the
    anchor's k-neighborhood instead of all pairs — the plan a Cypher
    `MATCH (a {{id: $x}})-[*1..{KHOP_MAX}]-(b)` compiles to. Output:
    (entity_b, hops) for everything within KHOP_MAX of the anchor."""
    return entity_distances(_comention_adj(spark, sf_dir), seeds=(DIST_ANCHOR,)).select(
        "entity_b", "hops"
    )


#: gate seed set for the MULTI-ANCHOR batch BFS — two gazetteer
#: entities with disjoint 1-hop neighborhoods exercise the union-of-
#: neighborhoods frontier (not just a renamed single-anchor run)
DIST_BATCH_ANCHORS: tuple[str, ...] = ("E-spark", "E-customer")


def q_entity_distances_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-point-lookup form of `kg_entity_distances_anchored`: distances
    from EVERY seed in :data:`DIST_BATCH_ANCHORS` in ONE BFS pass — the
    seed set filters the hop-1 frontier, so K anchored lookups pay
    one graph traversal instead of K (each frontier is the UNION of the
    seeds' k-neighborhoods, never all pairs). This is the shape a batch
    of Cypher `MATCH (a {{id: $x}})-[*1..{KHOP_MAX}]-(b)` point queries
    compiles to when serviced together at 100 TB. Output: (entity_a =
    seed, entity_b, hops) for everything within KHOP_MAX of each seed.

    Scale shape: per hop, one edge-scale equi-join of the seed-rooted
    frontier with the adjacency list; the seed set is a query-sized
    ``IN`` list on the first frontier scan, so nothing joins or
    shuffles on K."""
    return entity_distances(_comention_adj(spark, sf_dir), seeds=DIST_BATCH_ANCHORS)


def entity_distances(
    adj: DataFrame,
    seeds: tuple[str, ...] | None = None,
    hub_cap: int | None = None,
) -> DataFrame:
    """Bounded BFS distance table over an :func:`adjacency` — see
    :func:`q_entity_distances`. With ``seeds`` set, the first frontier
    is pre-filtered to the seeds' edges, so every later frontier is
    seed-rooted and the output holds the rooted pairs (seed, other):
    frontier volume is Σ per-seed neighborhoods, never all-pairs — one
    seed is a point lookup, K seeds pay one graph scan instead of K.
    Without seeds, the output is every unordered pair (a < b). With
    ``hub_cap`` set, expansion never pivots THROUGH a vertex of
    degree > hub_cap: hubs stay reachable as path ENDPOINTS (hop-1
    edges and frontier targets are uncapped) but contribute no
    through-paths, bounding every expansion join's per-row fan-out."""
    # an adjacency row carries its src's degree, and the expansion
    # pivots through src: a hub's rows never extend a path
    step = adj if hub_cap is None else adj.where(F.col("degree") <= hub_cap)
    step = step.select(F.col("src").alias("dst"), F.col("dst").alias("nxt"))
    dist = adj.select("src", "dst", F.lit(1).alias("hops"))
    if seeds is not None:
        dist = dist.where(F.col("src").isin(*seeds))
    frontier = dist
    # no per-round checkpoint: KHOP_MAX is a small constant, and each
    # frontier's copies in the plan run as one reused exchange
    for k in range(2, KHOP_MAX + 1):
        frontier = (
            frontier.join(step, "dst")
            .where(F.col("nxt") != F.col("src"))
            .select("src", F.col("nxt").alias("dst"), F.lit(k).alias("hops"))
            .distinct()
        )
        dist = dist.unionByName(frontier)
    if seeds is not None:
        # rooted pairs: keep (seed, other), drop self-distances
        dist = dist.where(F.col("dst") != F.col("src"))
    else:
        dist = dist.where(F.col("src") < F.col("dst"))
    return dist.groupBy(
        F.col("src").alias("entity_a"), F.col("dst").alias("entity_b")
    ).agg(F.min("hops").cast("long").alias("hops"))


#: Weisfeiler-Lehman refinement rounds: 2 is the standard kernel depth
#: (captures degree + neighbor-degree-multiset structure); each round
#: is one edge-scale join + one vertex-keyed sorted-list aggregate.
WL_ROUNDS = 2


def q_wl_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weisfeiler-Lehman structural signature per entity over the
    co-mention graph: start from the degree, then WL_ROUNDS rounds of
    label(v) ← md5(label(v) ‖ sorted neighbor labels). Entities with
    the SAME final label occupy indistinguishable structural roles
    (same degree, same neighbor-degree multiset, …) — the structural
    blocking key for ER (candidates must share a WL orbit), and the
    graph-canonicalization fingerprint snapshot diffing uses to detect
    topology changes without comparing edge lists. ``orbit_size``
    counts the entities sharing each label.

    Scale shape: the round-0 label is the degree carried by the staged
    adjacency. Per round: one edge-scale equi-join to fetch neighbor
    labels + one vertex-keyed hash aggregate whose per-group list is
    degree-bounded (array_sort of ≤deg elements — never corpus-scale);
    final orbit sizing is one vertex-sized self-aggregate. The md5
    relabel keeps labels constant-width however deep the rounds go."""
    return wl_signature(_comention_adj(spark, sf_dir))


def wl_signature(adj: DataFrame) -> DataFrame:
    """WL refinement over an :func:`adjacency` — see
    :func:`q_wl_signature`. Vertex set = entities with ≥1 edge."""
    labels = adj.select(
        F.col("src").alias("id"), F.col("degree").cast("string").alias("label")
    ).distinct()
    # no per-round checkpoint: each round reads the last round's labels
    # twice, so the plan doubles per round (fine for WL_ROUNDS), and
    # those copies run as one reused exchange
    for _ in range(WL_ROUNDS):
        nb = (
            adj.join(labels.withColumnRenamed("id", "dst"), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(
                F.array_join(
                    F.array_sort(F.collect_list("label")), ","
                ).alias("nbl")
            )
        )
        labels = labels.join(nb, "id").select(
            "id",
            F.md5(F.concat(F.col("label"), F.lit("|"), F.col("nbl"))).alias("label"),
        )
    orbits = labels.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("orbit_size")
    )
    return labels.join(orbits, "label").select(
        F.col("id").alias("entity_id"),
        F.col("label").alias("wl_label"),
        "orbit_size",
    )


#: wedge-generation hub cap for neighbor-Jaccard: vertices with more
#: than this many neighbors are excluded as SHARED neighbors (their
#: wedge fan is deg², and a celebrity entity co-mentioned with everyone
#: carries no similarity signal anyway — the classic hub exclusion).
#: Full degrees still feed the Jaccard denominator, so on corpora with
#: no hubs (all sf scales: max degree 7) the output is the exact
#: Jaccard; with hubs it is the documented through-hub-free variant.
JACCARD_HUB_CAP = 1_000


def neighbor_jaccard(adj: DataFrame) -> DataFrame:
    """Common-neighbor Jaccard similarity over an :func:`adjacency` —
    the entity-resolution candidate generator: entities whose
    co-mention neighborhoods overlap are merge/same-as candidates even
    when their surface forms never match (the structural complement of
    the lemma/alias linker).

    Pairs are generated ONLY through shared neighbors (one equi-join of
    the adjacency list with itself on the neighbor key) — never an
    all-pairs cross. Per-neighbor wedge fan is deg², so vertices above
    JACCARD_HUB_CAP are excluded from wedge generation (see the cap);
    at 100 TB the wedge join shuffles O(Σ min(deg, cap)²), the same
    budget as the co-mention pair builder. Each wedge arm carries its
    end's degree off the adjacency, so no degree join follows the pair
    aggregate. Degrees and the ppm Jaccard are all-integer — exact in
    both engines."""
    hubs = adj.where(F.col("degree") > JACCARD_HUB_CAP).select(
        F.col("src").alias("dst")
    )
    # heavy hitters are few by definition — broadcast the exclusion set
    wadj = adj.join(F.broadcast(hubs.distinct()), "dst", "left_anti")
    def arm(end: str, deg: str) -> DataFrame:
        return wadj.select(
            F.col("dst").alias("n"), F.col("src").alias(end), F.col("degree").alias(deg)
        )

    return (
        arm("x", "deg_a")
        .join(arm("y", "deg_b"), "n")
        .where(F.col("x") < F.col("y"))
        .groupBy("x", "y", "deg_a", "deg_b")
        .agg(F.count(F.lit(1)).cast("long").alias("common_neighbors"))
        .select(
            F.col("x").alias("entity_a"),
            F.col("y").alias("entity_b"),
            "common_neighbors",
            "deg_a",
            "deg_b",
            F.expr(
                "common_neighbors * 1000000"
                " DIV (deg_a + deg_b - common_neighbors)"
            ).alias("jaccard_ppm"),
        )
    )


def q_neighbor_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighbor-overlap similarity over the co-mention graph (see
    :func:`neighbor_jaccard`): every entity pair sharing ≥ 1 neighbor,
    with common-neighbor count, degrees, and integer-ppm Jaccard."""
    return neighbor_jaccard(_comention_adj(spark, sf_dir))


def two_hop_reach(adj: DataFrame) -> DataFrame:
    """Per-vertex 1-hop degree and exactly-2-hop reachable-set size
    over an :func:`adjacency` — the fan-out budget
    table a GNN neighborhood sampler or a graph-store query planner
    reads before picking per-hop sampling caps (GraphSAGE-style
    fan-out tuning).

    Two-hop paths are generated ONLY through middle vertices at or
    below JACCARD_HUB_CAP (the same hub exclusion, same constant,
    as :func:`neighbor_jaccard` — a celebrity middle emits deg² paths
    and dominates every neighborhood anyway); on the sf corpora max
    degree is 7, so the output is the exact count. Scale shape: the
    degrees ride on the adjacency rows; two edge-scale equi-joins (the
    wedge budget O(Σ min(deg, cap)²)), one distinct, one anti-join
    against the direct edges (exactly-2 ≠ within-2), one vertex-sized
    hash aggregate and one vertex-sized distinct of the degrees."""
    # the second hop's row carries the middle's degree: hubs never pivot
    second = adj.where(F.col("degree") <= JACCARD_HUB_CAP).select(
        F.col("src").alias("dst"), F.col("dst").alias("z")
    )
    p2 = (
        adj.join(second, "dst")
        .where(F.col("z") != F.col("src"))
        .select("src", "z")
        .distinct()
    )
    x2 = p2.join(
        adj.select("src", F.col("dst").alias("z")), ["src", "z"], "left_anti"
    )
    n2 = x2.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("n"))
    deg = adj.select("src", "degree").distinct()
    return deg.join(n2, "src", "left").select(
        F.col("src").alias("entity_id"),
        F.col("degree").alias("n_1hop"),
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_2hop"),
    )


def q_two_hop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood fan-out budget over the co-mention graph (see
    :func:`two_hop_reach`): per entity, degree and exactly-2-hop
    reachable-set size through non-hub middles."""
    return two_hop_reach(_comention_adj(spark, sf_dir))


#: rule-mining wedge cap: a mid entity whose in-degree × out-degree
#: exceeds this emits that many 2-hop paths through itself — capped and
#: excluded (the hub exclusion again; on the sf corpora nothing is
#: excluded, and tests exercise the cap with a planted hub).
RULE_MID_FAN_CAP = 1_000_000


def _rule_body(t: DataFrame) -> DataFrame:
    """Distinct 2-hop body paths (r1, r2, a, c) through fan-capped mid
    entities — shared by :func:`mine_rules` and
    :func:`rule_predictions` so the rule table and its application see
    the SAME capped path set. ``t`` must already be lineage-cut."""
    ind = t.groupBy(F.col("obj").alias("mid")).agg(
        F.count(F.lit(1)).cast("long").alias("ind")
    )
    outd = t.groupBy(F.col("subj").alias("mid")).agg(
        F.count(F.lit(1)).cast("long").alias("outd")
    )
    okmid = (
        ind.join(outd, "mid")
        .where(F.col("ind") * F.col("outd") <= RULE_MID_FAN_CAP)
        .select("mid")
    )
    b1 = t.select(
        F.col("subj").alias("a"), F.col("relation").alias("r1"), F.col("obj").alias("mid")
    ).join(okmid, "mid", "left_semi")
    b2 = t.select(
        F.col("subj").alias("mid"), F.col("relation").alias("r2"), F.col("obj").alias("c")
    )
    return (
        b1.join(b2, "mid")
        .where(F.col("a") != F.col("c"))
        .select("r1", "r2", "a", "c")
        .distinct()
    )


def mine_rules(triples: DataFrame) -> DataFrame:
    """AMIE-style composition-rule mining over an entity-level triple
    frame ``(subj, relation, obj)``: for every relation pair (r1, r2),
    count the distinct entity pairs (a, c) connected by a 2-hop body
    path a -r1-> b -r2-> c, and for every head relation r, how many of
    those pairs ALSO hold a direct a -r-> c triple — emitting the
    classic rule table r1(a,b) ∧ r2(b,c) ⇒ r(a,c) with standard
    confidence = support / n_body (floor ppm, exact in both engines).
    This is the schema-induction step of KG construction: mined
    high-confidence compositions become inference rules or extraction
    validators.

    Scale shape: triples meet only through entity equi-joins — the body
    join on the shared mid entity b, the head join on the (a, c) pair
    key. The per-mid fan is in_deg(b)·out_deg(b); mids above
    RULE_MID_FAN_CAP are excluded (hub exclusion, see the cap
    docstring), so the body shuffle is O(Σ min(in·out, cap)). Counts
    and the ppm confidence are all-integer."""
    t = triples.localCheckpoint()  # consumed 4×: cut lineage once
    body = _rule_body(t)
    nb = body.groupBy("r1", "r2").agg(
        F.count(F.lit(1)).cast("long").alias("n_body")
    )
    head = t.select(
        F.col("subj").alias("a"),
        F.col("relation").alias("head_relation"),
        F.col("obj").alias("c"),
    )
    sup = (
        body.join(head, ["a", "c"])
        .groupBy("r1", "r2", "head_relation")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
    )
    return sup.join(nb, ["r1", "r2"]).select(
        F.col("r1").alias("body_r1"),
        F.col("r2").alias("body_r2"),
        "head_relation",
        "n_body",
        "support",
        F.expr("support * 1000000 DIV n_body").alias("conf_ppm"),
    )


#: rule-application thresholds: only rules with at least this standard
#: confidence and body support become link predictors (low-support or
#: low-precision rules flood the prediction table with noise — the
#: AMIE default regime).
RULE_PRED_MIN_CONF_PPM = 250_000
RULE_PRED_MIN_BODY = 2


def rule_predictions(triples: DataFrame) -> DataFrame:
    """KB completion by rule application — the link-prediction step
    that turns :func:`mine_rules` output back into candidate triples:
    every body path a -r1-> b -r2-> c matching a confident rule
    r1 ∧ r2 ⇒ r predicts r(a, c) WHEN the KG does not already hold it
    (the engine-side analog of the reference's missing-information
    clean query, CleanTriples via README.md:168-176 — there the gap is
    vs ground-truth facts, here vs the KG's own induced rules).

    Per predicted triple: how many distinct rules fire for it and the
    best firing rule's confidence. Scale shape: the body frame is the
    SAME fan-capped 2-hop join as mining (shared :func:`_rule_body`);
    rule filtering is relation-dictionary-sized (broadcast); the
    known-triple exclusion is one anti-join on the full triple key."""
    t = triples.localCheckpoint()
    body = _rule_body(t)
    nb = body.groupBy("r1", "r2").agg(F.count(F.lit(1)).cast("long").alias("n_body"))
    head = t.select(
        F.col("subj").alias("a"),
        F.col("relation").alias("head_relation"),
        F.col("obj").alias("c"),
    )
    rules = (
        body.join(head, ["a", "c"])
        .groupBy("r1", "r2", "head_relation")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .join(nb, ["r1", "r2"])
        .select(
            "r1",
            "r2",
            "head_relation",
            "n_body",
            F.expr("support * 1000000 DIV n_body").cast("long").alias("conf_ppm"),
        )
        .where(
            (F.col("conf_ppm") >= RULE_PRED_MIN_CONF_PPM)
            & (F.col("n_body") >= RULE_PRED_MIN_BODY)
        )
    )
    cand = body.join(
        F.broadcast(rules.select("r1", "r2", "head_relation", "conf_ppm")),
        ["r1", "r2"],
    )
    missing = cand.join(head, ["a", "head_relation", "c"], "left_anti")
    return (
        missing.groupBy("a", "head_relation", "c")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rules"),
            F.max("conf_ppm").cast("long").alias("best_conf_ppm"),
        )
        .select(
            F.col("a").alias("subj_entity"),
            F.col("head_relation").alias("relation"),
            F.col("c").alias("obj_entity"),
            "n_rules",
            "best_conf_ppm",
        )
    )


def q_rule_predictions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-applied link prediction, CONVERSATION-grounded: entity
    nodes are scoped per conversation (``conv_id␟entity``), so rules
    are mined over conversation-local subgraphs (confidence = the
    fraction of conv-local 2-hop paths closed in the SAME
    conversation) and predictions are conv-local open paths — "this
    conversation links a→b→c under a rule that usually closes, but
    never states a→c". The corpus-GLOBAL entity graph over the fixed
    KB is complete at every sf (global application predicts nothing);
    grounding per conversation is what KB completion means for a
    transcript corpus. Same shared machinery (:func:`rule_predictions`
    over :func:`_rule_body`) — only the node ids change."""
    sep = "\x1f"
    t = (
        _linked_entity_pairs(spark, sf_dir)
        .select(
            F.concat("conv_id", F.lit(sep), "subj_entity").alias("subj"),
            F.concat(
                F.lit("COOCCURS_"), F.col("a_cls"), F.lit("_"), F.col("b_cls")
            ).alias("relation"),
            F.concat("conv_id", F.lit(sep), "obj_entity").alias("obj"),
        )
        .distinct()
    )
    p = rule_predictions(t)
    return p.select(
        F.substring_index("subj_entity", sep, 1).alias("conv_id"),
        F.substring_index("subj_entity", sep, -1).alias("subj_entity"),
        "relation",
        F.substring_index("obj_entity", sep, -1).alias("obj_entity"),
        "n_rules",
        "best_conf_ppm",
    )


def q_blocking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ER blocking-quality audit of the linker's lemma-key blocking
    scheme (X4/X7: candidate entities are only ever considered within
    a lemma block, operators/linking.py): per block, occurrence
    traffic, linked share, distinct candidate entities, and purity —
    the majority entity's ppm share of linked occurrences. Low-purity
    or high-cardinality blocks are where blocking-based ER leaks
    (conflations land in one block; aliases split across blocks), so
    this table is the go/no-go gate before trusting block-local
    entity resolution at scale.

    Scale shape: one scan of the persisted mention frame (each row
    carries its scan-resolved ``entity_id``, null when unlinked), one
    hash aggregate on (block, entity), and one block-partitioned window
    over those counts that totals the block and picks its top linked
    entity (entity cardinality per block is dictionary-scale)."""
    ec = (
        _kg(spark, sf_dir)
        .mentions.groupBy(F.col("key").alias("block_key"), "entity_id")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    blk = Window.partitionBy("block_key")
    linked = F.col("entity_id").isNotNull()
    top_first = blk.orderBy(~linked, F.col("cnt").desc(), F.col("entity_id").asc())
    return ec.select(
        "block_key",
        F.sum("cnt").over(blk).alias("n_occurrences"),
        F.sum(F.when(linked, F.col("cnt")).otherwise(0)).over(blk).alias("n_linked"),
        F.count("entity_id").over(blk).alias("n_entities"),
        F.col("entity_id").alias("top_entity"),
        "cnt",
        F.row_number().over(top_first).alias("rn"),
    ).where(F.col("rn") == 1).select(
        "block_key",
        "n_occurrences",
        "n_linked",
        "n_entities",
        "top_entity",
        F.when(
            F.col("n_linked") > 0,
            F.expr("cnt * 1000000 DIV n_linked"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("purity_ppm"),
    )


#: incremental split modulus: docs with id % MOD == 0 are the incoming
#: batch, the rest are the staged base KG (the curation module's
#: EVAL_SPLIT_MOD pattern — deterministic in both engines).
KG_INGEST_SPLIT_MOD = 5


def q_incremental_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental KG maintenance: every entity-level triple
    contributed by an incoming document batch, flagged with whether the
    staged base KG already holds it — the ingest delta an incremental
    pipeline materializes instead of recomputing the corpus (consumers
    filter ``already_known = 0`` for the new-knowledge insert set; the
    flag keeps the probe's verdict visible instead of silently
    anti-joining to an empty frame on corpora whose batch adds nothing,
    as the homogeneous sf corpus does). Documents split
    deterministically (id % MOD == 0 → batch, the rest are base).

    Scale shape: the same incremental contract as ``dedup_incremental``
    — work is batch-proportional (the batch side is scanned and
    deduped; the base side is an equi-join probe on the full
    (subj, relation, obj) key of the staged triple table, bucketed on
    that key on a real cluster so the probe is shuffle-free). Nothing
    rescans base documents; base is the already-materialized triple
    table."""
    p = _linked_entity_pairs(spark, sf_dir).select(
        F.col("conv_id").cast("long").alias("cid"),
        F.col("subj_entity").alias("subj"),
        F.concat(
            F.lit("COOCCURS_"), F.col("a_cls"), F.lit("_"), F.col("b_cls")
        ).alias("relation"),
        F.col("obj_entity").alias("obj"),
    )
    is_batch = F.col("cid") % KG_INGEST_SPLIT_MOD == 0
    batch = p.where(is_batch).select("subj", "relation", "obj").distinct()
    base = (
        p.where(~is_batch)
        .select("subj", "relation", "obj")
        .distinct()
        .withColumn("already_known", F.lit(1).cast("int"))
    )
    return batch.join(base, ["subj", "relation", "obj"], "left").select(
        "subj",
        "relation",
        "obj",
        F.coalesce(F.col("already_known"), F.lit(0)).cast("int").alias(
            "already_known"
        ),
    )


HITS_ITERS = 2  # fixed unroll — both engines run EXACTLY these rounds
_HITS_SCALE = 1_000_000_000  # scores in integer ppb


def q_entity_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities over the DIRECTED entity graph (subj →
    obj of the distinct entity-level triples) — the companion to
    PageRank for an asymmetric KG: authorities are entities evidence
    points AT, hubs are entities evidence points FROM. Kleinberg's
    mutual recursion in exact integer ppb, max-normalized per
    half-round:

        a'(v) = Σ_{u→v} h(u);  a(v) = (a'·1000) DIV (max_a DIV 10⁶)
        h'(v) = Σ_{v→w} a(w);  h(v) = (h'·1000) DIV (max_h DIV 10⁶)

    All floor divisions of non-negative longs — bit-identical across
    engines (the PageRank/k-core fixed-point pattern; the oracle
    unrolls HITS_ITERS rounds). The split ·1000 / DIV 10⁶ keeps every
    intermediate below 2⁶³ for in/out degrees up to ~9·10⁶ — beyond
    that, rescale _HITS_SCALE (documented, not silent: ANSI mode makes
    overflow an error, never a wrong answer).

    Scale shape: per half-round one edge-scale equi-join + hash agg
    (vertex-sized output), one vertex-sized left join, and a 1-row max
    broadcast (audited under _ALLOWED_SCALAR_BROADCAST); lineage cut
    per round exactly as PageRank."""
    t = (
        _linked_entity_pairs(spark, sf_dir)
        .select(F.col("subj_entity").alias("subj"), F.col("obj_entity").alias("obj"))
        .distinct()
    )
    edges = t.localCheckpoint()
    verts = (
        edges.select(F.col("subj").alias("v"))
        .unionByName(edges.select(F.col("obj").alias("v")))
        .distinct()
        .localCheckpoint()
    )
    norm = "(raw * 1000) DIV greatest(mx DIV 1000000, 1)"
    h = verts.select("v", F.lit(_HITS_SCALE).cast("long").alias("h"))
    a = None
    for _ in range(HITS_ITERS):
        araw = (
            edges.join(
                h.select(F.col("v").alias("subj"), F.col("h").alias("hs")), "subj"
            )
            .groupBy(F.col("obj").alias("v"))
            .agg(F.sum("hs").alias("raw"))
        )
        araw = verts.join(araw, "v", "left").select(
            "v", F.coalesce("raw", F.lit(0)).cast("long").alias("raw")
        )
        a = (
            araw.crossJoin(F.broadcast(araw.agg(F.max("raw").alias("mx"))))
            .select("v", F.expr(norm).cast("long").alias("a"))
            .localCheckpoint()
        )
        hraw = (
            edges.join(
                a.select(F.col("v").alias("obj"), F.col("a").alias("ao")), "obj"
            )
            .groupBy(F.col("subj").alias("v"))
            .agg(F.sum("ao").alias("raw"))
        )
        hraw = verts.join(hraw, "v", "left").select(
            "v", F.coalesce("raw", F.lit(0)).cast("long").alias("raw")
        )
        h = (
            hraw.crossJoin(F.broadcast(hraw.agg(F.max("raw").alias("mx"))))
            .select("v", F.expr(norm).cast("long").alias("h"))
            .localCheckpoint()
        )
    return a.join(h, "v").select(
        F.col("v").alias("entity_id"),
        F.col("a").alias("authority_ppb"),
        F.col("h").alias("hub_ppb"),
    )


def _hits_oracle_sql() -> str:
    """Unrolled HITS_ITERS-round mutual recursion (the k-core/PageRank
    CTE pattern): per half-round an edge join + aggregate, a left join
    back onto the vertex frame, and a 1-row max normalization."""
    rounds = []
    prev_h = "h0"
    a_cur = h_cur = ""
    for r in range(1, HITS_ITERS + 1):
        a_cur, h_cur = f"a{r}", f"h{r}"
        rounds.append(
            f"""{a_cur}r AS (
    SELECT e.obj AS v, SUM(p.h) AS raw
    FROM ed e JOIN {prev_h} p ON p.v = e.subj GROUP BY e.obj),
{a_cur}f AS (
    SELECT verts.v, COALESCE(r.raw, 0) AS raw
    FROM verts LEFT JOIN {a_cur}r r ON r.v = verts.v),
{a_cur}m AS (SELECT MAX(raw) AS mx FROM {a_cur}f),
{a_cur} AS (
    SELECT v, CAST((raw * 1000) // GREATEST(mx // 1000000, 1) AS BIGINT) AS a
    FROM {a_cur}f, {a_cur}m),
{h_cur}r AS (
    SELECT e.subj AS v, SUM(p.a) AS raw
    FROM ed e JOIN {a_cur} p ON p.v = e.obj GROUP BY e.subj),
{h_cur}f AS (
    SELECT verts.v, COALESCE(r.raw, 0) AS raw
    FROM verts LEFT JOIN {h_cur}r r ON r.v = verts.v),
{h_cur}m AS (SELECT MAX(raw) AS mx FROM {h_cur}f),
{h_cur} AS (
    SELECT v, CAST((raw * 1000) // GREATEST(mx // 1000000, 1) AS BIGINT) AS h
    FROM {h_cur}f, {h_cur}m)"""
        )
        prev_h = h_cur
    body = ",\n".join(rounds)
    return f"""WITH {_base_ctes()},
etriples AS MATERIALIZED (
    SELECT DISTINCT ls.entity_id AS subj, lo.entity_id AS obj
    FROM mentions a
    JOIN mentions b ON a.doc = b.doc AND b.pos > a.pos
                   AND b.pos <= a.pos + {COOCCUR_WINDOW} AND a.key <> b.key
    JOIN links ls ON ls.doc = a.doc AND ls.mention_id = a.mention_id
                 AND ls.entity_id IS NOT NULL
    JOIN links lo ON lo.doc = b.doc AND lo.mention_id = b.mention_id
                 AND lo.entity_id IS NOT NULL),
ed AS MATERIALIZED (SELECT subj, obj FROM etriples),
verts AS MATERIALIZED (
    SELECT subj AS v FROM ed UNION SELECT obj AS v FROM ed),
h0 AS (SELECT v, CAST({_HITS_SCALE} AS BIGINT) AS h FROM verts),
{body}
SELECT {a_cur}.v AS entity_id, {a_cur}.a AS authority_ppb,
       {h_cur}.h AS hub_ppb
FROM {a_cur} JOIN {h_cur} ON {h_cur}.v = {a_cur}.v"""


#: URI namespace for the RDF export (any IRI base works; the export is
#: self-consistent as long as both engines build identical strings)
_RDF_BASE = "http://dstlr.io/kg"


def q_rdf_ntriples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-Triples serialization of the canonical KG — the interchange
    export a KG release ships next to its Neo4j/Iceberg materialization
    (reference parity: the Neo4j loader is K3; this is the same graph
    as line-oriented RDF for the text sink, K4). One line per canonical
    (subject, relation, object) from the ER-apply
    (``kg_canonical_triples``), endpoints URI-escaped with the C7 rule
    (EnrichTriples.scala:104 — '\"'→%22, '`'→%60).

    Scale shape: a map-only string projection over the canonical
    triple table (itself two mention-keyed equi-joins + one hash agg);
    writing via sources/io.write_text shards across executors — the
    serialization never funnels."""
    from dstlr_spark.functions.text import url_escape_entity

    ct = q_canonical_triples(spark, sf_dir)
    ent = f"{_RDF_BASE}/entity/"
    rel = f"{_RDF_BASE}/relation/"
    return ct.select(
        F.concat(
            F.lit(f"<{ent}"),
            url_escape_entity(F.col("subj")),
            F.lit(f"> <{rel}"),
            F.col("relation"),
            F.lit(f"> <{ent}"),
            url_escape_entity(F.col("obj")),
            F.lit("> ."),
        ).alias("ntriple")
    )


TRUTH_ITERS = 2  # fixed unroll — both engines run EXACTLY these rounds
_TRUTH_SCALE = 1_000_000_000  # trust / confidence in integer ppb


def q_truth_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truth discovery over the source↔claim bipartite graph — the
    knowledge-fusion step (TruthFinder / Knowledge-Based-Trust shape)
    that turns redundant multi-source extraction into calibrated triple
    confidence: sources (conversations) earn trust from the claims they
    assert; claims earn confidence from the trust of their sources.
    Mutual recursion in exact integer ppb:

        conf'(f) = Σ_{s asserts f} trust(s)
        conf(f)  = (conf'·1000) DIV greatest(max_conf DIV 10⁶, 1)
        trust(s) = (Σ_{f of s} conf(f)) DIV n_claims(s)

    All floor divisions of non-negative longs — bit-identical across
    engines (the HITS/PageRank fixed-point pattern; the oracle unrolls
    TRUTH_ITERS rounds). Trust stays ≤ 10⁹ by construction (mean of
    ppb values), so conf' ≤ n_sources·10⁹ and the ·1000 split keeps
    every intermediate below 2⁶³ for up to ~9·10⁶ sources per claim —
    beyond that rescale _TRUTH_SCALE (documented, not silent: ANSI
    mode makes overflow an error, never a wrong answer).

    Scale shape: per round two edge-scale equi-joins on the provenance
    frame + hash aggregates (claim- then source-sized output) and one
    1-row max broadcast (audited under _ALLOWED_SCALAR_BROADCAST);
    lineage cut per round exactly as PageRank/HITS. Round 1 ranks by
    support count; round 2 is where source reliability differentiates
    (a source asserting well-corroborated claims lifts its other
    claims)."""
    prov = (
        _linked_entity_pairs(spark, sf_dir)
        .select(
            "conv_id",
            F.col("subj_entity").alias("subj"),
            F.concat(
                F.lit("COOCCURS_"), F.col("a_cls"), F.lit("_"), F.col("b_cls")
            ).alias("relation"),
            F.col("obj_entity").alias("obj"),
        )
        .distinct()
        .localCheckpoint()
    )
    key = ["subj", "relation", "obj"]
    trust = prov.select("conv_id").distinct().select(
        "conv_id", F.lit(_TRUTH_SCALE).cast("long").alias("t")
    )
    conf = None
    for _ in range(TRUTH_ITERS):
        craw = (
            prov.join(trust, "conv_id")
            .groupBy(*key)
            .agg(F.sum("t").alias("raw"))
        )
        conf = (
            craw.crossJoin(F.broadcast(craw.agg(F.max("raw").alias("mx"))))
            .select(
                *key,
                F.expr("(raw * 1000) DIV greatest(mx DIV 1000000, 1)")
                .cast("long")
                .alias("confidence_ppb"),
            )
            .localCheckpoint()
        )
        trust = (
            prov.join(conf, key)
            .groupBy("conv_id")
            .agg(
                F.sum("confidence_ppb").alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            .select("conv_id", F.expr("s DIV n").cast("long").alias("t"))
            .localCheckpoint()
        )
    ns = prov.groupBy(*key).agg(
        F.count(F.lit(1)).cast("long").alias("n_sources")
    )
    return conf.join(ns, key).select(
        F.col("subj").alias("subj_entity"),
        "relation",
        F.col("obj").alias("obj_entity"),
        "n_sources",
        "confidence_ppb",
    )


def _truth_oracle_sql() -> str:
    """Unrolled TRUTH_ITERS-round source↔claim mutual recursion (the
    HITS CTE pattern on a bipartite provenance frame)."""
    rounds = []
    prev_t = "t0"
    c_cur = ""
    for r in range(1, TRUTH_ITERS + 1):
        c_cur, t_cur = f"c{r}", f"t{r}"
        rounds.append(
            f"""{c_cur}r AS (
    SELECT subj, rel, obj, SUM(p.t) AS raw
    FROM prov JOIN {prev_t} p ON p.doc = prov.doc
    GROUP BY subj, rel, obj),
{c_cur}m AS (SELECT MAX(raw) AS mx FROM {c_cur}r),
{c_cur} AS (
    SELECT subj, rel, obj,
           CAST((raw * 1000) // GREATEST(mx // 1000000, 1) AS BIGINT) AS c
    FROM {c_cur}r, {c_cur}m),
{t_cur} AS (
    SELECT prov.doc, CAST(SUM(c) // COUNT(*) AS BIGINT) AS t
    FROM prov JOIN {c_cur} x
      ON x.subj = prov.subj AND x.rel = prov.rel AND x.obj = prov.obj
    GROUP BY prov.doc)"""
        )
        prev_t = t_cur
    body = ",\n".join(rounds)
    return f"""WITH {_base_ctes()},
prov AS MATERIALIZED (
    SELECT DISTINCT a.doc AS doc, ls.entity_id AS subj,
           'COOCCURS_' || a.entity_class || '_' || b.entity_class AS rel,
           lo.entity_id AS obj
    FROM mentions a
    JOIN mentions b ON a.doc = b.doc AND b.pos > a.pos
                   AND b.pos <= a.pos + {COOCCUR_WINDOW} AND a.key <> b.key
    JOIN links ls ON ls.doc = a.doc AND ls.mention_id = a.mention_id
                 AND ls.entity_id IS NOT NULL
    JOIN links lo ON lo.doc = b.doc AND lo.mention_id = b.mention_id
                 AND lo.entity_id IS NOT NULL),
t0 AS (SELECT DISTINCT doc, CAST({_TRUTH_SCALE} AS BIGINT) AS t FROM prov),
{body},
ns AS (SELECT subj, rel, obj, CAST(COUNT(*) AS BIGINT) AS n_sources
       FROM prov GROUP BY subj, rel, obj)
SELECT ns.subj AS subj_entity, ns.rel AS relation, ns.obj AS obj_entity,
       ns.n_sources, {c_cur}.c AS confidence_ppb
FROM ns JOIN {c_cur}
  ON {c_cur}.subj = ns.subj AND {c_cur}.rel = ns.rel
 AND {c_cur}.obj = ns.obj"""


#: top-K facts kept per subject entity in the release summary
ENTITY_SUMMARY_K = 3


def q_entity_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity fact summary — the top-K (relation, object) facts
    for every subject entity ranked by observation count (ties broken
    lexicographically on relation then object, so ranks are total and
    deterministic in both engines). This is the entity-card table a KG
    release serves next to the full triple dump.

    Scale shape: the observation rollup is one hash aggregate on the
    entity-triple key; the rank is a window partitioned BY SUBJECT
    ENTITY (per-entity fact lists, never corpus-wide — the plan lint
    asserts no SinglePartition window registry-wide); the K-filter
    prunes to entity-card size before any further consumer."""
    obs = (
        _linked_entity_pairs(spark, sf_dir)
        .select(
            F.col("subj_entity"),
            F.concat(
                F.lit("COOCCURS_"), F.col("a_cls"), F.lit("_"), F.col("b_cls")
            ).alias("relation"),
            F.col("obj_entity"),
        )
        .groupBy("subj_entity", "relation", "obj_entity")
        .agg(F.count(F.lit(1)).cast("long").alias("n_obs"))
    )
    w = Window.partitionBy("subj_entity").orderBy(
        F.col("n_obs").desc(), F.col("relation").asc(), F.col("obj_entity").asc()
    )
    return (
        obs.select(
            "subj_entity",
            "relation",
            "obj_entity",
            "n_obs",
            F.row_number().over(w).cast("int").alias("fact_rank"),
        )
        .where(F.col("fact_rank") <= ENTITY_SUMMARY_K)
    )


def _triple_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-level triple validity intervals — the
    ``kg_triple_temporal`` rollup shared by the as-of snapshot and the
    snapshot diff: per (subj, relation, obj), the first/last attributed
    observation timestamp and the observation count. Conversation-
    bounded pair+span join then one hash aggregate."""
    return (
        _linked_entity_pairs(spark, sf_dir)
        .join(_turn_spans(spark, sf_dir), "conv_id")
        .where(
            (F.col("b") >= F.col("start"))
            & (F.col("b") < F.col("start") + F.col("ln"))
        )
        .select(
            "subj_entity",
            F.concat(
                F.lit("COOCCURS_"), F.col("a_cls"), F.lit("_"), F.col("b_cls")
            ).alias("relation"),
            "obj_entity",
            "ts_s",
        )
        .groupBy("subj_entity", "relation", "obj_entity")
        .agg(
            F.min("ts_s").alias("first_ts_s"),
            F.max("ts_s").alias("last_ts_s"),
            F.count(F.lit(1)).cast("long").alias("n_obs"),
        )
    )


def q_snapshot_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time KG snapshot: the entity-level triples whose
    observation validity interval (first/last attributed timestamp,
    the ``kg_triple_temporal`` scoping) covers the corpus-midpoint
    instant T = (min_ts + max_ts) DIV 2 — the as-of view a temporal KG
    serves for \"what did we know at T\". T is data-derived and
    integer, so both engines pick the identical instant.

    Scale shape: the interval rollup is the conversation-bounded
    pair+span join + one hash aggregate (kg_triple_temporal's shape);
    the snapshot instant is a 1-row min/max broadcast (audited under
    _ALLOWED_SCALAR_BROADCAST); the filter is a residual predicate on
    the aggregate — nothing corpus-quadratic."""
    tt = _triple_intervals(spark, sf_dir)
    bounds = tt.agg(
        F.min("first_ts_s").alias("gmin"), F.max("last_ts_s").alias("gmax")
    )
    return (
        tt.crossJoin(F.broadcast(bounds))
        .withColumn("asof_ts_s", F.expr("(gmin + gmax) DIV 2").cast("long"))
        .where(
            (F.col("first_ts_s") <= F.col("asof_ts_s"))
            & (F.col("asof_ts_s") <= F.col("last_ts_s"))
        )
        .select(
            "subj_entity",
            "relation",
            "obj_entity",
            "first_ts_s",
            "last_ts_s",
            "n_obs",
            "asof_ts_s",
        )
    )


#: Allen's interval algebra (1983) over closed integer-second
#: intervals [af, al] vs [bf, bl] — one exhaustive, mutually-exclusive
#: CASE cascade shared VERBATIM by the Spark expression and the DuckDB
#: oracle, so the classification can't drift between engines. All 13
#: relations (6 base + 6 inverses + equals).
_ALLEN_CASE = """CASE
  WHEN af = bf AND al = bl THEN 'equals'
  WHEN al < bf THEN 'precedes'
  WHEN al = bf THEN 'meets'
  WHEN bl < af THEN 'preceded_by'
  WHEN bl = af THEN 'met_by'
  WHEN af = bf AND al < bl THEN 'starts'
  WHEN af = bf THEN 'started_by'
  WHEN al = bl AND af > bf THEN 'finishes'
  WHEN al = bl THEN 'finished_by'
  WHEN af > bf AND al < bl THEN 'during'
  WHEN af < bf AND al > bl THEN 'contains'
  WHEN af < bf THEN 'overlaps'
  ELSE 'overlapped_by'
END"""


def q_allen_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Allen interval-algebra census over each subject entity's triple
    validity intervals (``kg_triple_temporal``'s first/last attributed
    observation timestamps): for every canonical pair of the entity's
    triples (ordered by (relation, obj_entity), ASCII ids so the
    ordering is collation-free), classify the pair into one of Allen's
    13 relations via :data:`_ALLEN_CASE` and count per (entity,
    relation class). The temporal-KG consistency signal: 'equals'/
    'during'-heavy entities have nested claim lifetimes, 'precedes'-
    heavy ones have disjoint eras — the input to temporal-conflict
    triage on top of ``kg_clean_inconsistent``.

    Scale shape: the interval table is triple-level (≪ corpus, and it
    rides the staged ``_linked_entity_pairs``); the self-join is keyed
    on subj_entity with per-entity interval counts bounded by the
    relation-type × gazetteer fan caps; output is entity × ≤13 rows."""
    t = _triple_intervals(spark, sf_dir)
    a = t.select(
        "subj_entity",
        F.col("relation").alias("ar"),
        F.col("obj_entity").alias("ao"),
        F.col("first_ts_s").alias("af"),
        F.col("last_ts_s").alias("al"),
    )
    b = t.select(
        "subj_entity",
        F.col("relation").alias("br"),
        F.col("obj_entity").alias("bo"),
        F.col("first_ts_s").alias("bf"),
        F.col("last_ts_s").alias("bl"),
    )
    return (
        a.join(b, "subj_entity")
        .where(
            (F.col("ar") < F.col("br"))
            | ((F.col("ar") == F.col("br")) & (F.col("ao") < F.col("bo")))
        )
        .select("subj_entity", F.expr(_ALLEN_CASE).alias("allen"))
        .groupBy("subj_entity", "allen")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Release-to-release KG delta: per relation, how many entity-level
    triples are ADDED, REMOVED, or KEPT between two as-of instants —
    T1 at the corpus timespan's quarter point and T2 at the
    three-quarter point (both data-derived integers, so the engines
    pick identical instants). A triple is \"live\" at T when its
    validity interval (``kg_triple_temporal``) covers T. This is the
    diff report a periodically re-released KG publishes next to each
    snapshot (what changed since the last cut).

    Scale shape: the interval rollup is one conversation-bounded
    pair+span join + hash aggregate; the two instants come from a
    1-row min/max broadcast; liveness flags are per-row CASE
    expressions and the diff is one hash aggregate on the relation
    dictionary — nothing pairwise, nothing corpus-wide."""
    tt = _triple_intervals(spark, sf_dir)
    bounds = tt.agg(
        F.min("first_ts_s").alias("gmin"), F.max("last_ts_s").alias("gmax")
    )
    d = (
        tt.crossJoin(F.broadcast(bounds))
        .withColumn("t1", F.expr("gmin + (gmax - gmin) DIV 4").cast("long"))
        .withColumn("t2", F.expr("gmin + ((gmax - gmin) * 3) DIV 4").cast("long"))
        .withColumn(
            "at1",
            ((F.col("first_ts_s") <= F.col("t1"))
             & (F.col("t1") <= F.col("last_ts_s"))).cast("int"),
        )
        .withColumn(
            "at2",
            ((F.col("first_ts_s") <= F.col("t2"))
             & (F.col("t2") <= F.col("last_ts_s"))).cast("int"),
        )
    )
    return d.groupBy("relation").agg(
        F.sum(F.expr("CASE WHEN at1 = 0 AND at2 = 1 THEN 1 ELSE 0 END"))
        .cast("long")
        .alias("n_added"),
        F.sum(F.expr("CASE WHEN at1 = 1 AND at2 = 0 THEN 1 ELSE 0 END"))
        .cast("long")
        .alias("n_removed"),
        F.sum(F.expr("CASE WHEN at1 = 1 AND at2 = 1 THEN 1 ELSE 0 END"))
        .cast("long")
        .alias("n_kept"),
        F.count(F.lit(1)).cast("long").alias("n_triples_ever"),
    )


def q_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relation reciprocity — the symmetric-relation detector schema
    induction runs next to functionality (``kg_relation_signature``):
    per relation, the fraction (floor ppm) of distinct entity-level
    triples (s, r, o) for which SOME reverse edge (o, *, s) exists in
    the KG. COOCCURS relations are window-ordered, so reciprocity here
    measures how often both orderings were observed — on a real KBP
    relation set the same statistic separates symmetric relations
    (spouse_of) from directed ones (born_in).

    Scale shape: the distinct triple frame and the distinct endpoint
    pair frame are two hash aggregates over the already-bounded pair
    join; the reverse-existence probe is ONE equi-join on the
    (obj, subj) composite key against the distinct pair set (at most
    one match per triple — no fan-out), then a relation-dictionary
    hash aggregate."""
    t = (
        _linked_entity_pairs(spark, sf_dir)
        .select(
            F.col("subj_entity").alias("subj"),
            F.concat(
                F.lit("COOCCURS_"), F.col("a_cls"), F.lit("_"), F.col("b_cls")
            ).alias("relation"),
            F.col("obj_entity").alias("obj"),
        )
        .distinct()
    )
    pairs = t.select(
        F.col("subj").alias("ps"), F.col("obj").alias("po")
    ).distinct()
    j = t.join(
        pairs,
        (F.col("obj") == F.col("ps")) & (F.col("subj") == F.col("po")),
        "left",
    )
    return j.groupBy("relation").agg(
        F.count(F.lit(1)).cast("long").alias("n_triples"),
        F.sum(F.when(F.col("ps").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_reciprocal"),
        F.expr(
            "sum(CASE WHEN ps IS NOT NULL THEN 1 ELSE 0 END) * 1000000"
            " DIV count(1)"
        )
        .cast("long")
        .alias("reciprocity_ppm"),
    )


def q_provenance_bundle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-triple evidence bundle for the canonical KG release: every
    canonical (subj, relation, obj) from the ER-apply
    (``kg_canonical_triples``) with its provenance — distinct
    supporting-document count, raw extraction multiplicity, the BEST
    extraction confidence, and the sorted supporting-doc id list as a
    comma-joined string. This is the audit artifact reviewers and
    downstream filters consume (reference parity: the Neo4j loader
    keeps MENTIONS edges for exactly this traceability,
    LoadTriples.scala mention-edge build).

    Parity: the doc list is sort_array(collect_set(...)) vs DuckDB
    list_sort(list(DISTINCT ...)) — identical ASCII-ordered strings;
    max(confidence) is order-insensitive over bit-identical doubles
    (both engines compute 1.0/(1.0+gap) on the same integer gaps).

    Scale shape: identical to the ER-apply (two mention-keyed
    equi-joins + one hash aggregate); the doc-list payload is bounded
    by per-triple evidence, and a production run would cap it with
    slice() — kept exact here because the corpus' evidence lists are
    small and the oracle must hash-match."""
    j = _canonical_relations(spark, sf_dir)
    return j.groupBy("subj", "relation", "obj").agg(
        F.countDistinct("doc").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_obs"),
        F.max("conf").alias("best_confidence"),
        F.array_join(F.sort_array(F.collect_set("doc")), ",").alias(
            "evidence_docs"
        ),
    )


def q_stream_turn_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming triple extraction — the KG-construction extract stage
    as a continuous process: each arriving turn is tokenized,
    lemma-keyed (C2), matched against the broadcast-sized gazetteer
    (inlined as a map literal — the streaming analog of the broadcast
    dimension join), and window-bounded co-occurrence triples are
    emitted per turn. TURN-LOCAL pairs only: cross-turn pairs need
    document assembly and belong to the batch/incremental job
    (``kg_incremental_triples``) — the split every streaming KG
    pipeline makes (low-latency turn-local edges now, document-scope
    consolidation in the periodic batch).

    Scale shape: a STATELESS streaming projection — pure Column
    higher-order functions (transform/filter/flatten) inside one
    codegen stage, then an explode; no watermark, no state store, no
    shuffle. Each of 10^12 turns is processed exactly once wherever it
    lands; throughput is source-bounded. The drained append result
    equals the batch per-turn pair join, which is the oracle.
    (Reference parity: the per-partition CoreNLP flatMap,
    ExtractTriples.scala:60-86, re-expressed as a streaming stage.)"""
    from dstlr_spark.queries.streamgate import _drain, _transcripts_stream
    from dstlr_spark.streaming.transcripts_stream import turn_triples_stream

    out = turn_triples_stream(
        _transcripts_stream(spark, sf_dir), DOC_GAZETTEER, COOCCUR_WINDOW
    )
    return _drain(out, "append")


def q_stream_entity_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming entity linking — the third leg of the streaming KG
    construction surface (mention rate → turn triples → LINKS): each
    arriving turn's distinct gazetteer keys are resolved against the
    alias dictionary via a stream-static BROADCAST equi-join
    (:func:`_alias_winners` — the idiomatic Structured-Streaming shape
    for a dimension join; reference parity: the per-mention
    `LINKS_TO` edge with argmax-prior target,
    ExtractTriples.scala:215-218 + the TagMe/alias scoring).

    Scale shape: stateless append — array ops inside one codegen
    stage, an explode, and a broadcast hash join; no watermark, no
    state store, no shuffle. Unresolved keys (no alias entry) are
    dropped here — the batch NIL-clustering job (`kg_nil_entities`)
    owns them. The drained result equals the batch per-turn distinct
    resolved-key set, which is the oracle."""
    from dstlr_spark.functions.text import PUNCT_RE as _P
    from dstlr_spark.functions.text import lemma_token as _lt
    from dstlr_spark.queries.streamgate import _drain, _transcripts_stream

    gmap = F.create_map(
        *[F.lit(x) for term, cls in DOC_GAZETTEER for x in (term, cls)]
    )
    keys = F.transform(
        F.split(F.col("text"), " "),
        lambda t: _lt(F.regexp_replace(t, _P, "")),
    )
    ment_keys = F.array_distinct(
        F.filter(keys, lambda k: F.element_at(gmap, k).isNotNull())
    )
    t = _transcripts_stream(spark, sf_dir).select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        F.explode(ment_keys).alias("key"),
    )
    out = t.join(F.broadcast(_alias_winners(spark)), "key").select(
        "conv_id", "turn_idx", "key", "entity_id"
    )
    return _drain(out, "append")


def q_nil_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NIL-entity proposals: mentions whose LINKS_TO target is NULL
    (no alias-dictionary candidate — the reference keeps these edges
    with a null resolved id, X7) clustered by lemma key into proposed
    new KB entries, with a deterministic content-addressed id
    (md5 of 'NIL:'+key) so re-runs and incremental ingests mint the
    SAME id — the standard NIL-clustering step that turns an
    entity-linking gap list into KB growth.

    Scale shape: a filter of the persisted mention frame on a null
    scan-resolved ``entity_id``, then one hash aggregate on the lemma
    key. The exact distinct-doc count per key is the only
    heavyweight — at true corpus scale swap for approx_count_distinct
    (kept exact here because the oracle must hash-match)."""
    return (
        _kg(spark, sf_dir)
        .mentions.where(F.col("entity_id").isNull())
        .groupBy("key")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
        )
        .select(
            "key",
            F.md5(F.concat(F.lit("NIL:"), F.col("key"))).alias("nil_entity_id"),
            "n_occurrences",
            "n_docs",
        )
    )


def q_relation_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relation signature table — the schema-induction statistics AMIE
    and KB-completion pipelines key decisions on: per relation, the
    distinct entity-level triple count, distinct subject/object counts,
    and floor-ppm functionality (n_subjects/n_triples — 1.0 means each
    subject appears once: a functional, 1:1-ish relation) plus inverse
    functionality. One hash aggregate over the distinct triple frame;
    output is relation-dictionary-sized."""
    t = (
        _linked_entity_pairs(spark, sf_dir)
        .select(
            F.col("subj_entity").alias("subj"),
            F.concat(
                F.lit("COOCCURS_"), F.col("a_cls"), F.lit("_"), F.col("b_cls")
            ).alias("relation"),
            F.col("obj_entity").alias("obj"),
        )
        .distinct()
    )
    return t.groupBy("relation").agg(
        F.count(F.lit(1)).cast("long").alias("n_triples"),
        F.countDistinct("subj").cast("long").alias("n_subjects"),
        F.countDistinct("obj").cast("long").alias("n_objects"),
        F.expr("count(distinct subj) * 1000000 DIV count(1)")
        .cast("long")
        .alias("functionality_ppm"),
        F.expr("count(distinct obj) * 1000000 DIV count(1)")
        .cast("long")
        .alias("inv_functionality_ppm"),
    )


def q_rule_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition-rule mining over the corpus' entity-level triples
    (distinct (subj_entity, relation, obj_entity) from the same
    both-endpoints-linked pair resolution as ``kg_triple_temporal``) —
    see :func:`mine_rules` for semantics and the scale shape."""
    t = (
        _linked_entity_pairs(spark, sf_dir)
        .select(
            F.col("subj_entity").alias("subj"),
            F.concat(
                F.lit("COOCCURS_"), F.col("a_cls"), F.lit("_"), F.col("b_cls")
            ).alias("relation"),
            F.col("obj_entity").alias("obj"),
        )
        .distinct()
    )
    return mine_rules(t)


PAGERANK_ITERS = 3
_PR_SCALE = 1_000_000_000  # ranks in exact integer ppb


def q_entity_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the entity co-mention graph (KG-analytics layer) —
    the second iterative algorithm under the full value oracle (after
    connected components / k-means).

    Exact integer fixed-point spec, identical in both engines:
      r₀(v)   = SCALE DIV N
      rₖ₊₁(v) = (0.15·SCALE DIV N) + (85 · Σ_{u→v} (rₖ(u) DIV deg(u))) DIV 100
    All divisions are floor divisions of non-negative ints, so Spark DIV
    and DuckDB // agree bit-for-bit; the oracle unrolls PAGERANK_ITERS
    rounds in CTEs. Per round: ONE edge-scale join of the staged
    adjacency (each row carries its source degree) with the ranks,
    then one aggregate — the standard Pregel-free DataFrame PageRank
    with exactly one shuffle of the edge frame per round; lineage cut
    per round with localCheckpoint (a checkpoint dir on a cluster).
    """
    # both upstream frames come from the per-session staging layer
    # (_ent_docs → verts, _comention_adj → edges): one
    # materialization each per (session, sf_dir), re-read every round
    ed = _ent_docs(spark, sf_dir)
    adj = _comention_adj(spark, sf_dir)
    # verts include entities seen ONLY in capped docs: isolated vertices
    # keep the teleport rank rather than vanishing
    verts = ed.select(F.col("entity_id").alias("id")).distinct().localCheckpoint()
    n = verts.count()
    if n == 0:  # empty graph: no vertices → no ranks (oracle agrees)
        return verts.select(
            F.col("id").alias("entity_id"), F.lit(0).cast("long").alias("rank_ppb")
        )
    teleport = (15 * _PR_SCALE // 100) // n  # exact ints only — no float 0.15
    ranks = verts.select("id", F.lit(_PR_SCALE // n).cast("long").alias("rank_ppb"))
    for _ in range(PAGERANK_ITERS):
        # isolated vertices (no adjacency row) contribute nothing
        contrib = (
            adj.join(ranks.withColumnRenamed("id", "src"), "src")
            .groupBy("dst")
            .agg(F.sum(F.expr("rank_ppb DIV degree")).alias("s"))
        )
        ranks = (
            verts.join(contrib, verts["id"] == contrib["dst"], "left")
            .select(
                "id",
                (
                    F.lit(teleport)
                    + F.expr("85 * coalesce(s, 0L) DIV 100")
                ).cast("long").alias("rank_ppb"),
            )
            .localCheckpoint()
        )
    return ranks.select(F.col("id").alias("entity_id"), "rank_ppb")


PPR_ITERS = 3


def q_ppr_anchored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from the anchored-BFS seed entity — the
    relevance-ranking twin of `kg_entity_distances_anchored`: where the
    BFS reports WHICH entities sit within k hops of the anchor, PPR
    reports HOW MUCH of a random surfer's time (restarting at the
    anchor) each of them absorbs, so multi-path neighbors outrank
    single-edge ones at the same hop count. This is the query behind
    "entities most related to X" panels and anchored KB-completion
    candidate ranking (the reference's demo.md SUPPORTING/MISSING
    Cypher walks are fixed-shape chains; PPR is their weighted
    any-shape generalization).

    Exact integer fixed point (the `kg_entity_pagerank` spec with the
    teleport vector concentrated on the anchor):
      r₀(v)   = SCALE·[v = anchor]
      rₖ₊₁(v) = (15·SCALE DIV 100)·[v = anchor]
                + (85 · Σ_{{u→v}} (rₖ(u) DIV deg(u))) DIV 100
    All floor divisions of non-negative ints — Spark DIV and DuckDB //
    agree bit-for-bit; the oracle unrolls PPR_ITERS rounds as CTEs.

    Scale shape: the rank frame is SPARSE — only vertices within k
    hops of the anchor carry nonzero mass, so each round is
    `kg_entity_pagerank`'s round on the staged adjacency restricted to
    the frontier: ONE frontier⨝adjacency join (each row carries its
    source degree) + aggregate (AQE turns the edge join into a runtime broadcast when
    the frontier is small and degrades to a shuffle join when a hub
    blows the neighborhood up — no forced driver-side broadcast).
    Lineage stays lazy across the PPR_ITERS (3) rounds of
    neighborhood-sized ops; there is no per-round checkpoint. Output
    keeps only nonzero ranks: k-neighborhood-sized, never
    vertex-count-sized."""
    verts = _ent_docs(spark, sf_dir).select(F.col("entity_id").alias("id")).distinct()
    return ppr_anchored(_comention_adj(spark, sf_dir), DIST_ANCHOR, verts)


def ppr_anchored(adj: DataFrame, anchor: str, verts: DataFrame) -> DataFrame:
    """Personalized-PageRank core over an :func:`adjacency` — see
    :func:`q_ppr_anchored` for the spec and scale shape. ``verts(id)``
    is the vertex set."""
    # the anchor row carries all teleport mass; it must exist in verts
    # (an isolated anchor still emits its teleport rank). Every round
    # re-reads it, and the rounds' copies plan as one reused exchange.
    ranks = verts.where(F.col("id") == anchor).select(
        "id", F.lit(_PR_SCALE).cast("long").alias("ppr_ppb")
    )
    anchor_row = ranks.select(
        "id", F.lit(15 * _PR_SCALE // 100).cast("long").alias("ppr_ppb")
    )
    for _ in range(PPR_ITERS):
        # the rank frame holds ONLY nonzero-mass vertices (the anchor's
        # visited neighborhood), so the join's output is neighborhood-
        # sized, never graph-sized. Vertices the oracle computes as
        # exactly 0 (85·s DIV 100 == 0 for s < 2, or never reached)
        # are absent here and filtered there — same output. The edge
        # join is deliberately NOT a forced broadcast: the co-mention
        # graph has no per-vertex degree cap (COMENTION_MAX_ENTITIES
        # caps per-doc pairs, DIST_HUB_DEGREE_CAP only gates BFS
        # pivots), so a frontier near a hub can approach graph size —
        # AQE (on in session.py) converts genuinely small frontiers
        # to runtime broadcasts and degrades to a shuffle join
        # gracefully instead of OOMing the driver.
        contrib = (
            adj.join(ranks.withColumnRenamed("id", "src"), "src")
            .groupBy("dst")
            .agg(F.sum(F.expr("ppr_ppb DIV degree")).alias("s"))
        )
        # no per-round localCheckpoint: unlike the vertex-sized global
        # PageRank frame, lineage here is PPR_ITERS (3) rounds of
        # neighborhood-sized ops — shallow enough to keep lazy, and the
        # per-round broadcast already materializes the frontier
        ranks = (
            contrib.select(
                F.col("dst").alias("id"),
                F.expr("85 * s DIV 100").cast("long").alias("ppr_ppb"),
            )
            .unionByName(anchor_row)
            .groupBy("id")
            .agg(F.sum("ppr_ppb").cast("long").alias("ppr_ppb"))
            .where(F.col("ppr_ppb") > 0)
        )
    return ranks.select(F.col("id").alias("entity_id"), "ppr_ppb")


LABELPROP_ITERS = 3


def _lpa_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id, label) after LABELPROP_ITERS synchronous rounds — shared by
    ``kg_label_propagation`` and ``kg_community_conductance`` so the
    community partition both report is ONE computation, not two that
    could drift."""
    ed = _ent_docs(spark, sf_dir)
    edges = _comention_adj(spark, sf_dir)
    verts = ed.select(F.col("entity_id").alias("id")).distinct().localCheckpoint()
    labels = verts.select("id", F.col("id").alias("label"))
    for _ in range(LABELPROP_ITERS):
        cnts = (
            edges.join(labels, edges["src"] == labels["id"])
            .groupBy("dst", "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        mode = cnts.groupBy("dst").agg(
            F.min_by(
                F.col("label"), F.struct((-F.col("cnt")).alias("nc"), F.col("label"))
            ).alias("nl")
        )
        labels = (
            labels.join(mode, labels["id"] == mode["dst"], "left")
            .select("id", F.coalesce(F.col("nl"), F.col("label")).alias("label"))
            .localCheckpoint()
        )
    return labels


def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection over the entity co-mention graph by
    deterministic synchronous label propagation (Raghavan et al. 2007,
    made oracle-exact): every vertex starts labeled with its own id;
    each round it adopts the MOST FREQUENT label among its neighbors,
    ties broken by smallest label (lexicographic — binary collation in
    both engines), keeping its current label when it has no neighbors.
    Unlike connected components (`kg_canonical_clusters`), LPA splits a
    connected region into densely-linked communities.

    Scale shape per round (same budget as `q_entity_pagerank`): ONE
    edge-scale join + two hash aggregates — the (vertex, label) count
    and the min_by mode pick (no windows); lineage cut per round with
    localCheckpoint. The oracle unrolls LABELPROP_ITERS rounds as CTEs
    with ROW_NUMBER mode-picking — same (cnt DESC, label ASC) order.
    """
    labels = _lpa_labels(spark, sf_dir)
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("community_size"))
    return labels.join(sizes, "label").select(
        F.col("id").alias("entity_id"),
        F.col("label").alias("community"),
        "community_size",
    )


def q_entity_mention_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity mention statistics over the linked mention rows (A4
    analog): occurrences and distinct docs per resolved entity."""
    return (
        _kg(spark, sf_dir)
        .mentions.where(F.col("entity_id").isNotNull())
        .groupBy("entity_id")
        .agg(
            F.count(F.lit(1)).alias("n_mentions"),
            F.count_distinct("doc_id").alias("n_docs"),
        )
    )


# --------------------------------------------------------------------------
# DuckDB oracles — generated from the same constants
# --------------------------------------------------------------------------

#: lemma-key expression for a raw token (oracle side) — same punct class
#: as _base_ctes; hoisted because f-string expressions can't hold the
#: escaped-quote backslash inline
_TURN_KEY_SQL = lemma_token_sql(
    "regexp_replace(token, '[.?,:;''\"!]', '', 'g')"
)

#: SQL-escaped twin of PUNCT_RE ('' = escaped quote inside a SQL string
#: literal) — shared by _base_ctes and the name-variants oracle
_PUNCT_SQL = "[.?,:;''\"!]"


def _base_ctes() -> str:
    """Shared CTE chain: tokens+offsets → mentions → relations → links."""
    punct = _PUNCT_SQL
    return f"""
toks0 AS (
    SELECT CAST(doc_id AS VARCHAR) AS doc,
           unnest(string_split(text, ' ')) AS token,
           unnest(range(len(string_split(text, ' ')))) AS pos
    FROM documents),
toks AS (
    SELECT doc, token, pos,
           {lemma_token_sql(f"regexp_replace(token, '{punct}', '', 'g')")} AS key,
           CAST(COALESCE(SUM(length(token) + 1) OVER (
               PARTITION BY doc ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INT)
               AS begin_ofs
    FROM toks0),
{values_cte("gaz", ["term", "entity_class"], DOC_GAZETTEER)},
mentions AS (
    SELECT doc,
           md5(doc || chr(31) || key) AS mention_id,
           entity_class,
           key AS span,
           begin_ofs,
           CAST(begin_ofs + length(token) AS INT) AS end_ofs,
           pos, key
    FROM toks JOIN gaz ON toks.key = gaz.term),
rels AS (
    SELECT a.doc AS doc,
           a.mention_id AS subject_mention_id,
           'COOCCURS_' || a.entity_class || '_' || b.entity_class AS relation,
           b.mention_id AS object_mention_id,
           CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + b.pos - a.pos) AS confidence
    FROM mentions a JOIN mentions b
      ON a.doc = b.doc AND b.pos > a.pos AND b.pos <= a.pos + {COOCCUR_WINDOW}
     AND a.key <> b.key),
dmen AS (SELECT DISTINCT doc, mention_id, span FROM mentions),
{values_cte("alias_d", ["alias", "entity_id", "prior"], DOC_ALIASES)},
links AS (
    SELECT doc, mention_id, entity_id FROM (
        SELECT d.doc, d.mention_id, a.entity_id,
               ROW_NUMBER() OVER (PARTITION BY d.doc, d.mention_id
                                  ORDER BY a.prior DESC, a.entity_id ASC) AS rn
        FROM dmen d LEFT JOIN alias_d a
          ON d.span = array_to_string(
               [{lemma_token_sql("x")} FOR x IN string_split(a.alias, ' ')], ' ')) z
    WHERE rn = 1),
{values_cte("fact_edges", ["entity_id", "relation", "value"], DOC_FACTS)}
"""


#: DuckDB twin of :func:`_turn_spans` over the ``e`` CTE (shred +
#: enrichment): turn intervals in document coordinates plus the
#: derived per-turn timestamp.
_SPANS_SQL = """spans AS (
  SELECT conv_id, turn_idx, role, ts_s,
         COALESCE(SUM(length(text) + 1)
                  OVER (PARTITION BY conv_id ORDER BY turn_idx
                        ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING), 0) AS st,
         length(text) AS ln
  FROM e)"""


def _kcore_oracle_sql() -> str:
    """Unrolled KCORE_ROUNDS-round peel (the k-means/label-prop CTE
    pattern): each round restricts the symmetric strong-edge frame to
    surviving vertices, computes degrees, and peels sub-K vertices."""
    head = f"""WITH {_base_ctes()},
ent_docs AS (
    SELECT DISTINCT doc, entity_id FROM links WHERE entity_id IS NOT NULL),
dsz AS (SELECT doc, COUNT(*) AS n FROM ent_docs GROUP BY doc),
kept AS (
    SELECT e.doc, e.entity_id FROM ent_docs e
    JOIN dsz ON dsz.doc = e.doc
    WHERE dsz.n <= {COMENTION_MAX_ENTITIES}),
ew AS (
    SELECT a.entity_id AS ea, b.entity_id AS eb,
           CAST(COUNT(*) AS BIGINT) AS w
    FROM kept a JOIN kept b
      ON a.doc = b.doc AND a.entity_id < b.entity_id
    GROUP BY a.entity_id, b.entity_id),
mx AS (SELECT MAX(w) AS mx FROM ew),
e0 AS MATERIALIZED (
    SELECT ea AS u, eb AS v FROM ew, mx
    WHERE w * 100 >= mx * {KCORE_STRONG_PCT}
    UNION ALL
    SELECT eb AS u, ea AS v FROM ew, mx
    WHERE w * 100 >= mx * {KCORE_STRONG_PCT}),
r0 AS MATERIALIZED (SELECT DISTINCT u AS e FROM e0)"""
    parts = [head]
    for i in range(1, KCORE_ROUNDS + 1):
        parts.append(
            f""",
e{i} AS MATERIALIZED (
    SELECT a.u, a.v FROM e0 a
    JOIN r{i - 1} ru ON ru.e = a.u
    JOIN r{i - 1} rv ON rv.e = a.v),
d{i} AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM e{i} GROUP BY u),
p{i} AS MATERIALIZED (
    SELECT r.e FROM r{i - 1} r LEFT JOIN d{i} ON d{i}.u = r.e
    WHERE COALESCE(d{i}.d, 0) < {KCORE_K}),
r{i} AS MATERIALIZED (
    SELECT e FROM r{i - 1} WHERE e NOT IN (SELECT e FROM p{i}))"""
        )
    union = "\nUNION ALL\n".join(
        f"SELECT e AS entity_id, CAST({i} AS INT) AS peel_round FROM p{i}"
        for i in range(1, KCORE_ROUNDS + 1)
    )
    parts.append(
        f"""
SELECT e AS entity_id, CAST(0 AS INT) AS peel_round FROM r{KCORE_ROUNDS}
UNION ALL
{union}"""
    )
    return "".join(parts)


def _clean_sql(predicate: str, fact_join: str) -> str:
    return f"""WITH {_base_ctes()},
obj AS (SELECT DISTINCT mention_id, span FROM mentions)
SELECT r.doc AS doc_id,
       r.subject_mention_id,
       r.relation,
       r.object_mention_id,
       o.span AS object_span,
       l.entity_id,
       f.value AS fact_value,
       r.confidence
FROM rels r
JOIN obj o ON o.mention_id = r.object_mention_id
JOIN links l ON l.doc = r.doc AND l.mention_id = r.subject_mention_id
            AND l.entity_id IS NOT NULL
{fact_join} JOIN fact_edges f
  ON f.entity_id = l.entity_id AND f.relation = r.relation
WHERE {predicate}"""


#: shared coreference-CC CTE chain → ``cc(mention_id, canonical_id)``;
#: appended after ``_base_ctes()`` inside a WITH RECURSIVE. CC runs on
#: the GROUP graph (key/entity nodes), see the kg_canonical_clusters
#: comment below for why mention-level recursion is intractable.
_CC_CTES = """dm AS (SELECT DISTINCT mention_id, key FROM mentions),
lk AS (SELECT DISTINCT mention_id, entity_id FROM links
       WHERE entity_id IS NOT NULL),
kedges AS (
    SELECT DISTINCT 'k:' || m.key AS src, 'e:' || l.entity_id AS dst
    FROM dm m JOIN lk l ON l.mention_id = m.mention_id),
gsym AS (SELECT src, dst FROM kedges
         UNION SELECT dst AS src, src AS dst FROM kedges),
gverts AS (SELECT DISTINCT 'k:' || key AS id FROM dm
           UNION SELECT DISTINCT 'e:' || entity_id AS id FROM lk),
reach(id, comp) AS (
    SELECT id, id FROM gverts
    UNION
    SELECT e.dst, r.comp FROM reach r JOIN gsym e ON e.src = r.id),
gcc AS (SELECT id, MIN(comp) AS gcomp FROM reach GROUP BY id),
mcomp AS (
    SELECT m.mention_id, g.gcomp
    FROM dm m JOIN gcc g ON g.id = 'k:' || m.key),
cc AS (
    SELECT mention_id,
           MIN(mention_id) OVER (PARTITION BY gcomp) AS canonical_id
    FROM mcomp)"""


#: capped undirected co-mention edge CTEs (twin of
#: _comention_und over _ent_docs): ent_docs → dsz → kept → edges
_UND_EDGE_CTES = f"""ent_docs AS MATERIALIZED (
    SELECT DISTINCT doc, entity_id FROM links WHERE entity_id IS NOT NULL),
dsz AS (SELECT doc, COUNT(*) AS n FROM ent_docs GROUP BY doc),
kept AS MATERIALIZED (
    SELECT e.doc, e.entity_id FROM ent_docs e
    JOIN dsz ON dsz.doc = e.doc
    WHERE dsz.n <= {COMENTION_MAX_ENTITIES}),
edges AS MATERIALIZED (
    SELECT DISTINCT a.entity_id AS src, b.entity_id AS dst
    FROM kept a JOIN kept b
      ON a.doc = b.doc AND a.entity_id < b.entity_id)"""

#: synchronous label-propagation chain (twin of _lpa_labels): the
#: capped edges symmetrized, then LABELPROP_ITERS unrolled rounds with
#: ROW_NUMBER mode-picking — final labels in l{LABELPROP_ITERS}
_LPA_CTES = (
    _UND_EDGE_CTES
    + """,
sym AS MATERIALIZED (SELECT src, dst FROM edges UNION ALL SELECT dst AS src, src AS dst FROM edges),
verts AS (SELECT DISTINCT entity_id AS id FROM ent_docs),
l0 AS (SELECT id, id AS label FROM verts)"""
    + "".join(
        f""",
c{k} AS (
    SELECT e.dst AS id, l.label, COUNT(*) AS cnt
    FROM sym e JOIN l{k - 1} l ON l.id = e.src
    GROUP BY e.dst, l.label),
m{k} AS (
    SELECT id, label FROM c{k}
    QUALIFY ROW_NUMBER() OVER (PARTITION BY id
                               ORDER BY cnt DESC, label ASC) = 1),
l{k} AS MATERIALIZED (
    SELECT p.id, COALESCE(m.label, p.label) AS label
    FROM l{k - 1} p LEFT JOIN m{k} m ON m.id = p.id)"""
        for k in range(1, LABELPROP_ITERS + 1)
    )
)


def _rule_ctes(subj_sql: str, obj_sql: str) -> str:
    """Entity-triple → fan-capped rule CTE chain (twin of _rule_body +
    mine_rules aggregates): etriples → okmid → body → nb/sup — shared
    by the rule-mining (global node ids) and rule-prediction
    (conversation-scoped node ids) oracles so both engines' rule
    tables derive from ONE text. MATERIALIZED where referenced
    multiply (DuckDB re-inlines CTE references)."""
    return f"""etriples AS MATERIALIZED (
    SELECT DISTINCT {subj_sql} AS subj,
           'COOCCURS_' || a.entity_class || '_' || b.entity_class AS relation,
           {obj_sql} AS obj
    FROM mentions a
    JOIN mentions b ON a.doc = b.doc AND b.pos > a.pos
                   AND b.pos <= a.pos + {COOCCUR_WINDOW} AND a.key <> b.key
    JOIN links ls ON ls.doc = a.doc AND ls.mention_id = a.mention_id
                 AND ls.entity_id IS NOT NULL
    JOIN links lo ON lo.doc = b.doc AND lo.mention_id = b.mention_id
                 AND lo.entity_id IS NOT NULL),
ind AS (SELECT obj AS mid, CAST(COUNT(*) AS BIGINT) AS ind
        FROM etriples GROUP BY obj),
outd AS (SELECT subj AS mid, CAST(COUNT(*) AS BIGINT) AS outd
         FROM etriples GROUP BY subj),
okmid AS (SELECT i.mid FROM ind i JOIN outd o ON o.mid = i.mid
          WHERE i.ind * o.outd <= {RULE_MID_FAN_CAP}),
body AS MATERIALIZED (
    SELECT DISTINCT t1.relation AS r1, t2.relation AS r2,
           t1.subj AS a, t2.obj AS c
    FROM etriples t1
    JOIN okmid k ON k.mid = t1.obj
    JOIN etriples t2 ON t2.subj = t1.obj
    WHERE t1.subj <> t2.obj),
nb AS (SELECT r1, r2, CAST(COUNT(*) AS BIGINT) AS n_body
       FROM body GROUP BY r1, r2),
sup AS MATERIALIZED (
    SELECT b.r1, b.r2, h.relation AS head_relation,
           CAST(COUNT(*) AS BIGINT) AS support
    FROM body b JOIN etriples h ON h.subj = b.a AND h.obj = b.c
    GROUP BY b.r1, b.r2, h.relation)"""


_RULE_CTES = _rule_ctes("ls.entity_id", "lo.entity_id")
_RULE_CTES_CONV = _rule_ctes(
    "a.doc || chr(31) || ls.entity_id", "b.doc || chr(31) || lo.entity_id"
)


ORACLES: dict[str, str] = {
    "kg_assembly_roundtrip": (
        "SELECT CAST(doc_id AS VARCHAR) AS doc_id, text FROM documents"
    ),
    "kg_mentions": f"""WITH {_base_ctes()}
SELECT doc, mention_id, entity_class, span, begin_ofs, end_ofs FROM mentions""",
    "kg_relations": f"""WITH {_base_ctes()}
SELECT doc, subject_mention_id, relation, object_mention_id, confidence FROM rels""",
    "kg_links": f"""WITH {_base_ctes()}
SELECT doc, mention_id, entity_id FROM links""",
    "kg_triples_by_relation": f"""WITH {_base_ctes()},
bag AS (
    SELECT 'MENTIONS' AS relation FROM mentions
    UNION ALL SELECT relation FROM rels
    UNION ALL SELECT 'LINKS_TO' AS relation FROM links
    UNION ALL SELECT relation FROM fact_edges)
SELECT relation, CAST(COUNT(*) AS BIGINT) AS n FROM bag GROUP BY relation""",
    "kg_supporting": _clean_sql("o.span = f.value", ""),
    "kg_supporting_anchored": _clean_sql(
        f"o.span = f.value AND r.relation = '{ANCHOR_RELATION}'", ""
    ),
    "kg_supporting_confident": _clean_sql(
        f"o.span = f.value AND r.confidence >= {SUPPORT_MIN_CONF}", ""
    ),
    "kg_inconsistent": _clean_sql("o.span <> f.value", ""),
    "kg_missing": _clean_sql("f.value IS NULL", "LEFT"),
    "kg_enrich_facts": f"""WITH {_base_ctes()},
ents AS (SELECT DISTINCT entity_id FROM links WHERE entity_id IS NOT NULL),
{values_cte("efacts", ["entity_id", "property", "value"], ENRICH_FACTS)},
{values_cte("pmap", ["property", "relation"], PROPERTY_RELATION_DOC)}
SELECT e.entity_id, m.relation,
       CASE WHEN f.property IN ('P569', 'P570')
            THEN COALESCE(strftime(try_strptime(f.value, '%Y-%m-%dT%H:%M:%SZ'),
                                   '%Y-%m-%d'), f.value)
            ELSE f.value END AS fact_value
FROM ents e
JOIN efacts f ON f.entity_id = e.entity_id
JOIN pmap m ON m.property = f.property AND m.property <> ''
WHERE f.property IN ('P159', 'P569', 'P570')""",
    # CC is computed on the GROUP graph (key/entity nodes; an edge per
    # (key, entity) realized by some linked mention), NOT on mentions:
    # two mentions are co-referent iff a chain of shared key / entity
    # groups connects them, and any key–entity–key path in the group
    # graph is realized by exactly such mentions, so the partitions are
    # identical. The mention-level recursion kept O(Σ component²)
    # (id, comp) state — with sf0.1's 38k mentions over ~10 lemma keys
    # that is ~1.5·10⁸ dedup rows and the sweep stalled for >25 min; the
    # group graph has tens of nodes at any corpus scale that shares
    # surface forms, and the recursion is instant.
    "kg_canonical_clusters": f"""WITH RECURSIVE {_base_ctes()},
{_CC_CTES}
SELECT canonical_id, CAST(COUNT(*) AS BIGINT) AS n_mentions
FROM cc GROUP BY canonical_id""",
    # ER-apply: relation endpoints rewritten via the same cc map, coref
    # self-loops dropped, provenance counted on the canonical key.
    "kg_canonical_triples": f"""WITH RECURSIVE {_base_ctes()},
{_CC_CTES}
SELECT s.canonical_id AS subj, r.relation, o.canonical_id AS obj,
       CAST(COUNT(DISTINCT r.doc) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_triples
FROM rels r
JOIN cc s ON s.mention_id = r.subject_mention_id
JOIN cc o ON o.mention_id = r.object_mention_id
WHERE s.canonical_id <> o.canonical_id
GROUP BY s.canonical_id, r.relation, o.canonical_id""",
    "kg_entity_degree_hist": f"""WITH {_base_ctes()},
ent_docs AS (
    SELECT DISTINCT doc, entity_id FROM links WHERE entity_id IS NOT NULL),
dsz AS (SELECT doc, COUNT(*) AS n FROM ent_docs GROUP BY doc),
kept AS (
    SELECT e.doc, e.entity_id FROM ent_docs e
    JOIN dsz ON dsz.doc = e.doc
    WHERE dsz.n <= {COMENTION_MAX_ENTITIES}),
edges AS (
    SELECT DISTINCT a.entity_id AS src, b.entity_id AS dst
    FROM kept a JOIN kept b
      ON a.doc = b.doc AND a.entity_id < b.entity_id),
deg AS (
    SELECT e, CAST(COUNT(*) AS BIGINT) AS degree FROM (
      SELECT src AS e FROM edges UNION ALL SELECT dst AS e FROM edges) z
    GROUP BY e)
SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_entities
FROM deg GROUP BY degree""",
    "kg_mention_contexts": f"""WITH {_base_ctes()},
dt AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc, string_split(text, ' ') AS toks
  FROM documents)
SELECT m.doc, m.mention_id, m.key, CAST(m.pos AS INT) AS pos,
       array_to_string(
         toks[GREATEST(m.pos - {CONTEXT_TOKENS}, 0) + 1 :
              LEAST(m.pos + {CONTEXT_TOKENS}, len(toks) - 1) + 1],
         ' ') AS context
FROM mentions m JOIN dt ON dt.doc = m.doc""",
    "kg_adjacency_list": f"""WITH {_base_ctes()},
ent_docs AS (
    SELECT DISTINCT doc, entity_id FROM links WHERE entity_id IS NOT NULL),
dsz AS (SELECT doc, COUNT(*) AS n FROM ent_docs GROUP BY doc),
kept AS (
    SELECT e.doc, e.entity_id FROM ent_docs e
    JOIN dsz ON dsz.doc = e.doc
    WHERE dsz.n <= {COMENTION_MAX_ENTITIES}),
edges AS (
    SELECT DISTINCT a.entity_id AS src, b.entity_id AS dst
    FROM kept a JOIN kept b
      ON a.doc = b.doc AND a.entity_id < b.entity_id),
sym AS (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges)
SELECT src AS entity_id, CAST(COUNT(*) AS BIGINT) AS degree,
       array_to_string(list_sort(list(DISTINCT dst)), ',') AS neighbors
FROM sym GROUP BY src""",
    "kg_entity_comention": f"""WITH {_base_ctes()},
ent_docs AS (
    SELECT DISTINCT doc, entity_id FROM links WHERE entity_id IS NOT NULL),
dsz AS (SELECT doc, COUNT(*) AS n FROM ent_docs GROUP BY doc),
kept AS (
    SELECT e.doc, e.entity_id FROM ent_docs e
    JOIN dsz ON dsz.doc = e.doc
    WHERE dsz.n <= {COMENTION_MAX_ENTITIES})
SELECT a.entity_id AS entity_a, b.entity_id AS entity_b,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM kept a JOIN kept b
  ON a.doc = b.doc AND a.entity_id < b.entity_id
GROUP BY a.entity_id, b.entity_id""",
    "kg_comention_skipped_docs": f"""WITH {_base_ctes()},
ent_docs AS (
    SELECT DISTINCT doc, entity_id FROM links WHERE entity_id IS NOT NULL)
SELECT doc, CAST(COUNT(*) AS BIGINT) AS n_entities
FROM ent_docs GROUP BY doc
HAVING COUNT(*) > {COMENTION_MAX_ENTITIES}""",
    "kg_mention_turn_attribution": f"""WITH {_base_ctes()},
{_SHRED_SQL},
{_ENRICH_SQL},
{_SPANS_SQL}
SELECT m.doc AS conv_id, s.turn_idx, s.role,
       CAST(COUNT(*) AS BIGINT) AS n_mentions
FROM mentions m JOIN spans s ON s.conv_id = m.doc
WHERE m.begin_ofs >= s.st AND m.begin_ofs < s.st + s.ln
GROUP BY m.doc, s.turn_idx, s.role""",
    "kg_entity_kcore": _kcore_oracle_sql(),
    "kg_alias_ambiguity": f"""WITH {_base_ctes()},
al AS (
  SELECT array_to_string(
           [{lemma_token_sql("x")} FOR x IN string_split(alias, ' ')], ' ')
             AS key,
         entity_id, prior
  FROM alias_d),
ent AS (
  SELECT key, entity_id, MAX(prior) AS prior
  FROM al GROUP BY key, entity_id),
rk AS (
  SELECT key, entity_id, prior,
         ROW_NUMBER() OVER (PARTITION BY key
                            ORDER BY prior DESC, entity_id ASC) AS rn
  FROM ent),
agg AS (
  SELECT key, CAST(COUNT(*) AS BIGINT) AS n_candidates
  FROM ent GROUP BY key HAVING COUNT(*) > 1),
b1 AS (SELECT key, entity_id AS best_entity, prior AS p1 FROM rk WHERE rn = 1),
b2 AS (SELECT key, prior AS p2 FROM rk WHERE rn = 2),
mc AS (SELECT key, CAST(COUNT(*) AS BIGINT) AS n_mentions
       FROM mentions GROUP BY key)
SELECT a.key AS alias_key, a.n_candidates, b1.best_entity,
       CAST(floor(b1.p1 * 1000000)
            - floor(COALESCE(b2.p2, 0.0) * 1000000) AS BIGINT) AS margin_ppm,
       COALESCE(mc.n_mentions, 0) AS n_mentions
FROM agg a
JOIN b1 ON b1.key = a.key
LEFT JOIN b2 ON b2.key = a.key
LEFT JOIN mc ON mc.key = a.key""",
    "kg_negative_samples": f"""WITH {_base_ctes()},
t AS (
  SELECT DISTINCT ls.entity_id AS subj_entity,
         'COOCCURS_' || a.entity_class || '_' || b.entity_class AS relation,
         lo.entity_id AS obj_entity
  FROM mentions a
  JOIN mentions b ON a.doc = b.doc AND b.pos > a.pos
                 AND b.pos <= a.pos + {COOCCUR_WINDOW} AND a.key <> b.key
  JOIN links ls ON ls.doc = a.doc AND ls.mention_id = a.mention_id
               AND ls.entity_id IS NOT NULL
  JOIN links lo ON lo.doc = b.doc AND lo.mention_id = b.mention_id
               AND lo.entity_id IS NOT NULL),
ro AS (
  SELECT relation, obj_entity AS neg_obj FROM (
    SELECT relation, obj_entity,
           ROW_NUMBER() OVER (
             PARTITION BY relation
             ORDER BY md5(relation || chr(31) || obj_entity), obj_entity) AS rn
    FROM (SELECT DISTINCT relation, obj_entity FROM t) z) y
  WHERE rn <= {NEG_REL_OBJ_CAP}),
cand AS (
  SELECT t.subj_entity, t.relation, t.obj_entity, ro.neg_obj
  FROM t JOIN ro ON ro.relation = t.relation
              AND ro.neg_obj <> t.obj_entity)
SELECT subj_entity, relation, obj_entity, neg_obj,
       CAST(rn AS INT) AS neg_rank
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY subj_entity, relation, obj_entity
    ORDER BY md5(subj_entity || chr(31) || relation || chr(31)
                 || obj_entity || chr(31) || neg_obj), neg_obj) AS rn
  FROM cand) z
WHERE rn <= {NEG_PER_TRIPLE}""",
    "kg_entity_bursts": f"""WITH {_base_ctes()},
{_SHRED_SQL},
{_ENRICH_SQL},
{_SPANS_SQL},
obs AS (
  SELECT l.entity_id, s.ts_s // {BURST_BUCKET_S} AS bucket
  FROM mentions m
  JOIN links l ON l.doc = m.doc AND l.mention_id = m.mention_id
              AND l.entity_id IS NOT NULL
  JOIN spans s ON s.conv_id = m.doc
             AND m.begin_ofs >= s.st AND m.begin_ofs < s.st + s.ln),
cnt AS (
  SELECT entity_id, bucket, CAST(COUNT(*) AS BIGINT) AS c
  FROM obs GROUP BY entity_id, bucket),
mom AS (
  SELECT entity_id, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(c) AS BIGINT) AS s,
         CAST(SUM(c * c) AS BIGINT) AS ss
  FROM cnt GROUP BY entity_id)
SELECT cnt.entity_id, cnt.bucket, cnt.c
FROM cnt JOIN mom ON mom.entity_id = cnt.entity_id
WHERE (mom.n * cnt.c - mom.s) > 0
  AND (mom.n * cnt.c - mom.s) * (mom.n * cnt.c - mom.s)
      > {BURST_SIGMA2} * (mom.n * mom.ss - mom.s * mom.s)""",
    "kg_entity_role_profile": f"""WITH {_base_ctes()},
{_SHRED_SQL},
{_ENRICH_SQL},
{_SPANS_SQL}
SELECT l.entity_id, s.role,
       CAST(COUNT(*) AS BIGINT) AS n_mentions,
       CAST(COUNT(DISTINCT m.doc) AS BIGINT) AS n_convs
FROM mentions m
JOIN links l ON l.doc = m.doc AND l.mention_id = m.mention_id
            AND l.entity_id IS NOT NULL
JOIN spans s ON s.conv_id = m.doc
           AND m.begin_ofs >= s.st AND m.begin_ofs < s.st + s.ln
GROUP BY l.entity_id, s.role""",
    "kg_entity_timeline": f"""WITH {_base_ctes()},
{_SHRED_SQL},
{_ENRICH_SQL},
{_SPANS_SQL}
SELECT l.entity_id,
       MIN(s.ts_s) AS first_ts_s,
       MAX(s.ts_s) AS last_ts_s,
       CAST(COUNT(*) AS BIGINT) AS n_mentions,
       CAST(COUNT(DISTINCT m.doc) AS BIGINT) AS n_convs
FROM mentions m
JOIN links l ON l.doc = m.doc AND l.mention_id = m.mention_id
            AND l.entity_id IS NOT NULL
JOIN spans s ON s.conv_id = m.doc
           AND m.begin_ofs >= s.st AND m.begin_ofs < s.st + s.ln
GROUP BY l.entity_id""",
    "kg_entity_salience": f"""WITH {_base_ctes()},
{_SHRED_SQL},
{_ENRICH_SQL},
{_SPANS_SQL},
agg AS (
  SELECT m.doc AS conv_id, l.entity_id,
         CAST(COUNT(*) AS BIGINT) AS n_mentions,
         CAST(MIN(m.pos) AS BIGINT) AS first_pos
  FROM mentions m
  JOIN links l ON l.doc = m.doc AND l.mention_id = m.mention_id
              AND l.entity_id IS NOT NULL
  JOIN spans s ON s.conv_id = m.doc
             AND m.begin_ofs >= s.st AND m.begin_ofs < s.st + s.ln
  GROUP BY m.doc, l.entity_id)
SELECT conv_id, entity_id, n_mentions, first_pos,
       CAST((1000000 * n_mentions) // (first_pos + 10) AS BIGINT)
           AS salience_ppm
FROM agg""",
    "kg_triple_temporal": f"""WITH {_base_ctes()},
{_SHRED_SQL},
{_ENRICH_SQL},
{_SPANS_SQL}
SELECT ls.entity_id AS subj_entity,
       'COOCCURS_' || a.entity_class || '_' || b.entity_class AS relation,
       lo.entity_id AS obj_entity,
       MIN(s.ts_s) AS first_ts_s,
       MAX(s.ts_s) AS last_ts_s,
       CAST(COUNT(*) AS BIGINT) AS n_obs
FROM mentions a
JOIN mentions b ON a.doc = b.doc AND b.pos > a.pos
               AND b.pos <= a.pos + {COOCCUR_WINDOW} AND a.key <> b.key
JOIN links ls ON ls.doc = a.doc AND ls.mention_id = a.mention_id
             AND ls.entity_id IS NOT NULL
JOIN links lo ON lo.doc = b.doc AND lo.mention_id = b.mention_id
             AND lo.entity_id IS NOT NULL
JOIN spans s ON s.conv_id = a.doc
           AND a.begin_ofs >= s.st AND a.begin_ofs < s.st + s.ln
GROUP BY ls.entity_id, relation, lo.entity_id""",
    "kg_conv_novelty": f"""WITH {_base_ctes()},
{_SHRED_SQL},
{_ENRICH_SQL},
{_SPANS_SQL},
o AS (
  SELECT a.doc AS conv_id, ls.entity_id AS subj,
         'COOCCURS_' || a.entity_class || '_' || b.entity_class AS relation,
         lo.entity_id AS obj,
         MIN(s.ts_s) AS first_ts
  FROM mentions a
  JOIN mentions b ON a.doc = b.doc AND b.pos > a.pos
                 AND b.pos <= a.pos + {COOCCUR_WINDOW} AND a.key <> b.key
  JOIN links ls ON ls.doc = a.doc AND ls.mention_id = a.mention_id
               AND ls.entity_id IS NOT NULL
  JOIN links lo ON lo.doc = b.doc AND lo.mention_id = b.mention_id
               AND lo.entity_id IS NOT NULL
  JOIN spans s ON s.conv_id = a.doc
             AND a.begin_ofs >= s.st AND a.begin_ofs < s.st + s.ln
  GROUP BY a.doc, ls.entity_id, relation, lo.entity_id),
fst AS (
  SELECT conv_id FROM (
    SELECT conv_id,
           ROW_NUMBER() OVER (PARTITION BY subj, relation, obj
                              ORDER BY first_ts, conv_id) AS rn
    FROM o) z
  WHERE rn = 1),
nv AS (SELECT conv_id, COUNT(*) AS n_novel FROM fst GROUP BY conv_id),
per AS (SELECT conv_id, COUNT(*) AS n_triples FROM o GROUP BY conv_id)
SELECT p.conv_id, CAST(p.n_triples AS BIGINT) AS n_triples,
       CAST(COALESCE(nv.n_novel, 0) AS BIGINT) AS n_novel,
       CAST(COALESCE(nv.n_novel, 0) * 1000000 // p.n_triples AS BIGINT)
         AS novelty_ppm
FROM per p LEFT JOIN nv ON nv.conv_id = p.conv_id""",
    "kg_comention_pmi": f"""WITH {_base_ctes()},
ent_docs AS (
    SELECT DISTINCT doc, entity_id FROM links WHERE entity_id IS NOT NULL),
dsz AS (SELECT doc, COUNT(*) AS n FROM ent_docs GROUP BY doc),
kept AS (
    SELECT e.doc, e.entity_id FROM ent_docs e
    JOIN dsz ON dsz.doc = e.doc
    WHERE dsz.n <= {COMENTION_MAX_ENTITIES}),
pairs AS (
    SELECT a.entity_id AS entity_a, b.entity_id AS entity_b,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM kept a JOIN kept b
      ON a.doc = b.doc AND a.entity_id < b.entity_id
    GROUP BY a.entity_id, b.entity_id),
marg AS (SELECT entity_id, CAST(COUNT(*) AS BIGINT) AS c
         FROM kept GROUP BY entity_id),
nt AS (SELECT CAST(COUNT(DISTINCT doc) AS BIGINT) AS n_total FROM kept)
SELECT p.entity_a, p.entity_b, p.n_docs,
       CAST(length(bin(p.n_docs * nt.n_total))
          - length(bin(ma.c * mb.c)) AS BIGINT) AS pmi_bits
FROM pairs p
JOIN marg ma ON ma.entity_id = p.entity_a
JOIN marg mb ON mb.entity_id = p.entity_b
CROSS JOIN nt""",
    "kg_entity_triangles": f"""WITH {_base_ctes()},
ent_docs AS (
    SELECT DISTINCT doc, entity_id FROM links WHERE entity_id IS NOT NULL),
dsz AS (SELECT doc, COUNT(*) AS n FROM ent_docs GROUP BY doc),
kept AS (
    SELECT e.doc, e.entity_id FROM ent_docs e
    JOIN dsz ON dsz.doc = e.doc
    WHERE dsz.n <= {COMENTION_MAX_ENTITIES}),
edges AS (
    SELECT DISTINCT a.entity_id AS src, b.entity_id AS dst
    FROM kept a JOIN kept b
      ON a.doc = b.doc AND a.entity_id < b.entity_id),
tri AS (
    SELECT e1.src AS x, e1.dst AS y, e2.dst AS z
    FROM edges e1
    JOIN edges e2 ON e2.src = e1.dst
    JOIN edges e3 ON e3.src = e1.src AND e3.dst = e2.dst),
corners AS (
    SELECT x AS entity_id FROM tri
    UNION ALL SELECT y FROM tri
    UNION ALL SELECT z FROM tri)
SELECT entity_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM corners GROUP BY entity_id""",
    "kg_neighbor_jaccard": f"""WITH {_base_ctes()},
ent_docs AS (
    SELECT DISTINCT doc, entity_id FROM links WHERE entity_id IS NOT NULL),
dsz AS (SELECT doc, COUNT(*) AS n FROM ent_docs GROUP BY doc),
kept AS (
    SELECT e.doc, e.entity_id FROM ent_docs e
    JOIN dsz ON dsz.doc = e.doc
    WHERE dsz.n <= {COMENTION_MAX_ENTITIES}),
edges AS (
    SELECT DISTINCT a.entity_id AS src, b.entity_id AS dst
    FROM kept a JOIN kept b
      ON a.doc = b.doc AND a.entity_id < b.entity_id),
adj AS (SELECT src, dst FROM edges
        UNION ALL SELECT dst AS src, src AS dst FROM edges),
deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM adj GROUP BY src),
wadj AS (
    SELECT a.src, a.dst FROM adj a
    JOIN deg d ON d.src = a.dst WHERE d.deg <= {JACCARD_HUB_CAP}),
common AS (
    SELECT a.src AS x, b.src AS y, CAST(COUNT(*) AS BIGINT) AS common_neighbors
    FROM wadj a JOIN wadj b ON a.dst = b.dst AND a.src < b.src
    GROUP BY a.src, b.src)
SELECT c.x AS entity_a, c.y AS entity_b, c.common_neighbors,
       da.deg AS deg_a, db.deg AS deg_b,
       CAST(c.common_neighbors * 1000000
          // (da.deg + db.deg - c.common_neighbors) AS BIGINT) AS jaccard_ppm
FROM common c
JOIN deg da ON da.src = c.x
JOIN deg db ON db.src = c.y""",
    "kg_entity_hits": _hits_oracle_sql(),
    "kg_truth_discovery": _truth_oracle_sql(),
    "kg_rdf_ntriples": f"""WITH RECURSIVE {_base_ctes()},
{_CC_CTES},
ct AS (
    SELECT s.canonical_id AS subj, r.relation, o.canonical_id AS obj
    FROM rels r
    JOIN cc s ON s.mention_id = r.subject_mention_id
    JOIN cc o ON o.mention_id = r.object_mention_id
    WHERE s.canonical_id <> o.canonical_id
    GROUP BY s.canonical_id, r.relation, o.canonical_id)
SELECT '<{_RDF_BASE}/entity/'
       || replace(replace(subj, '"', '%22'), '`', '%60')
       || '> <{_RDF_BASE}/relation/' || relation
       || '> <{_RDF_BASE}/entity/'
       || replace(replace(obj, '"', '%22'), '`', '%60')
       || '> .' AS ntriple
FROM ct""",
    "kg_entity_summary": f"""WITH {_base_ctes()},
obs AS (
    SELECT ls.entity_id AS subj_entity,
           'COOCCURS_' || a.entity_class || '_' || b.entity_class AS relation,
           lo.entity_id AS obj_entity,
           CAST(COUNT(*) AS BIGINT) AS n_obs
    FROM mentions a
    JOIN mentions b ON a.doc = b.doc AND b.pos > a.pos
                   AND b.pos <= a.pos + {COOCCUR_WINDOW} AND a.key <> b.key
    JOIN links ls ON ls.doc = a.doc AND ls.mention_id = a.mention_id
                 AND ls.entity_id IS NOT NULL
    JOIN links lo ON lo.doc = b.doc AND lo.mention_id = b.mention_id
                 AND lo.entity_id IS NOT NULL
    GROUP BY ls.entity_id, relation, lo.entity_id),
rk AS (
    SELECT subj_entity, relation, obj_entity, n_obs,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY subj_entity
               ORDER BY n_obs DESC, relation ASC, obj_entity ASC) AS INT)
               AS fact_rank
    FROM obs)
SELECT subj_entity, relation, obj_entity, n_obs, fact_rank
FROM rk WHERE fact_rank <= {ENTITY_SUMMARY_K}""",
    "kg_snapshot_asof": f"""WITH {_base_ctes()},
{_SHRED_SQL},
{_ENRICH_SQL},
{_SPANS_SQL},
tt AS (
    SELECT ls.entity_id AS subj_entity,
           'COOCCURS_' || a.entity_class || '_' || b.entity_class AS relation,
           lo.entity_id AS obj_entity,
           MIN(s.ts_s) AS first_ts_s,
           MAX(s.ts_s) AS last_ts_s,
           CAST(COUNT(*) AS BIGINT) AS n_obs
    FROM mentions a
    JOIN mentions b ON a.doc = b.doc AND b.pos > a.pos
                   AND b.pos <= a.pos + {COOCCUR_WINDOW} AND a.key <> b.key
    JOIN links ls ON ls.doc = a.doc AND ls.mention_id = a.mention_id
                 AND ls.entity_id IS NOT NULL
    JOIN links lo ON lo.doc = b.doc AND lo.mention_id = b.mention_id
                 AND lo.entity_id IS NOT NULL
    JOIN spans s ON s.conv_id = a.doc
               AND a.begin_ofs >= s.st AND a.begin_ofs < s.st + s.ln
    GROUP BY ls.entity_id, relation, lo.entity_id),
bd AS (SELECT MIN(first_ts_s) AS gmin, MAX(last_ts_s) AS gmax FROM tt)
SELECT subj_entity, relation, obj_entity, first_ts_s, last_ts_s, n_obs,
       CAST((gmin + gmax) // 2 AS BIGINT) AS asof_ts_s
FROM tt, bd
WHERE first_ts_s <= (gmin + gmax) // 2
  AND (gmin + gmax) // 2 <= last_ts_s""",
    "kg_snapshot_diff": f"""WITH {_base_ctes()},
{_SHRED_SQL},
{_ENRICH_SQL},
{_SPANS_SQL},
tt AS (
    SELECT ls.entity_id AS subj_entity,
           'COOCCURS_' || a.entity_class || '_' || b.entity_class AS relation,
           lo.entity_id AS obj_entity,
           MIN(s.ts_s) AS first_ts_s,
           MAX(s.ts_s) AS last_ts_s
    FROM mentions a
    JOIN mentions b ON a.doc = b.doc AND b.pos > a.pos
                   AND b.pos <= a.pos + {COOCCUR_WINDOW} AND a.key <> b.key
    JOIN links ls ON ls.doc = a.doc AND ls.mention_id = a.mention_id
                 AND ls.entity_id IS NOT NULL
    JOIN links lo ON lo.doc = b.doc AND lo.mention_id = b.mention_id
                 AND lo.entity_id IS NOT NULL
    JOIN spans s ON s.conv_id = a.doc
               AND a.begin_ofs >= s.st AND a.begin_ofs < s.st + s.ln
    GROUP BY ls.entity_id, relation, lo.entity_id),
bd AS (SELECT MIN(first_ts_s) AS gmin, MAX(last_ts_s) AS gmax FROM tt),
fl AS (
  SELECT relation,
         CASE WHEN first_ts_s <= gmin + (gmax - gmin) // 4
               AND gmin + (gmax - gmin) // 4 <= last_ts_s
              THEN 1 ELSE 0 END AS at1,
         CASE WHEN first_ts_s <= gmin + ((gmax - gmin) * 3) // 4
               AND gmin + ((gmax - gmin) * 3) // 4 <= last_ts_s
              THEN 1 ELSE 0 END AS at2
  FROM tt, bd)
SELECT relation,
       CAST(SUM(CASE WHEN at1 = 0 AND at2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_added,
       CAST(SUM(CASE WHEN at1 = 1 AND at2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_removed,
       CAST(SUM(CASE WHEN at1 = 1 AND at2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_kept,
       CAST(COUNT(*) AS BIGINT) AS n_triples_ever
FROM fl GROUP BY relation""",
    "kg_reciprocity": f"""WITH {_base_ctes()},
etriples AS (
    SELECT DISTINCT ls.entity_id AS subj,
           'COOCCURS_' || a.entity_class || '_' || b.entity_class AS relation,
           lo.entity_id AS obj
    FROM mentions a
    JOIN mentions b ON a.doc = b.doc AND b.pos > a.pos
                   AND b.pos <= a.pos + {COOCCUR_WINDOW} AND a.key <> b.key
    JOIN links ls ON ls.doc = a.doc AND ls.mention_id = a.mention_id
                 AND ls.entity_id IS NOT NULL
    JOIN links lo ON lo.doc = b.doc AND lo.mention_id = b.mention_id
                 AND lo.entity_id IS NOT NULL),
p AS (SELECT DISTINCT subj AS ps, obj AS po FROM etriples)
SELECT relation,
       CAST(COUNT(*) AS BIGINT) AS n_triples,
       CAST(SUM(CASE WHEN p.ps IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_reciprocal,
       CAST(SUM(CASE WHEN p.ps IS NOT NULL THEN 1 ELSE 0 END) * 1000000
            // COUNT(*) AS BIGINT) AS reciprocity_ppm
FROM etriples t LEFT JOIN p ON p.ps = t.obj AND p.po = t.subj
GROUP BY relation""",
    "stream_turn_triples": f"""WITH {_SHRED_SQL},
tok AS (
  SELECT conv_id, turn_idx,
         unnest(string_split(text, ' ')) AS token,
         unnest(range(len(string_split(text, ' ')))) AS pos
  FROM turns),
keyed AS (
  SELECT conv_id, turn_idx, CAST(pos AS INT) AS pos,
         {_TURN_KEY_SQL} AS key
  FROM tok),
{values_cte("gaz", ["term", "entity_class"], DOC_GAZETTEER)},
m AS (
  SELECT conv_id, turn_idx, pos, key, entity_class AS cls
  FROM keyed JOIN gaz ON keyed.key = gaz.term)
SELECT a.conv_id, CAST(a.turn_idx AS INT) AS turn_idx,
       a.key AS subj_key,
       'COOCCURS_' || a.cls || '_' || b.cls AS relation,
       b.key AS obj_key,
       CAST(a.pos AS INT) AS a_pos, CAST(b.pos AS INT) AS b_pos
FROM m a JOIN m b
  ON a.conv_id = b.conv_id AND a.turn_idx = b.turn_idx
 AND b.pos > a.pos AND b.pos <= a.pos + {COOCCUR_WINDOW}
 AND a.key <> b.key""",
    "stream_entity_links": f"""WITH {_SHRED_SQL},
tok AS (
  SELECT conv_id, turn_idx,
         unnest(string_split(text, ' ')) AS token
  FROM turns),
keyed AS (
  SELECT conv_id, turn_idx, {_TURN_KEY_SQL} AS key
  FROM tok),
{values_cte("gaz", ["term", "entity_class"], DOC_GAZETTEER)},
dk AS (
  SELECT DISTINCT conv_id, CAST(turn_idx AS INT) AS turn_idx, key
  FROM keyed JOIN gaz ON keyed.key = gaz.term),
{values_cte("alias_d", ["alias", "entity_id", "prior"], DOC_ALIASES)},
ak AS (
  SELECT array_to_string(
           [{lemma_token_sql("x")} FOR x IN string_split(alias, ' ')],
           ' ') AS key,
         entity_id, prior
  FROM alias_d),
winner AS (
  SELECT key, entity_id FROM ak
  QUALIFY ROW_NUMBER() OVER (PARTITION BY key
                             ORDER BY prior DESC, entity_id ASC) = 1)
SELECT dk.conv_id, dk.turn_idx, dk.key, w.entity_id
FROM dk JOIN winner w ON w.key = dk.key""",
    "kg_provenance_bundle": f"""WITH RECURSIVE {_base_ctes()},
{_CC_CTES}
SELECT s.canonical_id AS subj, r.relation, o.canonical_id AS obj,
       CAST(COUNT(DISTINCT r.doc) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_obs,
       MAX(r.confidence) AS best_confidence,
       array_to_string(list_sort(list(DISTINCT r.doc)), ',') AS evidence_docs
FROM rels r
JOIN cc s ON s.mention_id = r.subject_mention_id
JOIN cc o ON o.mention_id = r.object_mention_id
WHERE s.canonical_id <> o.canonical_id
GROUP BY s.canonical_id, r.relation, o.canonical_id""",
    "kg_relation_trend": f"""WITH {_base_ctes()},
{_SHRED_SQL},
{_ENRICH_SQL},
{_SPANS_SQL},
obs AS (
    SELECT 'COOCCURS_' || a.entity_class || '_' || b.entity_class AS relation,
           s.ts_s
    FROM mentions a
    JOIN mentions b ON a.doc = b.doc AND b.pos > a.pos
                   AND b.pos <= a.pos + {COOCCUR_WINDOW} AND a.key <> b.key
    JOIN links ls ON ls.doc = a.doc AND ls.mention_id = a.mention_id
                 AND ls.entity_id IS NOT NULL
    JOIN links lo ON lo.doc = b.doc AND lo.mention_id = b.mention_id
                 AND lo.entity_id IS NOT NULL
    JOIN spans s ON s.conv_id = a.doc
               AND a.begin_ofs >= s.st AND a.begin_ofs < s.st + s.ln),
mm AS (SELECT MIN(ts_s) AS ts_min, MAX(ts_s) AS ts_max FROM obs),
fl AS (
    SELECT relation,
           CASE WHEN ts_s * 2 <= ts_min + ts_max THEN 1 ELSE 0 END AS is_early
    FROM obs, mm)
SELECT relation,
       CAST(SUM(is_early) AS BIGINT) AS n_early,
       CAST(SUM(1 - is_early) AS BIGINT) AS n_late,
       CAST(SUM(1 - is_early) * 1000000
          // (SUM(is_early) + SUM(1 - is_early)) AS BIGINT) AS late_share_ppm
FROM fl GROUP BY relation""",
    "kg_incremental_triples": f"""WITH {_base_ctes()},
ep AS (
    SELECT CAST(a.doc AS BIGINT) AS cid,
           ls.entity_id AS subj,
           'COOCCURS_' || a.entity_class || '_' || b.entity_class AS relation,
           lo.entity_id AS obj
    FROM mentions a
    JOIN mentions b ON a.doc = b.doc AND b.pos > a.pos
                   AND b.pos <= a.pos + {COOCCUR_WINDOW} AND a.key <> b.key
    JOIN links ls ON ls.doc = a.doc AND ls.mention_id = a.mention_id
                 AND ls.entity_id IS NOT NULL
    JOIN links lo ON lo.doc = b.doc AND lo.mention_id = b.mention_id
                 AND lo.entity_id IS NOT NULL),
batch AS (SELECT DISTINCT subj, relation, obj FROM ep
          WHERE cid % {KG_INGEST_SPLIT_MOD} = 0),
base AS (SELECT DISTINCT subj, relation, obj FROM ep
         WHERE cid % {KG_INGEST_SPLIT_MOD} <> 0)
SELECT b.subj, b.relation, b.obj,
       CAST(CASE WHEN s.subj IS NULL THEN 0 ELSE 1 END AS INT)
           AS already_known
FROM batch b
LEFT JOIN base s ON s.subj = b.subj AND s.relation = b.relation
                AND s.obj = b.obj""",
    "kg_nil_entities": f"""WITH {_base_ctes()},
nil AS (
    SELECT doc, mention_id FROM links WHERE entity_id IS NULL)
SELECT m.key,
       md5('NIL:' || m.key) AS nil_entity_id,
       CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       CAST(COUNT(DISTINCT m.doc) AS BIGINT) AS n_docs
FROM mentions m
JOIN nil ON nil.doc = m.doc AND nil.mention_id = m.mention_id
GROUP BY m.key""",
    "kg_relation_signature": f"""WITH {_base_ctes()},
etriples AS (
    SELECT DISTINCT ls.entity_id AS subj,
           'COOCCURS_' || a.entity_class || '_' || b.entity_class AS relation,
           lo.entity_id AS obj
    FROM mentions a
    JOIN mentions b ON a.doc = b.doc AND b.pos > a.pos
                   AND b.pos <= a.pos + {COOCCUR_WINDOW} AND a.key <> b.key
    JOIN links ls ON ls.doc = a.doc AND ls.mention_id = a.mention_id
                 AND ls.entity_id IS NOT NULL
    JOIN links lo ON lo.doc = b.doc AND lo.mention_id = b.mention_id
                 AND lo.entity_id IS NOT NULL)
SELECT relation,
       CAST(COUNT(*) AS BIGINT) AS n_triples,
       CAST(COUNT(DISTINCT subj) AS BIGINT) AS n_subjects,
       CAST(COUNT(DISTINCT obj) AS BIGINT) AS n_objects,
       CAST(COUNT(DISTINCT subj) * 1000000 // COUNT(*) AS BIGINT)
           AS functionality_ppm,
       CAST(COUNT(DISTINCT obj) * 1000000 // COUNT(*) AS BIGINT)
           AS inv_functionality_ppm
FROM etriples GROUP BY relation""",
    "kg_rule_mining": f"""WITH {_base_ctes()},
{_RULE_CTES}
SELECT s.r1 AS body_r1, s.r2 AS body_r2, s.head_relation,
       n.n_body, s.support,
       CAST(s.support * 1000000 // n.n_body AS BIGINT) AS conf_ppm
FROM sup s JOIN nb n ON n.r1 = s.r1 AND n.r2 = s.r2""",
    "kg_rule_predictions": f"""WITH {_base_ctes()},
{_RULE_CTES_CONV},
rules AS (
    SELECT s.r1, s.r2, s.head_relation,
           CAST(s.support * 1000000 // n.n_body AS BIGINT) AS conf_ppm
    FROM sup s JOIN nb n ON n.r1 = s.r1 AND n.r2 = s.r2
    WHERE s.support * 1000000 // n.n_body >= {RULE_PRED_MIN_CONF_PPM}
      AND n.n_body >= {RULE_PRED_MIN_BODY}),
cand AS (
    SELECT b.a, r.head_relation, b.c, r.conf_ppm
    FROM body b JOIN rules r ON r.r1 = b.r1 AND r.r2 = b.r2),
missing AS (
    SELECT * FROM cand
    WHERE NOT EXISTS (SELECT 1 FROM etriples t
                      WHERE t.subj = cand.a
                        AND t.relation = cand.head_relation
                        AND t.obj = cand.c))
SELECT split_part(a, chr(31), 1) AS conv_id,
       split_part(a, chr(31), 2) AS subj_entity,
       head_relation AS relation,
       split_part(c, chr(31), 2) AS obj_entity,
       CAST(COUNT(*) AS BIGINT) AS n_rules,
       CAST(MAX(conf_ppm) AS BIGINT) AS best_conf_ppm
FROM missing GROUP BY a, head_relation, c""",
    "kg_blocking_quality": f"""WITH {_base_ctes()},
occ AS (SELECT doc, mention_id, key FROM mentions),
j AS (
    SELECT o.key, l.entity_id
    FROM occ o LEFT JOIN links l
      ON l.doc = o.doc AND l.mention_id = o.mention_id),
base AS (
    SELECT key AS block_key,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(SUM(CASE WHEN entity_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_linked,
           CAST(COUNT(DISTINCT entity_id) AS BIGINT) AS n_entities
    FROM j GROUP BY key),
ec AS (
    SELECT key AS block_key, entity_id, COUNT(*) AS cnt
    FROM j WHERE entity_id IS NOT NULL GROUP BY key, entity_id),
top AS (
    SELECT block_key, entity_id AS top_entity, cnt FROM ec
    QUALIFY ROW_NUMBER() OVER (PARTITION BY block_key
                               ORDER BY cnt DESC, entity_id ASC) = 1)
SELECT b.block_key, b.n_occurrences, b.n_linked, b.n_entities,
       t.top_entity,
       CAST(CASE WHEN b.n_linked > 0 THEN t.cnt * 1000000 // b.n_linked
                 ELSE 0 END AS BIGINT) AS purity_ppm
FROM base b LEFT JOIN top t ON t.block_key = b.block_key""",
    "kg_entity_pagerank": f"""WITH {_base_ctes()},
ent_docs AS (
    SELECT DISTINCT doc, entity_id FROM links WHERE entity_id IS NOT NULL),
dsz AS (SELECT doc, COUNT(*) AS n FROM ent_docs GROUP BY doc),
kept AS (
    SELECT e.doc, e.entity_id FROM ent_docs e
    JOIN dsz ON dsz.doc = e.doc
    WHERE dsz.n <= {COMENTION_MAX_ENTITIES}),
und AS (
    SELECT DISTINCT a.entity_id AS src, b.entity_id AS dst
    FROM kept a JOIN kept b
      ON a.doc = b.doc AND a.entity_id < b.entity_id),
edges AS (SELECT src, dst FROM und UNION ALL SELECT dst AS src, src AS dst FROM und),
verts AS (SELECT DISTINCT entity_id AS id FROM ent_docs),
nn AS (SELECT COUNT(*) AS n FROM verts),
deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
r0 AS (SELECT id, {_PR_SCALE} // (SELECT n FROM nn) AS rank_ppb FROM verts)"""
    + "".join(
        f""",
s{k} AS (
    SELECT e.dst, SUM(r.rank_ppb // d.deg) AS s
    FROM edges e
    JOIN r{k - 1} r ON r.id = e.src
    JOIN deg d ON d.src = e.src
    GROUP BY e.dst),
r{k} AS (
    SELECT v.id,
           ({15 * _PR_SCALE // 100} // (SELECT n FROM nn))
             + (85 * COALESCE(s.s, 0)) // 100 AS rank_ppb
    FROM verts v LEFT JOIN s{k} s ON s.dst = v.id)"""
        for k in range(1, PAGERANK_ITERS + 1)
    )
    + f"""
SELECT id AS entity_id, CAST(rank_ppb AS BIGINT) AS rank_ppb
FROM r{PAGERANK_ITERS}""",
    "kg_ppr_anchored": f"""WITH {_base_ctes()},
ent_docs AS (
    SELECT DISTINCT doc, entity_id FROM links WHERE entity_id IS NOT NULL),
dsz AS (SELECT doc, COUNT(*) AS n FROM ent_docs GROUP BY doc),
kept AS (
    SELECT e.doc, e.entity_id FROM ent_docs e
    JOIN dsz ON dsz.doc = e.doc
    WHERE dsz.n <= {COMENTION_MAX_ENTITIES}),
und AS (
    SELECT DISTINCT a.entity_id AS src, b.entity_id AS dst
    FROM kept a JOIN kept b
      ON a.doc = b.doc AND a.entity_id < b.entity_id),
edges AS (SELECT src, dst FROM und UNION ALL SELECT dst AS src, src AS dst FROM und),
verts AS (SELECT DISTINCT entity_id AS id FROM ent_docs),
deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
p0 AS (SELECT id, CASE WHEN id = '{DIST_ANCHOR}' THEN {_PR_SCALE} ELSE 0 END AS ppr_ppb
       FROM verts)"""
    + "".join(
        f""",
ps{k} AS (
    SELECT e.dst, SUM(r.ppr_ppb // d.deg) AS s
    FROM edges e
    JOIN p{k - 1} r ON r.id = e.src
    JOIN deg d ON d.src = e.src
    GROUP BY e.dst),
p{k} AS (
    SELECT v.id,
           CASE WHEN v.id = '{DIST_ANCHOR}' THEN {15 * _PR_SCALE // 100} ELSE 0 END
             + (85 * COALESCE(s.s, 0)) // 100 AS ppr_ppb
    FROM verts v LEFT JOIN ps{k} s ON s.dst = v.id)"""
        for k in range(1, PPR_ITERS + 1)
    )
    + f"""
SELECT id AS entity_id, CAST(ppr_ppb AS BIGINT) AS ppr_ppb
FROM p{PPR_ITERS} WHERE ppr_ppb > 0""",
    "kg_entity_mention_counts": f"""WITH {_base_ctes()},
men_edges AS (SELECT DISTINCT doc, mention_id FROM mentions),
linked AS (
    SELECT m.doc, m.mention_id, l.entity_id
    FROM mentions m JOIN links l
      ON l.doc = m.doc AND l.mention_id = m.mention_id
   WHERE l.entity_id IS NOT NULL)
SELECT entity_id,
       CAST(COUNT(*) AS BIGINT) AS n_mentions,
       CAST(COUNT(DISTINCT doc) AS BIGINT) AS n_docs
FROM linked GROUP BY entity_id""",
    "kg_label_propagation": f"""WITH {_base_ctes()},
{_LPA_CTES}
SELECT l.id AS entity_id, l.label AS community,
       CAST(s.community_size AS BIGINT) AS community_size
FROM l{LABELPROP_ITERS} l
JOIN (SELECT label, COUNT(*) AS community_size
      FROM l{LABELPROP_ITERS} GROUP BY label) s ON s.label = l.label""",
    "kg_clustering_coefficient": f"""WITH {_base_ctes()},
{_UND_EDGE_CTES},
sym AS (SELECT src, dst FROM edges UNION ALL SELECT dst AS src, src AS dst FROM edges),
deg AS (SELECT src AS entity_id, COUNT(*) AS degree FROM sym GROUP BY src),
tri AS (
    SELECT e1.src AS x, e1.dst AS y, e2.dst AS z
    FROM edges e1
    JOIN edges e2 ON e2.src = e1.dst
    JOIN edges e3 ON e3.src = e1.src AND e3.dst = e2.dst),
corners AS (
    SELECT x AS entity_id FROM tri
    UNION ALL SELECT y FROM tri
    UNION ALL SELECT z FROM tri),
tc AS (SELECT entity_id, COUNT(*) AS n_triangles FROM corners GROUP BY entity_id)
SELECT d.entity_id, CAST(d.degree AS BIGINT) AS degree,
       CAST(COALESCE(tc.n_triangles, 0) AS BIGINT) AS n_triangles,
       CAST(CASE WHEN d.degree >= 2
                 THEN 2 * COALESCE(tc.n_triangles, 0) * 1000000
                      // (d.degree * (d.degree - 1))
                 ELSE 0 END AS BIGINT) AS cc_ppm
FROM deg d LEFT JOIN tc ON tc.entity_id = d.entity_id""",
    "kg_degree_assortativity": f"""WITH {_base_ctes()},
{_UND_EDGE_CTES},
sym AS (SELECT src, dst FROM edges UNION ALL SELECT dst AS src, src AS dst FROM edges),
deg AS (SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY src),
p AS (
    SELECT dx.d AS dx, dy.d AS dy
    FROM sym s JOIN deg dx ON dx.id = s.src JOIN deg dy ON dy.id = s.dst),
a AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS m2,
           CAST(SUM(dx * dy) AS BIGINT) AS sum_xy,
           CAST(SUM(dx) AS BIGINT) AS sum_x,
           CAST(SUM(dx * dx) AS BIGINT) AS sum_xx
    FROM p)
SELECT CAST(m2 // 2 AS BIGINT) AS n_edges, sum_xy, sum_x, sum_xx,
       CAST(CASE WHEN m2 * sum_xx - sum_x * sum_x <> 0
                 THEN FLOOR((m2 * sum_xy - sum_x * sum_x) * 1000000.0
                            / (m2 * sum_xx - sum_x * sum_x))
                 ELSE 0 END AS BIGINT) AS assortativity_ppm
FROM a""",
    "kg_community_conductance": f"""WITH {_base_ctes()},
{_LPA_CTES},
lab AS (SELECT id, label FROM l{LABELPROP_ITERS}),
ej AS (
    SELECT ls.label AS src_c, ld.label AS dst_c
    FROM edges e JOIN lab ls ON ls.id = e.src JOIN lab ld ON ld.id = e.dst),
internal AS (
    SELECT src_c AS community, COUNT(*) AS internal_edges
    FROM ej WHERE src_c = dst_c GROUP BY src_c),
cuts AS (
    SELECT community, COUNT(*) AS cut_edges FROM (
        SELECT src_c AS community FROM ej WHERE src_c <> dst_c
        UNION ALL SELECT dst_c FROM ej WHERE src_c <> dst_c)
    GROUP BY community),
sizes AS (SELECT label AS community, COUNT(*) AS n_entities
          FROM l{LABELPROP_ITERS} GROUP BY label)
SELECT s.community, CAST(s.n_entities AS BIGINT) AS n_entities,
       CAST(COALESCE(i.internal_edges, 0) AS BIGINT) AS internal_edges,
       CAST(COALESCE(c.cut_edges, 0) AS BIGINT) AS cut_edges,
       CAST(CASE WHEN COALESCE(i.internal_edges, 0) = 0
                  AND COALESCE(c.cut_edges, 0) = 0 THEN 0
                 ELSE COALESCE(c.cut_edges, 0) * 1000000
                      // (2 * COALESCE(i.internal_edges, 0)
                          + COALESCE(c.cut_edges, 0)) END
            AS BIGINT) AS conductance_ppm
FROM sizes s
LEFT JOIN internal i ON i.community = s.community
LEFT JOIN cuts c ON c.community = s.community""",
    "kg_entity_distances": f"""WITH {_base_ctes()},
{_UND_EDGE_CTES},
sym AS MATERIALIZED (
    SELECT src, dst FROM edges UNION ALL SELECT dst AS src, src AS dst FROM edges),
nonhub AS MATERIALIZED (
    SELECT src AS id FROM sym GROUP BY src
    HAVING COUNT(*) <= {DIST_HUB_DEGREE_CAP}),
d1 AS (SELECT src, dst, 1 AS hops FROM sym)"""
    + "".join(
        f""",
d{k} AS MATERIALIZED (
    SELECT DISTINCT f.src, s.dst, {k} AS hops
    FROM d{k - 1} f JOIN nonhub nh ON nh.id = f.dst
    JOIN sym s ON s.src = f.dst
    WHERE s.dst <> f.src)"""
        for k in range(2, KHOP_MAX + 1)
    )
    + f""",
alld AS ({" UNION ALL ".join(f"SELECT * FROM d{k}" for k in range(1, KHOP_MAX + 1))})
SELECT src AS entity_a, dst AS entity_b,
       CAST(MIN(hops) AS BIGINT) AS hops
FROM alld WHERE src < dst
GROUP BY src, dst""",
    "kg_distance_hub_audit": f"""WITH {_base_ctes()},
{_UND_EDGE_CTES},
sym AS (
    SELECT src, dst FROM edges UNION ALL SELECT dst AS src, src AS dst FROM edges)
SELECT src AS entity_id,
       CAST(COUNT(*) AS BIGINT) AS degree,
       CAST(CASE WHEN COUNT(*) > {DIST_HUB_DEGREE_CAP} THEN 1 ELSE 0 END
            AS INT) AS is_hub
FROM sym GROUP BY src""",
    "kg_entity_distances_anchored": f"""WITH {_base_ctes()},
{_UND_EDGE_CTES},
sym AS MATERIALIZED (
    SELECT src, dst FROM edges UNION ALL SELECT dst AS src, src AS dst FROM edges),
a1 AS (SELECT src, dst, 1 AS hops FROM sym WHERE src = '{DIST_ANCHOR}')"""
    + "".join(
        f""",
a{k} AS MATERIALIZED (
    SELECT DISTINCT f.src, s.dst, {k} AS hops
    FROM a{k - 1} f JOIN sym s ON s.src = f.dst
    WHERE s.dst <> f.src)"""
        for k in range(2, KHOP_MAX + 1)
    )
    + f""",
alla AS ({" UNION ALL ".join(f"SELECT * FROM a{k}" for k in range(1, KHOP_MAX + 1))})
SELECT dst AS entity_b, CAST(MIN(hops) AS BIGINT) AS hops
FROM alla WHERE dst <> '{DIST_ANCHOR}'
GROUP BY dst""",
    "kg_entity_distances_batch": f"""WITH {_base_ctes()},
{_UND_EDGE_CTES},
sym AS MATERIALIZED (
    SELECT src, dst FROM edges UNION ALL SELECT dst AS src, src AS dst FROM edges),
b1 AS (SELECT src, dst, 1 AS hops FROM sym
       WHERE src IN ({", ".join(f"'{a}'" for a in DIST_BATCH_ANCHORS)}))"""
    + "".join(
        f""",
b{k} AS MATERIALIZED (
    SELECT DISTINCT f.src, s.dst, {k} AS hops
    FROM b{k - 1} f JOIN sym s ON s.src = f.dst
    WHERE s.dst <> f.src)"""
        for k in range(2, KHOP_MAX + 1)
    )
    + f""",
allb AS ({" UNION ALL ".join(f"SELECT * FROM b{k}" for k in range(1, KHOP_MAX + 1))})
SELECT src AS entity_a, dst AS entity_b,
       CAST(MIN(hops) AS BIGINT) AS hops
FROM allb WHERE dst <> src
GROUP BY src, dst""",
    "kg_wl_signature": f"""WITH {_base_ctes()},
{_UND_EDGE_CTES},
sym AS MATERIALIZED (
    SELECT src, dst FROM edges UNION ALL SELECT dst AS src, src AS dst FROM edges),
wl0 AS (SELECT src AS id, CAST(COUNT(*) AS VARCHAR) AS label
        FROM sym GROUP BY src)"""
    + "".join(
        f""",
wn{k} AS (
    SELECT s.src AS id,
           array_to_string(list_sort(list(l.label)), ',') AS nbl
    FROM sym s JOIN wl{k - 1} l ON l.id = s.dst
    GROUP BY s.src),
wl{k} AS MATERIALIZED (
    SELECT p.id, md5(p.label || '|' || n.nbl) AS label
    FROM wl{k - 1} p JOIN wn{k} n ON n.id = p.id)"""
        for k in range(1, WL_ROUNDS + 1)
    )
    + f""",
orb AS (SELECT label, COUNT(*) AS orbit_size
        FROM wl{WL_ROUNDS} GROUP BY label)
SELECT l.id AS entity_id, l.label AS wl_label,
       CAST(o.orbit_size AS BIGINT) AS orbit_size
FROM wl{WL_ROUNDS} l JOIN orb o ON o.label = l.label""",
    "kg_name_variants": f"""WITH {_base_ctes()},
focc AS (
    SELECT doc, md5(doc || chr(31) || key) AS mention_id,
           regexp_replace(token, '{_PUNCT_SQL}', '', 'g') AS form
    FROM toks JOIN gaz ON toks.key = gaz.term),
locc AS (
    SELECT l.entity_id, f.form
    FROM focc f JOIN links l
      ON l.doc = f.doc AND l.mention_id = f.mention_id
    WHERE l.entity_id IS NOT NULL),
fc AS (SELECT entity_id, form, COUNT(*) AS cnt
       FROM locc GROUP BY entity_id, form),
top AS (
    SELECT entity_id, form, cnt FROM fc
    QUALIFY ROW_NUMBER() OVER (PARTITION BY entity_id
                               ORDER BY cnt DESC, form ASC) = 1),
st AS (SELECT entity_id, COUNT(*) AS n_variants, SUM(cnt) AS n_occ
       FROM fc GROUP BY entity_id)
SELECT st.entity_id,
       CAST(st.n_variants AS BIGINT) AS n_variants,
       CAST(st.n_occ AS BIGINT) AS n_occurrences,
       top.form AS top_form,
       CAST(top.cnt * 1000000 // st.n_occ AS BIGINT) AS top_form_share_ppm
FROM st JOIN top ON top.entity_id = st.entity_id""",
    "kg_agreement_by_distance": f"""WITH {_base_ctes()},
lp AS (
    SELECT la.entity_id AS subj,
           'COOCCURS_' || a.entity_class || '_' || b.entity_class AS relation,
           lb.entity_id AS obj,
           b.pos - a.pos AS distance
    FROM mentions a
    JOIN mentions b
      ON a.doc = b.doc AND b.pos > a.pos
     AND b.pos <= a.pos + {COOCCUR_WINDOW} AND a.key <> b.key
    JOIN links la ON la.doc = a.doc AND la.mention_id = a.mention_id
    JOIN links lb ON lb.doc = b.doc AND lb.mention_id = b.mention_id
    WHERE la.entity_id IS NOT NULL AND lb.entity_id IS NOT NULL),
c AS (SELECT subj, relation, obj, COUNT(*) AS cnt
      FROM lp GROUP BY subj, relation, obj),
modal AS (
    SELECT subj, relation, obj AS modal_obj FROM c
    QUALIFY ROW_NUMBER() OVER (PARTITION BY subj, relation
                               ORDER BY cnt DESC, obj ASC) = 1)
SELECT CAST(lp.distance AS BIGINT) AS distance,
       CAST(COUNT(*) AS BIGINT) AS n_obs,
       CAST(SUM(CASE WHEN lp.obj = m.modal_obj THEN 1 ELSE 0 END)
            AS BIGINT) AS n_agree,
       CAST(SUM(CASE WHEN lp.obj = m.modal_obj THEN 1 ELSE 0 END) * 1000000
            // COUNT(*) AS BIGINT) AS agree_ppm
FROM lp JOIN modal m ON m.subj = lp.subj AND m.relation = lp.relation
GROUP BY lp.distance""",
    "kg_two_hop_reach": f"""WITH {_base_ctes()},
{_UND_EDGE_CTES},
sym AS MATERIALIZED (
    SELECT src, dst FROM edges UNION ALL SELECT dst AS src, src AS dst FROM edges),
deg AS (SELECT src AS id, COUNT(*) AS d FROM sym GROUP BY src),
wadj AS (
    SELECT s.src, s.dst FROM sym s
    JOIN deg ON deg.id = s.dst
    WHERE deg.d <= {JACCARD_HUB_CAP}),
p2 AS (
    SELECT DISTINCT w.src, s2.dst AS z
    FROM wadj w JOIN sym s2 ON s2.src = w.dst
    WHERE s2.dst <> w.src),
x2 AS (
    SELECT p2.src, p2.z FROM p2
    WHERE NOT EXISTS (SELECT 1 FROM sym s
                      WHERE s.src = p2.src AND s.dst = p2.z)),
n2 AS (SELECT src, COUNT(*) AS n FROM x2 GROUP BY src)
SELECT deg.id AS entity_id,
       CAST(deg.d AS BIGINT) AS n_1hop,
       CAST(COALESCE(n2.n, 0) AS BIGINT) AS n_2hop
FROM deg LEFT JOIN n2 ON n2.src = deg.id""",
}


def _ktruss_ctes() -> str:
    """KTRUSS_ROUNDS unrolled peels + a final support recompute —
    twin of q_ktruss's loop, one CTE pair per round."""
    parts = ["e0 AS (SELECT src, dst FROM edges)"]
    for r in range(KTRUSS_ROUNDS + 1):
        parts.append(
            f"""sym{r} AS (SELECT src, dst FROM e{r}
  UNION ALL SELECT dst AS src, src AS dst FROM e{r}),
sup{r} AS (SELECT e.src, e.dst, CAST(COUNT(*) AS BIGINT) AS c
  FROM e{r} e
  JOIN sym{r} x ON x.src = e.src
  JOIN sym{r} y ON y.src = e.dst AND y.dst = x.dst
  GROUP BY e.src, e.dst)"""
        )
        if r < KTRUSS_ROUNDS:
            parts.append(
                f"""e{r + 1} AS (SELECT e.src, e.dst FROM e{r} e
  LEFT JOIN sup{r} s ON s.src = e.src AND s.dst = e.dst
  WHERE COALESCE(s.c, 0) >= {KTRUSS_K - 2})"""
            )
    return ",\n".join(parts)


# round-5 TAIL addition (registry position > the driver's ~50-row
# window by construction — cannot displace the 33 never-gated queries
# the freeze protects; part of the round-6 gate head)
ORACLES["kg_ktruss"] = f"""WITH {_base_ctes()},
{_UND_EDGE_CTES},
{_ktruss_ctes()}
SELECT e.src, e.dst, CAST(COALESCE(s.c, 0) AS BIGINT) AS support
FROM e{KTRUSS_ROUNDS} e
LEFT JOIN sup{KTRUSS_ROUNDS} s ON s.src = e.src AND s.dst = e.dst"""

# round-5 TAIL addition (same placement note as kg_ktruss); the tt CTE
# is kg_snapshot_asof's interval rollup verbatim, and the CASE cascade
# is the very string the Spark side F.expr()s
ORACLES["kg_allen_relations"] = f"""WITH {_base_ctes()},
{_SHRED_SQL},
{_ENRICH_SQL},
{_SPANS_SQL},
tt AS (
    SELECT ls.entity_id AS subj_entity,
           'COOCCURS_' || a.entity_class || '_' || b.entity_class AS relation,
           lo.entity_id AS obj_entity,
           MIN(s.ts_s) AS first_ts_s,
           MAX(s.ts_s) AS last_ts_s
    FROM mentions a
    JOIN mentions b ON a.doc = b.doc AND b.pos > a.pos
                   AND b.pos <= a.pos + {COOCCUR_WINDOW} AND a.key <> b.key
    JOIN links ls ON ls.doc = a.doc AND ls.mention_id = a.mention_id
                 AND ls.entity_id IS NOT NULL
    JOIN links lo ON lo.doc = b.doc AND lo.mention_id = b.mention_id
                 AND lo.entity_id IS NOT NULL
    JOIN spans s ON s.conv_id = a.doc
               AND a.begin_ofs >= s.st AND a.begin_ofs < s.st + s.ln
    GROUP BY ls.entity_id, relation, lo.entity_id),
p AS (
    SELECT a.subj_entity,
           a.first_ts_s AS af, a.last_ts_s AS al,
           b.first_ts_s AS bf, b.last_ts_s AS bl
    FROM tt a
    JOIN tt b ON b.subj_entity = a.subj_entity
             AND (a.relation < b.relation
                  OR (a.relation = b.relation
                      AND a.obj_entity < b.obj_entity)))
SELECT subj_entity, {_ALLEN_CASE} AS allen,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM p GROUP BY 1, 2"""

QUERIES = {
    "kg_label_propagation": q_label_propagation,  # never-gated first
    "kg_entity_degree_hist": q_entity_degree_hist,  # never-gated first
    "kg_assembly_roundtrip": q_assembly_roundtrip,
    "kg_mentions": q_mentions,
    "kg_relations": q_relations,
    "kg_links": q_links,
    "kg_triples_by_relation": q_triples_by_relation,
    "kg_supporting": q_supporting,
    "kg_supporting_anchored": q_supporting_anchored,
    "kg_supporting_confident": q_supporting_confident,
    "kg_inconsistent": q_inconsistent,
    "kg_missing": q_missing,
    "kg_enrich_facts": q_enrich_facts,
    "kg_canonical_clusters": q_canonical_clusters,
    "kg_canonical_triples": q_canonical_triples,
    "kg_entity_comention": q_entity_comention,
    "kg_comention_skipped_docs": q_comention_skipped_docs,
    "kg_comention_pmi": q_comention_pmi,
    "kg_mention_turn_attribution": q_mention_turn_attribution,
    "kg_entity_timeline": q_entity_timeline,
    "kg_entity_role_profile": q_entity_role_profile,
    "kg_entity_bursts": q_entity_bursts,
    "kg_negative_samples": q_negative_samples,
    "kg_entity_kcore": q_entity_kcore,
    "kg_alias_ambiguity": q_alias_ambiguity,
    "kg_entity_salience": q_entity_salience,
    "kg_triple_temporal": q_triple_temporal,
    "kg_conv_novelty": q_conv_novelty,
    "kg_wl_signature": q_wl_signature,
    "kg_entity_distances": q_entity_distances,
    "kg_entity_distances_anchored": q_entity_distances_anchored,
    "kg_entity_distances_batch": q_entity_distances_batch,
    "kg_distance_hub_audit": q_distance_hub_audit,
    "kg_entity_triangles": q_entity_triangles,
    "kg_clustering_coefficient": q_clustering_coefficient,
    "kg_degree_assortativity": q_degree_assortativity,
    "kg_community_conductance": q_community_conductance,
    "kg_name_variants": q_name_variants,
    "kg_agreement_by_distance": q_agreement_by_distance,
    "kg_two_hop_reach": q_two_hop_reach,
    "kg_rule_predictions": q_rule_predictions,
    "kg_blocking_quality": q_blocking_quality,
    "kg_neighbor_jaccard": q_neighbor_jaccard,
    "kg_rule_mining": q_rule_mining,
    "kg_nil_entities": q_nil_entities,
    "kg_truth_discovery": q_truth_discovery,
    "kg_rdf_ntriples": q_rdf_ntriples,
    "kg_entity_summary": q_entity_summary,
    "kg_snapshot_asof": q_snapshot_asof,
    "kg_snapshot_diff": q_snapshot_diff,
    "stream_turn_triples": q_stream_turn_triples,
    "stream_entity_links": q_stream_entity_links,
    "kg_mention_contexts": q_mention_contexts,
    "kg_adjacency_list": q_adjacency_list,
    "kg_reciprocity": q_reciprocity,
    "kg_provenance_bundle": q_provenance_bundle,
    "kg_relation_signature": q_relation_signature,
    "kg_incremental_triples": q_incremental_triples,
    "kg_relation_trend": q_relation_trend,
    "kg_entity_hits": q_entity_hits,
    "kg_entity_pagerank": q_entity_pagerank,
    "kg_ppr_anchored": q_ppr_anchored,
    "kg_entity_mention_counts": q_entity_mention_counts,
    # round-5 TAIL additions — see ORACLES["kg_ktruss"]'s placement note
    "kg_ktruss": q_ktruss,
    "kg_allen_relations": q_allen_relations,
}
