"""Output checks, run after the timed work of a session.

Written tables are read back with DuckDB, not Spark, so the comparison
does not share an engine with the code under test:

- ``docs_build``: ``mentions_edges``, ``relation_edges`` and ``links_to``
  equal the registry's DuckDB oracles ``kg_mentions``, ``kg_relations``
  and ``kg_links`` over the generated ``documents.parquet``.
- ``transcripts_build``: the smoke conversations yield exactly the golden
  triples, the F1–F3 pathological conversations yield nothing, the fact
  table holds exactly the routed fixture facts, and for a seeded sample
  of conversations the written bag equals ``PatternAnnotator`` run here on
  the same assembled text.
- both: ``validate_fk`` reports zero orphans.
- clean queries: every reply equals its oracle (:class:`Oracle`).
"""

from __future__ import annotations

import random
import re
from collections import Counter

import duckdb

from golden import GROUND_TRUTH_FACTS, smoke_triples

#: transcripts rows that filters F1–F3 must keep out of the graph
PATHOLOGICAL_DOCS = ("conv-nulltext", "conv-emptytext", "conv-longsent", "")
SAMPLE_CONVS = 40

_CLEAN_COLS = (
    "doc_id, subject_mention_id, relation, object_mention_id, object_span, "
    "entity_id, fact_value, round(confidence, 9) AS confidence"
)


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 4")
    con.execute("SET memory_limit = '2GB'")
    return con


def multiset_diff(con, want_sql: str, got_sql: str) -> tuple[int, int, int]:
    """(rows only in want, rows only in got, rows in got) as multisets."""
    return con.execute(
        f"""WITH want AS ({want_sql}), got AS ({got_sql})
        SELECT (SELECT count(*) FROM (FROM want EXCEPT ALL FROM got)),
               (SELECT count(*) FROM (FROM got EXCEPT ALL FROM want)),
               (SELECT count(*) FROM got)"""
    ).fetchone()


def _compare(con, label: str, want_sql: str, got_sql: str, failures: list) -> int:
    missing, extra, n = multiset_diff(con, want_sql, got_sql)
    if missing or extra:
        failures.append(f"{label}: {missing} oracle rows missing, {extra} extra rows")
    return n


def _pq(path: str) -> str:
    return f"read_parquet('{path}/*.parquet')"


class DocOracles:
    """The registry's documents-corpus oracles with their shared CTE chain
    (tokens → mentions → relations → links) evaluated once: the chain's
    tables are materialized, then each oracle runs from where the shared
    chain ends. An oracle that does not start with the chain runs whole."""

    BASE_TABLES = ("mentions", "rels", "links", "fact_edges")

    def __init__(self, con, docs_path: str) -> None:
        from dstlr_spark.queries.doc_kg import ORACLES, _base_ctes

        self.oracles = ORACLES
        self.head = "WITH " + _base_ctes()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs_path}')")
        for t in self.BASE_TABLES:
            con.execute(f"CREATE TABLE {t} AS {self.head} SELECT * FROM {t}")

    def sql(self, name: str) -> str:
        full = self.oracles[name]
        if not full.startswith(self.head):
            return full
        tail = full[len(self.head):].lstrip()
        return "WITH " + tail[1:] if tail.startswith(",") else tail


def check_docs_graph(con, oracles: DocOracles, graph_dir: str) -> tuple[list, dict]:
    failures: list[str] = []
    counts = {}
    counts["mentions"] = _compare(
        con, "mentions_edges vs kg_mentions",
        f"SELECT doc, mention_id, CAST(begin_ofs AS INT), CAST(end_ofs AS INT) "
        f"FROM ({oracles.sql('kg_mentions')})",
        f'SELECT doc_id, mention_id, CAST("begin" AS INT), CAST("end" AS INT) '
        f"FROM {_pq(graph_dir + '/mentions_edges')}",
        failures,
    )
    counts["relations"] = _compare(
        con, "relation_edges vs kg_relations",
        "SELECT doc, subject_mention_id, relation, object_mention_id, "
        f"round(confidence, 9) FROM ({oracles.sql('kg_relations')})",
        "SELECT doc_id, subject_mention_id, type, object_mention_id, "
        f"round(confidence, 9) FROM {_pq(graph_dir + '/relation_edges')}",
        failures,
    )
    counts["links"] = _compare(
        con, "links_to vs kg_links",
        f"SELECT DISTINCT mention_id, entity_id FROM ({oracles.sql('kg_links')}) "
        "WHERE entity_id IS NOT NULL",
        f"SELECT mention_id, entity_id FROM {_pq(graph_dir + '/links_to')}",
        failures,
    )
    return failures, counts


def _triples_sql(out_dir: str) -> str:
    return f"read_parquet('{out_dir}/triples/*/*.parquet', hive_partitioning = true)"


def _max_sentence_tokens(text: str) -> int:
    """Python twin of ``functions.text.max_sentence_tokens``."""
    return max(
        (len([t for t in re.split(r"\s+", s.strip()) if t]) for s in re.split(r"(?<=[.?!])\s+", text)),
        default=0,
    )


def _meta_key(meta):
    if meta is None:
        return None
    conf = meta["confidence"]
    return (
        meta["entity_class"], meta["span"], meta["begin"], meta["end"],
        meta["normalized"], None if conf is None else round(conf, 9),
    )


def check_transcripts(con, cfg: dict, graph_dir: str, best: dict) -> tuple[list, dict]:
    """``best``: alias key → entity id, the annotator's fused-linking map."""
    from dstlr_spark.operators.extract import PatternAnnotator

    out = cfg["out"]
    triples = _triples_sql(out)
    failures: list[str] = []
    counts = {}

    got = {
        tuple(r)
        for r in con.execute(
            "SELECT doc, subjectType, subjectValue, relation, objectType, objectValue "
            f"FROM {triples} WHERE doc LIKE 'smoke-%'"
        ).fetchall()
    }
    want = smoke_triples()
    if got != want:
        failures.append(
            f"smoke triples: {len(want - got)} golden missing, {len(got - want)} extra"
        )

    (bad,) = con.execute(
        f"SELECT count(*) FROM {triples} WHERE doc IS NULL OR doc IN "
        f"({', '.join(repr(d) for d in PATHOLOGICAL_DOCS)})"
    ).fetchone()
    if bad:
        failures.append(f"{bad} triples from F1-F3 pathological conversations")

    facts = {
        tuple(r)
        for r in con.execute(
            f"SELECT entity_id, relation, value FROM {_pq(graph_dir + '/fact_edges')}"
        ).fetchall()
    }
    if facts != GROUND_TRUTH_FACTS:
        failures.append(f"fact_edges differ from the routed fixture facts: {sorted(facts)}")

    # seeded sample: the written bag vs the annotator run here
    rng = random.Random(cfg["seed"])
    convs = [f"conv-{cfg['seed']}-{c:05d}" for c in rng.sample(range(cfg["n_convs"]), min(SAMPLE_CONVS, cfg["n_convs"]))]
    in_list = ", ".join(repr(c) for c in convs)
    turns: dict[str, list] = {c: [] for c in convs}
    for conv, idx, text in con.execute(
        f"SELECT conv_id, turn_idx, text FROM read_parquet('{cfg['transcripts_path']}') "
        f"WHERE conv_id IN ({in_list}) AND text IS NOT NULL AND text <> ''"
    ).fetchall():
        turns[conv].append((idx, text))
    ann = PatternAnnotator()
    want_bag: Counter = Counter()
    for conv, ts in turns.items():
        text = " ".join(t for _, t in sorted(ts))
        if not ts or _max_sentence_tokens(text) > 128:
            continue
        for t in ann.annotate(conv, text, best):
            want_bag[
                (t["doc"], t["subjectType"], t["subjectValue"], t["relation"],
                 t["objectType"], t["objectValue"], _meta_key(t["meta"]))
            ] += 1
    got_bag: Counter = Counter()
    for r in con.execute(
        "SELECT doc, subjectType, subjectValue, relation, objectType, objectValue, meta "
        f"FROM {triples} WHERE doc IN ({in_list})"
    ).fetchall():
        got_bag[tuple(r[:6]) + (_meta_key(r[6]),)] += 1
    if got_bag != want_bag:
        failures.append(
            f"sampled bag vs PatternAnnotator: {sum((want_bag - got_bag).values())} "
            f"missing, {sum((got_bag - want_bag).values())} extra"
        )
    counts["sample_triples"] = sum(want_bag.values())
    for kind, n in con.execute(
        "SELECT CASE relation WHEN 'MENTIONS' THEN 'mentions' WHEN 'LINKS_TO' THEN 'links' "
        f"ELSE 'relations' END, count(*) FROM {triples} GROUP BY 1"
    ).fetchall():
        counts[f"bag.{kind}"] = n
    (counts["components"],) = con.execute(
        f"SELECT count(DISTINCT canonical_id) FROM {_pq(graph_dir + '/canonical_ids')}"
    ).fetchone()
    return failures, counts


def _transcript_clean_sql(graph_dir: str, name: str) -> str:
    """DuckDB twin of ``operators.clean`` over the written graph tables
    (the registry's clean oracles are defined over the documents corpus)."""
    anchor = "AND r.type = 'ORG_CITY_OF_HEADQUARTERS'" if name == "supporting_anchored" else ""
    pred = {
        "inconsistent": "o.span <> f.value",
        "missing": "f.value IS NULL",
    }.get(name, "o.span = f.value")
    if name == "supporting_confident":
        pred += " AND r.confidence >= 0.5"
    how = "LEFT" if name == "missing" else ""
    return f"""SELECT r.doc_id, r.subject_mention_id, r.type AS relation,
       r.object_mention_id, o.span AS object_span, l.entity_id,
       f.value AS fact_value, r.confidence
FROM {_pq(graph_dir + '/relation_edges')} r
JOIN {_pq(graph_dir + '/mention_nodes')} o ON o.mention_id = r.object_mention_id
JOIN {_pq(graph_dir + '/links_to')} l ON l.mention_id = r.subject_mention_id
{how} JOIN {_pq(graph_dir + '/fact_edges')} f
  ON f.entity_id = l.entity_id AND f.relation = r.type
WHERE {pred} {anchor}"""


class Oracle:
    """One session's expected outputs, on one DuckDB connection: the clean
    query replies are materialized before the client starts."""

    def __init__(self, cfg: dict, graph_dir: str, queries: tuple[str, ...]) -> None:
        self.cfg = cfg
        self.graph_dir = graph_dir
        self.con = connect()
        if cfg["workload"] == "docs_build":
            self.docs = DocOracles(self.con, cfg["docs_path"])
            sql = {q: self.docs.sql(f"kg_{q}") for q in queries}
        else:
            sql = {q: _transcript_clean_sql(graph_dir, q) for q in queries}
        for q, s in sql.items():
            self.con.execute(f"CREATE TABLE want_{q} AS SELECT {_CLEAN_COLS} FROM ({s})")

    def clean_diff(self, name: str, table) -> str | None:
        """None when ``table`` (a pyarrow reply) equals the oracle."""
        self.con.register("reply", table)
        try:
            missing, extra, _ = multiset_diff(
                self.con, f"FROM want_{name}", f"SELECT {_CLEAN_COLS} FROM reply"
            )
        finally:
            self.con.unregister("reply")
        if missing or extra:
            return f"{name}: {missing} oracle rows missing, {extra} extra rows"
        return None

    def check_build(self, spark) -> dict:
        from dstlr_spark.operators.graph import validate_fk

        con, graph_dir = self.con, self.graph_dir
        if self.cfg["workload"] == "docs_build":
            failures, counts = check_docs_graph(con, self.docs, graph_dir)
        else:
            from dstlr_spark.operators.extract import best_alias_entity
            from dstlr_spark.sources.fixtures import alias_dict

            best = best_alias_entity(alias_dict(spark))
            failures, counts = check_transcripts(con, self.cfg, graph_dir, best)
        for name in ("mention_nodes", "mentions_edges", "links_to", "relation_edges", "fact_edges"):
            (counts[f"rows.{name}"],) = con.execute(
                f"SELECT count(*) FROM {_pq(graph_dir + '/' + name)}"
            ).fetchone()
        graph = {
            n: spark.read.parquet(f"{graph_dir}/{n}")
            for n in ("mention_nodes", "links_to", "relation_edges")
        }
        orphans = validate_fk(graph)
        counts["fk_orphans"] = sum(orphans.values())
        if counts["fk_orphans"]:
            failures.append(f"validate_fk: {orphans}")
        return {"failures": failures, "counts": counts}

    def close(self) -> None:
        self.con.close()
