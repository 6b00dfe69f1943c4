"""One benchmark session: a fresh Spark process that builds the graph
cold, then serves clean queries from the tables it wrote.

Started by ``run.py`` as ``python worker.py <config.json>``; writes its
results to the config's ``result`` path. Timings use wall-clock epoch
seconds so they line up with Spark's event-log timestamps.

With ``trace`` set, every layer call runs under ``setJobGroup(<layer>)``
inside a benchmark-side span, and the transcripts path persists and
counts each layer's output so a span covers only that layer's work.
"""

from __future__ import annotations

import json
import sys
import time
import traceback
from contextlib import contextmanager
from pathlib import Path

GRAPH_TABLES = (
    "mention_nodes", "mentions_edges", "links_to", "relation_edges",
    "fact_edges", "entity_nodes",
)
CLEAN_QUERIES = (
    "supporting", "inconsistent", "missing", "supporting_anchored",
    "supporting_confident",
)
#: transcripts: the reference's own anchored clean query (README.md:147-151)
TRANSCRIPT_ANCHOR = "ORG_CITY_OF_HEADQUARTERS"
#: rounds of the five clean queries a traced run's client sends; their
#: latencies give the per-layer clean.p50_s and clean.p90_s
TRACED_ROUNDS = 2
#: ledger buckets for the transcripts build: one group of eight. The job's
#: default of 64 (eight groups) added about 100 s to a cold build here,
#: more than a run can hold
LEDGER_BUCKETS = 8
EXTRACT_PARTITIONS = 8  # jobs/build_kg.py --partitions default
SENT_THRESHOLD = 128  # jobs/build_kg.py --sent-length-threshold default


class Tracer:
    """Spans and job groups around layer calls; inert when disabled."""

    def __init__(self, spark, enabled: bool) -> None:
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self.sc.setJobGroup(name, name)
        start = time.time()
        try:
            yield
        finally:
            self.spans.append(
                {"name": name, "start": start, "end": time.time(), "parent": parent}
            )
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1], self._stack[-1])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def force(self, df):
        """Materialize ``df`` at a layer boundary (traced runs only)."""
        if not self.enabled:
            return df
        df = df.persist()
        df.count()
        return df

    @contextmanager
    def group(self, name: str):
        """Job group without a span (counting and checking jobs)."""
        if not self.enabled:
            yield
            return
        self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)


def _import_probe(_):
    import dstlr_spark

    return dstlr_spark.__name__


def setup(cfg: dict):
    from dstlr_spark.session import get_spark

    extra = None
    if cfg["trace"]:
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": Path(cfg["eventlog_dir"]).as_uri(),
        }
    spark = get_spark(f"perfbench-{cfg['workload']}", extra_conf=extra)
    n = spark.sparkContext.defaultParallelism
    names = spark.sparkContext.parallelize(range(n), n).map(_import_probe).collect()
    if set(names) != {"dstlr_spark"}:
        raise RuntimeError(f"workers could not import the package: {names}")
    return spark


# --------------------------------------------------------------------------
# builds
# --------------------------------------------------------------------------

def _doc_inputs(spark, docs_path: str):
    from pyspark.sql import functions as F

    from dstlr_spark.plans.partitioning import fan_out
    from dstlr_spark.queries.doc_kg import DOC_ALIASES, DOC_FACTS, DOC_GAZETTEER

    docs = fan_out(
        spark.read.parquet(docs_path).select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.col("text").alias("contents"),
        )
    )
    gaz = spark.createDataFrame(DOC_GAZETTEER, "term string, entity_class string")
    aliases = spark.createDataFrame(DOC_ALIASES, "alias string, entity_id string, prior double")
    facts = spark.createDataFrame(
        [("ground-truth", "Entity", e, r, "Fact", v) for e, r, v in DOC_FACTS],
        "doc string, subjectType string, subjectValue string, relation string, "
        "objectType string, objectValue string",
    ).withColumn(
        "meta",
        F.lit(None).cast(
            "struct<entity_class:string,span:string,begin:int,end:int,"
            "normalized:string,confidence:double>"
        ),
    )
    return docs, gaz, aliases, facts


def docs_build(spark, cfg: dict, out: str, tr: Tracer) -> dict:
    """Word-stream documents → the six graph tables via ``NativeKG``."""
    from dstlr_spark.plans.native_kg import NativeKG
    from dstlr_spark.queries.doc_kg import COOCCUR_WINDOW

    with tr.span("sources"):
        docs, gaz, aliases, facts = _doc_inputs(spark, cfg["docs_path"])
    with tr.span("native_kg.probe"):
        kg = NativeKG(
            docs, gaz, aliases, facts, cooccur_window=COOCCUR_WINDOW,
            sent_threshold=10_000,
        )
    with tr.span("native_kg.fill"):
        graph = kg.graph()
    info = {}
    if tr.enabled:
        info["cache_bytes"] = _cached_bytes(spark)
    for name in GRAPH_TABLES:
        # links_to is where the alias linking runs on this path
        with tr.span("linking" if name == "links_to" else f"graph.{name}"):
            graph[name].write.mode("overwrite").parquet(f"{out}/{name}")
    kg.unpersist()
    return info


def _cached_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return int(sum(i.diskSize() + i.memSize() for i in infos))


def transcripts_build(spark, cfg: dict, out: str, tr: Tracer) -> dict:
    """The ``jobs/build_kg.py`` composition: ledger(assemble → salted
    repartition → pattern extraction with fused linking) → enrich →
    graph tables → canonical ids."""
    from pyspark.sql import functions as F

    from dstlr_spark.functions.text import lemma_key
    from dstlr_spark.operators.assembly import assemble_documents, salted_repartition
    from dstlr_spark.operators.canonicalize import canonicalize_mentions
    from dstlr_spark.operators.enrich import enrich_triples
    from dstlr_spark.operators.extract import apply_sentence_guard, extract_triples_pattern
    from dstlr_spark.operators.graph import materialize_graph
    from dstlr_spark.plans.ledger import read_output, run_with_ledger
    from dstlr_spark.sources.fixtures import alias_dict, facts, property_relation
    from dstlr_spark.sources.io import read_table

    info: dict = {"groups": 0, "docs": 0, "docs_dropped": 0}
    held = []

    with tr.span("sources"):
        transcripts = tr.force(read_table(spark, cfg["transcripts_path"]))
        aliases = alias_dict(spark)

    def pipeline(chunk):
        info["groups"] += 1
        with tr.span("assembly"):
            docs = tr.force(
                salted_repartition(assemble_documents(chunk), EXTRACT_PARTITIONS)
            )
        with tr.span("extract"):
            bag = tr.force(extract_triples_pattern(docs, SENT_THRESHOLD, aliases))
        if tr.enabled:
            held.extend([docs, bag])
            with tr.group("counts"):
                n = docs.count()
                info["docs"] += n
                info["docs_dropped"] += n - apply_sentence_guard(docs, SENT_THRESHOLD).count()
            tr.sc.setJobGroup("ledger", "ledger")
        return bag

    with tr.span("ledger"):
        run_with_ledger(
            transcripts, f"{out}/triples", f"{out}/_progress", pipeline,
            n_buckets=LEDGER_BUCKETS,
        )
    for df in held:
        df.unpersist()

    bag = read_output(spark, f"{out}/triples").drop("bucket")
    with tr.span("enrich"):
        gt = tr.force(enrich_triples(bag, facts(spark), property_relation(spark)))
    bag = bag.unionByName(gt)
    graph = materialize_graph(bag)
    for name in GRAPH_TABLES:
        with tr.span(f"graph.{name}"):
            graph[name].write.mode("overwrite").parquet(f"{out}/graph/{name}")
    with tr.span("canonicalize"):
        mentions = bag.where(F.col("relation") == "MENTIONS").select(
            F.col("objectValue").alias("mention_id"),
            lemma_key(F.col("meta")["span"]).alias("key"),
        ).dropDuplicates(["mention_id"])
        canonicalize_mentions(mentions, graph["links_to"]).write.mode(
            "overwrite"
        ).parquet(f"{out}/graph/canonical_ids")
    if tr.enabled:
        with tr.group("counts"):
            info["facts"] = gt.count()
        gt.unpersist()
        transcripts.unpersist()
    return info


# --------------------------------------------------------------------------
# clean queries
# --------------------------------------------------------------------------

def clean_frames(spark, graph_dir: str, workload: str) -> dict:
    """Query name → a function building that query's DataFrame over the
    graph tables read back from parquet (as ``jobs/clean.py`` reads them)."""
    from pyspark.sql import functions as F

    from dstlr_spark.operators.clean import (
        inconsistent_information,
        missing_information,
        supporting_information,
    )
    from dstlr_spark.queries.doc_kg import ANCHOR_RELATION, SUPPORT_MIN_CONF

    graph = {n: spark.read.parquet(f"{graph_dir}/{n}") for n in GRAPH_TABLES}
    anchor = ANCHOR_RELATION if workload == "docs_build" else TRANSCRIPT_ANCHOR
    cols = [
        F.col("doc_id"), F.col("subject_mention_id"), F.col("type").alias("relation"),
        F.col("object_mention_id"), F.col("object_span"), F.col("entity_id"),
        F.col("fact_value"), F.col("confidence"),
    ]
    return {
        "supporting": lambda: supporting_information(graph).select(*cols),
        "inconsistent": lambda: inconsistent_information(graph).select(*cols),
        "missing": lambda: missing_information(graph).select(*cols),
        "supporting_anchored": lambda: supporting_information(
            graph, relation_type=anchor
        ).select(*cols),
        "supporting_confident": lambda: supporting_information(graph)
        .where(F.col("confidence") >= SUPPORT_MIN_CONF)
        .select(*cols),
    }


def join_counts(df) -> tuple[int, int]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("SortMergeJoin"), plan.count("BroadcastHashJoin")


# --------------------------------------------------------------------------
# session
# --------------------------------------------------------------------------

def main(cfg_path: str) -> int:
    cfg = json.loads(Path(cfg_path).read_text())
    res: dict = {"errors": [], "queries": []}
    try:
        spark = setup(cfg)
        res["setup_s"] = time.time() - cfg["t0"]
        tr = Tracer(spark, cfg["trace"])
        res["trace_start"] = t = time.time()
        build = docs_build if cfg["workload"] == "docs_build" else transcripts_build
        graph_dir = cfg["out"] if cfg["workload"] == "docs_build" else f"{cfg['out']}/graph"
        try:
            res["build_info"] = build(spark, cfg, cfg["out"], tr)
            res["build_s"] = time.time() - t
            res["build_ok"] = True
        except Exception:  # a failed build is a failed operation, not a crash
            res["errors"].append("build raised:\n" + traceback.format_exc())
            res["build_ok"] = False
        res["build_end"] = time.time()
        if res["build_ok"] and not cfg.get("build_only"):
            serve_and_check(spark, cfg, graph_dir, tr, res)
        res["spans"] = tr.spans
        t = time.time()
        spark.stop()
        res["stop_s"] = time.time() - t
    except Exception:
        res["errors"].append(traceback.format_exc())
    Path(cfg["result"]).write_text(json.dumps(res))
    return 0


def serve_and_check(spark, cfg: dict, graph_dir: str, tr: Tracer, res: dict) -> None:
    """One closed-loop client sends rounds of the five clean queries: one
    round and more until ``seconds`` have passed, or ``TRACED_ROUNDS`` in a
    traced run, always finishing the round it is in. The next query goes
    out when the previous reply has arrived and been checked; checking is
    client think time, outside the latency. Then the build is checked."""
    from checks import Oracle

    t = time.time()
    oracle = Oracle(cfg, graph_dir, CLEAN_QUERIES)
    res["oracle_s"] = time.time() - t
    try:
        frames = clean_frames(spark, graph_dir, cfg["workload"])
        deadline = time.time() + cfg["seconds"]
        i = 0
        rounds = TRACED_ROUNDS if tr.enabled else 1
        while (
            i < rounds * len(CLEAN_QUERIES)
            or i % len(CLEAN_QUERIES)
            or (not tr.enabled and time.time() < deadline)
        ):
            name = CLEAN_QUERIES[i % len(CLEAN_QUERIES)]
            entry = {"query": name}
            with tr.span(f"clean.{name}"):
                t = time.perf_counter()
                try:
                    df = frames[name]()
                    table = df.toArrow()
                    entry["s"] = time.perf_counter() - t
                except Exception:
                    entry["error"] = traceback.format_exc()
                    table = None
            if table is not None:
                entry["rows"] = table.num_rows
                entry["error"] = oracle.clean_diff(name, table)
                if tr.enabled:
                    entry["smj"], entry["bhj"] = join_counts(df)
            res["queries"].append(entry)
            i += 1
        t = time.time()
        with tr.group("checks"):
            res["checks"] = oracle.check_build(spark)
        res["checks_s"] = time.time() - t
    finally:
        oracle.close()


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
