#!/usr/bin/env python
"""One-command full pipeline: transcripts → graph tables + canonical ids.

spark-submit --py-files dist/dstlr_spark.zip jobs/build_kg.py \
    --input /path/transcripts --output /path/kg \
    [--facts /path/facts --mapping /path/property_relation.csv] \
    [--n-buckets 64 --partitions 2048]

Composes the four reference-shaped jobs (extract → enrich → load →
canonicalize) from the stages of plans/pipeline.py, with the resumable
ledger in front; re-running resumes from the last completed bucket and
re-runs a bucket whose input changed. ``graph/_COMPLETE`` marks a graph
whose tables and canonical ids were all written: a re-run that
processed no bucket and finds it skips the graph, FK check and
canonicalize steps, and a run that crashed mid-graph left no marker, so
it rebuilds.
"""

from __future__ import annotations

import argparse
from pathlib import Path

from pyspark.sql import functions as F

from dstlr_spark.operators.canonicalize import canonicalize_mentions
from dstlr_spark.operators.enrich import enrich_triples
from dstlr_spark.operators.graph import validate_fk
from dstlr_spark.plans.ledger import read_output, run_with_ledger
from dstlr_spark.plans.pipeline import extract_chunk, write_graph
from dstlr_spark.schemas import PROPERTY_RELATION_SCHEMA
from dstlr_spark.session import get_spark
from dstlr_spark.sources.io import read_table


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--alias-dict", default=None)
    p.add_argument("--facts", default=None)
    p.add_argument("--mapping", default=None)
    p.add_argument("--partitions", type=int, default=8)
    p.add_argument("--n-buckets", type=int, default=64)
    p.add_argument("--sent-length-threshold", type=int, default=128)
    args = p.parse_args()

    spark = get_spark("dstlr-build-kg")
    transcripts = read_table(spark, args.input)

    if args.alias_dict:
        aliases = read_table(spark, args.alias_dict)
    else:
        from dstlr_spark.sources.fixtures import alias_dict

        aliases = alias_dict(spark)

    stats = run_with_ledger(
        transcripts, f"{args.output}/triples", f"{args.output}/_progress",
        lambda chunk: extract_chunk(
            chunk, aliases, args.partitions, args.sent_length_threshold
        ),
        n_buckets=args.n_buckets,
    )
    print(f"extract: {stats}")

    graph_dir = f"{args.output}/graph"
    marker = Path(graph_dir) / "_COMPLETE"
    if stats["processed"] == 0 and marker.exists():
        print("graph: up to date")
        spark.stop()
        return
    marker.unlink(missing_ok=True)

    bag = read_output(spark, f"{args.output}/triples").drop("bucket")

    if args.facts and args.mapping:
        facts = read_table(spark, args.facts)
        mapping = spark.read.csv(
            args.mapping, header=True, schema=PROPERTY_RELATION_SCHEMA
        )
        bag = bag.unionByName(enrich_triples(bag, facts, mapping))

    graph = write_graph(bag, graph_dir)
    print(f"fk orphans: {validate_fk(graph)}")

    # cross-document canonical ids (north rule) — additive table
    from dstlr_spark.functions.text import lemma_key

    mentions = bag.where(F.col("relation") == "MENTIONS").select(
        F.col("objectValue").alias("mention_id"),
        lemma_key(F.col("meta")["span"]).alias("key"),  # X4 identity key
    ).dropDuplicates(["mention_id"])
    canonicalize_mentions(mentions, graph["links_to"]).write.mode("overwrite").parquet(
        f"{graph_dir}/canonical_ids"
    )
    marker.touch()
    print("build_kg done")
    spark.stop()


if __name__ == "__main__":
    main()
