#!/usr/bin/env python
"""KG-analytics release job: every graph report table in one pass.

spark-submit --py-files dist/dstlr_spark.zip jobs/graph_report.py \
    --sf-dir /root/testdata/sf0.1 --output /path/kg_report

Emits the graph-layer tables a knowledge-graph release ships (the
reference publishes its graph to Neo4j and runs demo.md's Cypher
analytics; this is that surface as partitioned parquet):

  comention/    weighted entity co-mention edges (kg_entity_comention)
  comention_pmi/ co-mention pair association in integer PMI bits (kg_comention_pmi)
  pagerank/     integer-ppb PageRank over the co-mention graph
  hits/         hubs/authorities over the directed triple graph
  kcore/        onion-layer k-core peel rounds
  communities/  deterministic label-propagation communities
  rules/        AMIE-style composition rules w/ ppm confidence
  signatures/   per-relation functionality statistics
  nil/          NIL-entity proposals for unlinked mentions
  trend/        per-relation early/late observation drift
  quality/      clustering coefficient + degree (hub-vs-bridge triage)
  conductance/  per-community cut quality of the LPA partition
  assortativity/ one-row Newman degree-assortativity audit
  blocking/     ER lemma-block purity audit
  calibration/  agreement-by-distance extraction-precision curve
  variants/     entity name-variant dictionary (alias-table export)
  predictions/  rule-applied link predictions (conv-grounded KB completion)
  novelty/      per-conversation first-observation novelty curve

Every table is produced by the same oracle-gated operators the driver
value-checks — this job is their composition, not a re-implementation.
Extraction state is shared across all tables via the session
memo (one annotator pass; on a cluster the staged mention/link frames
are Iceberg stage tables).
"""

from __future__ import annotations

import argparse

from dstlr_spark.session import get_spark


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--sf-dir", required=True)
    p.add_argument("--output", required=True)
    args = p.parse_args()

    spark = get_spark("dstlr-graph-report")
    from dstlr_spark.queries.doc_kg import (
        q_comention_pmi,
        q_entity_comention,
        q_entity_hits,
        q_entity_kcore,
        q_entity_pagerank,
        q_label_propagation,
        q_agreement_by_distance,
        q_blocking_quality,
        q_clustering_coefficient,
        q_community_conductance,
        q_conv_novelty,
        q_degree_assortativity,
        q_name_variants,
        q_nil_entities,
        q_relation_signature,
        q_relation_trend,
        q_rule_mining,
        q_rule_predictions,
    )

    tables = {
        "comention": q_entity_comention,
        "comention_pmi": q_comention_pmi,
        "pagerank": q_entity_pagerank,
        "hits": q_entity_hits,
        "kcore": q_entity_kcore,
        "communities": q_label_propagation,
        "rules": q_rule_mining,
        "signatures": q_relation_signature,
        "nil": q_nil_entities,
        "trend": q_relation_trend,
        "quality": q_clustering_coefficient,
        "conductance": q_community_conductance,
        "assortativity": q_degree_assortativity,
        "calibration": q_agreement_by_distance,
        "blocking": q_blocking_quality,
        "variants": q_name_variants,
        "predictions": q_rule_predictions,
        "novelty": q_conv_novelty,
    }
    for name, q in tables.items():
        df = q(spark, args.sf_dir)
        df.write.mode("overwrite").parquet(f"{args.output}/{name}")
        print(f"{name}: {spark.read.parquet(f'{args.output}/{name}').count()} rows")


if __name__ == "__main__":
    main()
