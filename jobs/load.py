#!/usr/bin/env python
"""Job 3 — load: triple bag → partitioned graph tables (reference
LoadTriples; Neo4j MERGE → dedup-on-keys columnar tables, parallel).

spark-submit --py-files dist/dstlr_spark.zip jobs/load.py \
    --triples /path/triples --ground-truth /path/ground_truth \
    --output /path/graph
"""

from __future__ import annotations

import argparse

from dstlr_spark.operators.graph import validate_fk
from dstlr_spark.plans.pipeline import write_graph
from dstlr_spark.session import get_spark
from dstlr_spark.sources.io import read_table


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--triples", required=True)
    p.add_argument("--ground-truth", default=None)
    p.add_argument("--output", required=True)
    args = p.parse_args()

    spark = get_spark("dstlr-load")
    bag = read_table(spark, args.triples)
    if "bucket" in bag.columns:  # ledger partition column, not triple data
        bag = bag.drop("bucket")
    if args.ground_truth:
        bag = bag.unionByName(read_table(spark, args.ground_truth))
    orphans = validate_fk(write_graph(bag, args.output))
    print(f"load done; fk orphans: {orphans}")
    spark.stop()


if __name__ == "__main__":
    main()
