#!/usr/bin/env python
"""Job 1 — extract: transcripts → triples (reference ExtractTriples).

spark-submit --py-files dist/dstlr_spark.zip jobs/extract.py \
    --input /path/transcripts --output /path/triples \
    --ledger /path/_progress --partitions 2048 \
    --sent-length-threshold 256 --n-buckets 64

Resumable: re-running after an interruption processes only pending
conv-id buckets and the ones whose input changed (plans/ledger.py).
"""

from __future__ import annotations

import argparse

from dstlr_spark.operators.extract import DEFAULT_SENT_THRESHOLD
from dstlr_spark.plans.ledger import run_with_ledger
from dstlr_spark.plans.pipeline import extract_chunk
from dstlr_spark.session import get_spark
from dstlr_spark.sources.io import read_table


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--ledger", required=True)
    p.add_argument(
        "--alias-dict", default=None,
        help="parquet (alias, entity_id, prior); default: built-in fixture",
    )
    p.add_argument(
        "--where", default=None,
        help="SQL predicate pushed to the transcripts scan "
             "(the Solr --query option's analog, ExtractTriples.scala:175)",
    )
    p.add_argument(
        "--max-rows", type=int, default=None,
        help="input row cap: the first rows in (conv_id, turn_idx, text) "
             "order (the Solr --max_rows paging analog)",
    )
    p.add_argument("--partitions", type=int, default=8)  # package.scala:30
    p.add_argument(
        "--sent-length-threshold", type=int, default=DEFAULT_SENT_THRESHOLD
    )  # package.scala:31
    p.add_argument("--n-buckets", type=int, default=64)
    args = p.parse_args()

    spark = get_spark("dstlr-extract")
    transcripts = read_table(spark, args.input)
    if args.where:
        transcripts = transcripts.where(args.where)  # Catalyst pushes to the scan
    if args.max_rows:
        # a top-N, not a bare limit: the ledger reads its input once per
        # fingerprint and once per group, and an unordered limit may keep
        # different rows on each read
        transcripts = transcripts.orderBy("conv_id", "turn_idx", "text").limit(
            args.max_rows
        )
    if args.alias_dict:
        aliases = read_table(spark, args.alias_dict)
    else:
        from dstlr_spark.sources.fixtures import alias_dict

        aliases = alias_dict(spark)

    # reference parity: the extract job emits LINKS_TO rows too
    stats = run_with_ledger(
        transcripts, args.output, args.ledger,
        lambda chunk: extract_chunk(
            chunk, aliases, args.partitions, args.sent_length_threshold
        ),
        n_buckets=args.n_buckets,
    )
    print(f"extract done: {stats}")
    spark.stop()


if __name__ == "__main__":
    main()
