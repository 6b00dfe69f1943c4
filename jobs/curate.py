#!/usr/bin/env python
"""Training-data curation pipeline: documents → curated, packed chunks.

spark-submit --py-files dist/dstlr_spark.zip jobs/curate.py \
    --input /path/documents.parquet --output /path/curated \
    [--sample-hex 19999999999999999999999999999999] \
    [--min-quality-ppm 0 --max-stop-ratio-ppm 900000]

Stages (each a first-class operator with its own DuckDB-oracled query):
  1. deterministic hash sample    (text_sample_deterministic semantics)
  2. exact dedup                  (keep the canonical doc per text hash)
  3. MinHash-LSH near-dup drop    (keep the lexicographic min of each
                                   verified near-dup pair's doc ids)
  3c. decontamination (opt-in)    (raw-vs-raw gram collision vs the eval
                                   set at production thresholds n=13/
                                   min_hits=1 — runs BEFORE the scrub so
                                   redaction can't mask an overlap)
  4. quality filter               (stopword-ratio bound, ppm integer math)
  4b. repetition filter           (dup-2-gram bound, text_repetition semantics)
  4c. PII scrub (opt-in)          (curate_pii_scrub's byte-exact redaction,
                                   after all matching, before chunking)
  5. context-window chunking      (64-token windows, stride 48)
  6. packing stats                (per-shard greedy packs — the batch
                                   layout the training loader consumes)

Every stage is deterministic (content-hash sampling, content-addressed
dedup, integer-ppm thresholds), so re-runs and resumes are byte-stable.
"""

from __future__ import annotations

import argparse

from pyspark.sql import functions as F

from dstlr_spark.session import get_spark


def _word_ngrams(docs, n: int):
    """(doc_id, shingle): distinct n-token grams per doc — the shared
    dedup shingler at a custom gram length."""
    from dstlr_spark.queries.dedup import _shingles

    return _shingles(docs, n_gram=n)


def curate(
    spark,
    input_path: str,
    sample_hex: str,
    max_stop_ratio_ppm: int,
    max_dup_2gram_ppm: int = 1_000_000,
    scrub_pii: bool = False,
    eval_grams=None,
    contam_min_hits: int = 1,
    contam_ngram_n: int = 13,
):
    from dstlr_spark.queries.dedup import (
        JACCARD_THRESHOLD,
        _banded,
        minhash_candidate_pairs,
        _shingles,
    )
    from dstlr_spark.queries.textstats import STOPWORDS

    docs = spark.read.parquet(input_path).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )

    # 1. deterministic sample (content-addressed ticket < hex threshold)
    ticket = F.md5(F.concat_ws("|", F.lit("sample"), F.col("doc_id")))
    sampled = docs.where(ticket < F.lit(sample_hex))

    # 2. exact dedup: keep the minimum doc_id per text hash
    h = sampled.withColumn("text_hash", F.md5(F.col("text")))
    keep = h.groupBy("text_hash").agg(F.min("doc_id").alias("doc_id"))
    exact = h.join(keep, ["text_hash", "doc_id"]).drop("text_hash")

    # 3. near-dup drop: LSH candidates → exact Jaccard ≥ threshold →
    #    drop the larger doc id of each verified pair (anti-join)
    # the shingle frame feeds the candidate generator plus both rescore
    # sides and the size dim — persist the narrow waist ONCE and derive
    # everything (signatures included) from it: one scan of the corpus
    sh = _shingles(exact).persist()
    cand = minhash_candidate_pairs(_banded(sh).localCheckpoint())
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    inter = (
        cand.join(sh.select(F.col("doc_id").alias("doc_a"), "shingle"), "doc_a")
        .join(sh.select(F.col("doc_id").alias("doc_b"), "shingle"), ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    thr = int(JACCARD_THRESHOLD * 1_000_000)
    dupes = (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b")), "doc_b")
        .where(F.expr("(n_common * 1000000L) DIV (sz_a + sz_b - n_common)") >= thr)
        .select(F.col("doc_b").alias("doc_id"))  # doc_a < doc_b: keep a, drop b
        .distinct()
    )
    deduped = exact.join(dupes, "doc_id", "left_anti")

    # 3c. benchmark decontamination (opt-in): drop docs sharing ≥
    #     contam_min_hits distinct contam_ngram_n-token grams with the
    #     eval gram set (q_decontaminate's plan shape at PRODUCTION
    #     thresholds: n=13 / min_hits=1 — any 13-gram overlap is
    #     contamination, the GPT-3/Llama recipe; the gated query's
    #     n=3 / min_hits=2 exists to exercise the join on a corpus
    #     where grams actually collide). ``eval_grams`` is a
    #     single-column ('shingle') frame of RAW-text grams at the same
    #     n — benchmark-sized, so it broadcasts. Short grams collide by
    #     chance: on this corpus 3-grams background-match 94% of docs
    #     while 13-grams match only true overlaps. Matching is raw-vs-
    #     raw — the PII scrub deliberately runs AFTER this stage so
    #     redaction can never mask a benchmark overlap. At n == the
    #     dedup shingle width the stage reuses the SAME persisted
    #     shingle frame as the near-dup stage (zero extra corpus
    #     scans); otherwise it derives its own gram posting list (one
    #     extra map-only scan).
    if eval_grams is not None:
        from dstlr_spark.queries.dedup import NGRAM_N

        doc_grams = sh if contam_ngram_n == NGRAM_N else _word_ngrams(
            deduped, contam_ngram_n
        )
        contaminated = (
            doc_grams.join(
                F.broadcast(eval_grams.select("shingle").distinct()), "shingle"
            )
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("_hits"))
            .where(F.col("_hits") >= contam_min_hits)
            .select("doc_id")
        )
        deduped = deduped.join(contaminated, "doc_id", "left_anti")

    # 4. quality filter: stopword ratio bound (integer ppm)
    toks = F.split(F.col("text"), " ")
    n = F.size(toks).cast("long")
    n_stop = F.size(F.filter(toks, lambda t: t.isin(STOPWORDS))).cast("long")
    quality = deduped.withColumn("n_tokens", n).withColumn("n_stop", n_stop).where(
        F.expr("(n_stop * 1000000L) DIV n_tokens") <= max_stop_ratio_ppm
    )

    # 4b. repetition filter (Gopher-style): drop docs whose duplicate-
    #     2-gram fraction exceeds the bound (text_repetition semantics,
    #     integer ppm; the permissive default keeps every doc)
    if max_dup_2gram_ppm < 1_000_000:
        g2 = F.when(
            n >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - 1),
                lambda i: F.array_join(F.slice(toks, i, 2), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))
        quality = quality.withColumn(
            "_n2", F.size(g2).cast("long")
        ).withColumn(
            "_u2", F.size(F.array_distinct(g2)).cast("long")
        ).where(
            F.expr(
                "CASE WHEN _n2 > 0 THEN ((_n2 - _u2) * 1000000L) DIV _n2"
                " ELSE 0 END"
            )
            <= max_dup_2gram_ppm
        ).drop("_n2", "_u2")

    # 4c. PII scrub (opt-in): redact AFTER every matching/hashing stage
    #     (decontamination must compare raw-vs-raw; dedup decisions on
    #     raw text carry over — redaction never adds/removes spaces, so
    #     token geometry is unchanged) and BEFORE chunking, so the
    #     chunks are exactly what the model trains on
    #     (curate_pii_scrub's byte-exact ordered redaction)
    if scrub_pii:
        from dstlr_spark.queries.curation import redact_pii

        quality = quality.withColumn("text", redact_pii(F.col("text")))

    # 5. context-window chunks (the training examples)
    from dstlr_spark.queries.textstats import CHUNK_STRIDE, CHUNK_TOKENS

    k = F.greatest(
        F.lit(1),
        (F.ceil((n - F.lit(CHUNK_TOKENS)) / F.lit(CHUNK_STRIDE)) + 1).cast("int"),
    )
    chunks_arr = F.transform(
        F.sequence(F.lit(0), k - 1),
        lambda i: F.array_join(
            F.slice(toks, i * CHUNK_STRIDE + 1, CHUNK_TOKENS), " "
        ),
    )
    chunks = quality.select(
        "doc_id", F.posexplode(chunks_arr).alias("chunk_idx", "chunk_text")
    )
    return quality.select("doc_id", "text", "n_tokens"), chunks


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--sample-hex", default="1" + "9" * 31)  # ≈ 10%
    p.add_argument("--max-stop-ratio-ppm", type=int, default=1_000_000)
    p.add_argument("--max-dup-2gram-ppm", type=int, default=1_000_000)
    p.add_argument("--scrub-pii", action="store_true")
    p.add_argument(
        "--eval-grams",
        help="parquet of benchmark n-grams (column 'shingle'); enables "
        "the decontamination stage",
    )
    p.add_argument("--contam-min-hits", type=int, default=1)
    p.add_argument("--contam-ngram-n", type=int, default=13)
    args = p.parse_args()

    spark = get_spark("dstlr-curate")
    # every stage is built-in column expressions — no Python UDFs, so no
    # worker-side dstlr_spark import is needed
    curated, chunks = curate(
        spark, args.input, args.sample_hex, args.max_stop_ratio_ppm,
        args.max_dup_2gram_ppm,
        scrub_pii=args.scrub_pii,
        eval_grams=(
            spark.read.parquet(args.eval_grams) if args.eval_grams else None
        ),
        contam_min_hits=args.contam_min_hits,
        contam_ngram_n=args.contam_ngram_n,
    )
    curated.write.mode("overwrite").parquet(f"{args.output}/documents")
    chunks.write.mode("overwrite").parquet(f"{args.output}/chunks")
    n_docs = spark.read.parquet(f"{args.output}/documents").count()
    n_chunks = spark.read.parquet(f"{args.output}/chunks").count()
    print(f"curate done: {n_docs} docs -> {n_chunks} chunks")
    spark.stop()


if __name__ == "__main__":
    main()
