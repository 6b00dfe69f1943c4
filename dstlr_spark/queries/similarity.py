"""Similarity search over the ``embeddings`` table (array<float>, 64-d).

All driver-contract queries with DuckDB value oracles — brute-force
cosine top-k, hyperplane-LSH, IVF cells, k-means codebook training,
product-quantization ADC, and the LSH-bucketed embedding near-dup.
The two foundational paths:

- ``sim_topk_cosine`` — brute-force cosine top-k: the correctness
  baseline. Embeddings are QUANTIZED to integers (floor(x·10⁴)) so the
  dot product and norms are exact integer arithmetic — bit-identical in
  any engine and any summation order; only the final
  ``dot / (√na·√nb)`` touches floats, as one fixed IEEE expression.
- ``sim_ann_lsh`` — random-hyperplane LSH: 8 deterministic integer
  hyperplanes (``r_j[i] = ((37 i + 101 j) mod 19) − 9``) → 8 sign bits →
  bucket; candidates only meet inside a bucket. This is the 100 TB
  path: bucketing is a map-side expression + one equi-join, versus the
  brute-force cross join.

Scale notes: brute force is O(Q·N·d) — fine for rescoring a candidate
set, wrong as a primary index; the LSH variant (or an IVF with k-means
centroids as the dictionary) is the index. Q here = vec_id < 10.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

QUANT = 10_000
N_QUERIES = 10
TOP_K = 5
N_PLANES = 8
DIM = 64


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, q: array<long> quantized, norm: long) — staged once per
    (session, sf_dir): eight similarity/near-dup queries consume the
    quantized frame, so a correctness-gate run materializes the
    parquet-read + quantize + norm pipeline once (the production analog:
    one quantized-embedding stage table all index builds read)."""
    from dstlr_spark.queries._memo import staged

    return staged(spark, ("emb", sf_dir), lambda: _emb_build(spark, sf_dir))


def _emb_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dstlr_spark.plans.partitioning import fan_out

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * QUANT).cast("long"),
    )
    return fan_out(
        e.select(F.col("vec_id").cast("long").alias("vec_id"), q.alias("q"))
        .withColumn(
            "norm",
            F.aggregate(
                F.transform(F.col("q"), lambda v: v * v),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ),
        )
        # cosine is undefined for the zero vector (a failed-encoder
        # artifact in real corpora) — excluded at ingestion, mirrored in
        # _QUANT_SQL, so no scoring expression can divide by zero
        .where(F.col("norm") > 0)
        # single-row-group input: every map-side consumer (GEMM blocks,
        # LSH hashing, argmin assignment, brute-force scoring) would
        # otherwise run in ONE task (guide §2/§6); the staged frame is
        # checkpointed, so the spread is paid once per (session, sf_dir)
    )


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def q_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    queries = e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("q").alias("qv"), F.col("norm").alias("qn")
    )
    pairs = e.crossJoin(F.broadcast(queries)).where(F.col("vec_id") != F.col("q_id"))
    scored = pairs.select(
        "q_id",
        "vec_id",
        _dot(F.col("qv"), F.col("q")).alias("dot"),  # integer dot, computed once
        "qn",
        "norm",
    ).select(
        "q_id",
        "vec_id",
        "dot",
        (
            F.col("dot")
            / (F.sqrt(F.col("qn").cast("double")) * F.sqrt(F.col("norm").cast("double")))
        ).alias("score"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("q_id", "vec_id", "rank", "dot", F.round("score", 6).alias("score"))
    )


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining — the training-data op behind
    embedding-model fine-tuning (SimCSE/DPR-style): for each query
    anchor, the TOP_K vectors with the HIGHEST cosine similarity whose
    ``label`` differs from the anchor's. These near-miss wrong-class
    items are exactly the negatives a contrastive loss learns most
    from; random negatives are trivially separable and teach nothing.

    Semantics: the `sim_topk_cosine` scoring spec (integer-quantized
    dot + one fixed IEEE division) with a label anti-filter BEFORE
    ranking, so rank k = the k-th hardest negative. Labels ride from
    the embeddings table; the anchor's own label is excluded, not just
    its vec_id.

    Scale shape: identical to the brute-force baseline — the Q-anchor
    broadcast cross join is loudly bounded (Q = N_QUERIES; documented
    at `_emb`), and the production path is the same mining through the
    LSH/IVF index (bucket first, label-filter inside the bucket) that
    `sim_ann_lsh` / `sim_ivf_probe_topk` gate. The label filter
    REDUCES candidate volume; nothing new shuffles."""
    e = _emb(spark, sf_dir)
    labels = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select(F.col("vec_id").cast("long").alias("vec_id"),
                F.col("label").cast("int").alias("label"))
    )
    el = e.join(labels, "vec_id")
    queries = el.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("q").alias("qv"),
        F.col("norm").alias("qn"),
        F.col("label").alias("q_label"),
    )
    pairs = el.crossJoin(F.broadcast(queries)).where(
        F.col("label") != F.col("q_label")
    )
    scored = pairs.select(
        "q_id",
        "vec_id",
        "q_label",
        F.col("label").alias("neg_label"),
        _dot(F.col("qv"), F.col("q")).alias("dot"),
        "qn",
        "norm",
    ).select(
        "q_id",
        "vec_id",
        "q_label",
        "neg_label",
        "dot",
        (
            F.col("dot")
            / (F.sqrt(F.col("qn").cast("double")) * F.sqrt(F.col("norm").cast("double")))
        ).alias("score"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select(
            "q_id", "vec_id", "rank", "q_label", "neg_label",
            "dot", F.round("score", 6).alias("score"),
        )
    )


MRL_PREFIX_DIM = 16  # coarse pass uses the embedding's first 16 dims
MRL_SHORTLIST = 20  # coarse candidates per query fed to full-dim rescore


def q_mrl_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka two-stage ANN: rank on the PREFIX of the embedding
    (first MRL_PREFIX_DIM dims — the MRL property that prefixes are
    themselves usable embeddings), keep a per-query shortlist, then
    rescore ONLY the shortlist with full-dimension cosine. The coarse
    pass touches dim/4 of the bytes per comparison and the fine pass
    touches MRL_SHORTLIST rows per query instead of the corpus — the
    standard memory-bandwidth lever for 100 TB vector scans (a 4×
    cheaper first pass with exact reranking on survivors). Both stages
    integer-quantized; deterministic tie-breaks; exact oracle.

    Recall caveat (measured, like the LSH calibration): the synthetic
    embeddings are iid noise — the adversarial case for ANY
    dimensionality reduction, since a random prefix carries only
    prefix/dim of the signal. Measured recall@5 on this corpus:
    shortlist 20→38%, 50→58%, 200→88% (pinned as a floor in tests).
    Trained MRL embeddings place ranking signal IN the prefix by
    construction — production recall at shortlist=20 is near-total
    there, and the shortlist size is the recall/bandwidth knob."""
    e = _emb(spark, sf_dir)
    pre = e.select(
        "vec_id", "q", "norm",
        F.slice(F.col("q"), 1, MRL_PREFIX_DIM).alias("qp"),
    ).withColumn(
        "pnorm",
        F.aggregate(
            F.transform(F.col("qp"), lambda v: v * v),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    ).where(F.col("pnorm") > 0)
    queries = pre.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("q").alias("qv"), F.col("norm").alias("qn"),
        F.col("qp").alias("qvp"), F.col("pnorm").alias("qpn"),
    )
    coarse = (
        pre.crossJoin(F.broadcast(queries))
        .where(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id", "vec_id", "q", "norm", "qv", "qn",
            (
                _dot(F.col("qvp"), F.col("qp"))
                / (
                    F.sqrt(F.col("qpn").cast("double"))
                    * F.sqrt(F.col("pnorm").cast("double"))
                )
            ).alias("coarse_score"),
        )
    )
    wc = Window.partitionBy("q_id").orderBy(
        F.col("coarse_score").desc(), F.col("vec_id").asc()
    )
    shortlist = coarse.withColumn("crank", F.row_number().over(wc)).where(
        F.col("crank") <= MRL_SHORTLIST
    )
    fine = shortlist.select(
        "q_id", "vec_id",
        (
            _dot(F.col("qv"), F.col("q"))
            / (F.sqrt(F.col("qn").cast("double")) * F.sqrt(F.col("norm").cast("double")))
        ).alias("score"),
    )
    wf = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("vec_id").asc())
    return (
        fine.withColumn("rank", F.row_number().over(wf))
        .where(F.col("rank") <= TOP_K)
        .select("q_id", "vec_id", "rank", F.round("score", 6).alias("score"))
    )


def _bucket_col(q):
    """8 hyperplane sign bits packed into one int (exact integer dots)."""
    bucket = F.lit(0)
    for j in range(N_PLANES):
        dot_j = F.aggregate(
            F.zip_with(
                q,
                F.sequence(F.lit(0), F.lit(DIM - 1)),
                lambda x, i: x * (((i * 37 + j * 101) % 19) - 9),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(dot_j >= 0, F.lit(1 << j)).otherwise(F.lit(0))
    return bucket.cast("int")


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidates: query and vector agree on all 8 hyperplane signs;
    candidates carry the exact quantized score for rescoring."""
    e = _emb(spark, sf_dir).withColumn("bucket", _bucket_col(F.col("q")))
    queries = e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("q").alias("qv"),
        F.col("norm").alias("qn"),
        F.col("bucket").alias("q_bucket"),
    )
    cand = e.join(
        F.broadcast(queries),
        (F.col("bucket") == F.col("q_bucket")) & (F.col("vec_id") != F.col("q_id")),
    )
    return cand.select(
        "q_id",
        "vec_id",
        "bucket",
        F.round(
            _dot(F.col("qv"), F.col("q"))
            / (F.sqrt(F.col("qn").cast("double")) * F.sqrt(F.col("norm").cast("double"))),
            6,
        ).alias("score"),
    )


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k monitor for the hyperplane-LSH index: per query, what
    fraction of the EXACT cosine top-k survives in the LSH candidate
    set — the evaluation operator every production ANN deployment runs
    continuously (on a query SAMPLE) to catch index drift, because an
    index whose recall silently decays is worse than a slow one.

    recall_ppm is exact integer math ((10⁶·n_hit) DIV n_exact) so both
    engines hash identically; the exact top-k side reuses the
    brute-force ranking (fine at sample scale — N_QUERIES queries, not
    the corpus) and the candidate side reuses the bucket equi-join.

    Scale shape: the expensive side is the exact baseline, which is
    deliberately sample-bounded (queries are broadcast; the scan is
    one corpus pass). The comparison itself is a left-semi join on
    (q_id, vec_id) — candidate-set-sized — plus two query-keyed hash
    aggregates. At 100 TB the sample size is the knob; the plan shape
    does not change."""
    exact = q_topk_cosine(spark, sf_dir).select("q_id", "vec_id")
    cand = q_ann_lsh(spark, sf_dir).select("q_id", "vec_id")
    hits = (
        exact.join(cand, ["q_id", "vec_id"], "left_semi")
        .groupBy("q_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hit"))
    )
    base = exact.groupBy("q_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_exact")
    )
    return (
        base.join(hits, "q_id", "left")
        .select(
            "q_id",
            "n_exact",
            F.coalesce(F.col("n_hit"), F.lit(0).cast("long")).alias("n_hit"),
            F.expr(
                "(1000000L * coalesce(n_hit, 0L)) DIV n_exact"
            ).alias("recall_ppm"),
        )
    )


IVF_STRIDE = 50  # centroid set = vectors with vec_id % 50 == 0 (seeded, fixed)
IVF_TOP_K = 3


def _l2_int(a, b):
    """Exact integer squared-L2 between quantized vectors."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _nearest_centroid(df: DataFrame, cents: DataFrame, *cols: str) -> DataFrame:
    """(vec_id, cell, *cols): each quantized vector of ``df`` assigned to
    its nearest centroid id (exact integer squared-L2, ties to the
    smallest cid) by a pandas_udf over a driver-collected, broadcast
    centroid matrix. An empty centroid set assigns nothing: the result
    is empty.

    Replaces the former ``crossJoin(broadcast(cents))`` + higher-order
    ``aggregate(zip_with(...))`` + ``groupBy(vec_id).min_by`` shape:
    that plan materialized N·K rows each carrying two 64-element arrays
    and evaluated the distance as an interpreted per-row expression —
    O(N²/stride) rows since K grows with N (measured 172 s at sf1.0 for
    ``sim_kmeans_iters``). Here the same argmin is ONE vectorized GEMM
    per Arrow batch with no join and no shuffle (guide §4.2).

    Exactness: scores are ranked by s(c) = |c|² − 2·q·c, which differs
    from the true L2 by the per-row constant |q|². Every term is an
    integer of magnitude well below 2⁵³ (|q|∞, |c|∞ ≤ QUANT·range), so
    the float64 GEMM and sums are exact integers in any order — ties in
    s are exactly the ties in L2, and ``argmin`` over centroids sorted
    by cid returns the first (= smallest-cid) minimum, matching the old
    ``min_by(cid, struct(l2, cid))`` tie-break.
    """
    import numpy as np

    rows = sorted(cents.select("cid", "cq").collect(), key=lambda r: r[0])
    if not rows:
        return df.select(
            "vec_id", F.lit(None).cast("long").alias("cell"), *cols
        ).limit(0)
    cids = np.array([r[0] for r in rows], dtype=np.int64)
    ct = np.array([r[1] for r in rows], dtype=np.float64).T.copy()  # (64, K)
    c2 = (ct * ct).sum(axis=0)  # (K,)
    bc = df.sparkSession.sparkContext.broadcast((cids, ct, c2))

    @F.pandas_udf("long")
    def cell_of(qs: pd.Series) -> pd.Series:
        import numpy as np

        cids_r, ct_r, c2_r = bc.value
        if len(qs) == 0:
            return pd.Series([], dtype="int64")
        Q = np.stack(qs.values).astype(np.float64)  # (n, 64), exact ints
        s = Q @ ct_r  # (n, K) exact
        s *= -2.0
        s += c2_r[None, :]
        return pd.Series(cids_r[np.argmin(s, axis=1)])

    return df.select("vec_id", cell_of(F.col("q")).alias("cell"), *cols)


def _assigned_cells(e: DataFrame) -> DataFrame:
    """(vec_id, cell, q, norm): every vector assigned to its nearest
    seeded centroid — one map-side vectorized argmin over a broadcast
    centroid matrix (no join, no shuffle), shared by the IVF queries
    and semantic dedup."""
    cents = e.where(F.col("vec_id") % IVF_STRIDE == 0).select(
        F.col("vec_id").alias("cid"), F.col("q").alias("cq")
    )
    return _nearest_centroid(e, cents, "q", "norm")


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: assign every vector to its nearest centroid
    (integer L2, deterministic ties), then answer queries by searching
    ONLY the query's cell — the inverted-file index pattern. Centroids
    here are a fixed seeded subset standing in for k-means (the
    assignment/search dataflow — broadcast centroids, map-side argmin,
    cell-equi-join — is the part that must scale; training the
    codebook is an offline job).
    """
    e = _emb(spark, sf_dir)
    assigned = _assigned_cells(e)
    queries = assigned.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("q").alias("qv"),
        F.col("norm").alias("qn"),
        F.col("cell").alias("q_cell"),
    )
    cand = assigned.join(
        F.broadcast(queries),
        (F.col("cell") == F.col("q_cell")) & (F.col("vec_id") != F.col("q_id")),
    )
    scored = cand.select(
        "q_id",
        "vec_id",
        "cell",
        (
            _dot(F.col("qv"), F.col("q"))
            / (F.sqrt(F.col("qn").cast("double")) * F.sqrt(F.col("norm").cast("double")))
        ).alias("score"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= IVF_TOP_K)
        .select("q_id", "vec_id", "cell", "rank", F.round("score", 6).alias("score"))
    )


IVF_NPROBE = 2


def q_ivf_probe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF multi-probe search — the production ANN recall knob
    ``q_ann_ivf`` lacks: a query whose true neighbors sit just across a
    Voronoi boundary misses them at nprobe=1, so real IVF deployments
    probe the P nearest cells. Shape: broadcast-centroid argmin assigns
    every vector to its cell (one hash agg); each query ranks centroids
    (bounded N_QUERIES × n_cells frame — the window sort never touches
    the corpus) and probes its IVF_NPROBE nearest cells via the cell
    equi-join; exact integer-quantized cosine rescores candidates;
    deterministic per-query top-k. Candidates only ever meet through
    the cell join — corpus-side work stays one argmin + one equi-join
    regardless of nprobe."""
    e = _emb(spark, sf_dir)
    cents = e.where(F.col("vec_id") % IVF_STRIDE == 0).select(
        F.col("vec_id").alias("cid"), F.col("q").alias("cq")
    )
    assigned = _assigned_cells(e)
    qw = Window.partitionBy("q_id").orderBy(F.col("d").asc(), F.col("cid").asc())
    probes = (
        e.where(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("q_id"), F.col("q").alias("qv"),
            F.col("norm").alias("qn"),
        )
        .crossJoin(F.broadcast(cents))
        .withColumn("d", _l2_int(F.col("qv"), F.col("cq")))
        .withColumn("probe_rank", F.row_number().over(qw))
        .where(F.col("probe_rank") <= IVF_NPROBE)
        .select("q_id", "qv", "qn", F.col("cid").alias("cell"))
    )
    scored = (
        assigned.join(probes, "cell")
        .where(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id", "vec_id", "cell",
            (
                _dot(F.col("qv"), F.col("q"))
                / (
                    F.sqrt(F.col("qn").cast("double"))
                    * F.sqrt(F.col("norm").cast("double"))
                )
            ).alias("score"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= IVF_TOP_K)
        .select("q_id", "vec_id", "cell", "rank", F.round("score", 6).alias("score"))
    )


SEMDEDUP_TAU_PPM = 300_000  # cos ≥ 0.30 within a cell → semantic duplicate


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic deduplication (SemDeDup, Abbas et al. 2023): cluster
    the embedding space, then drop all-but-one of each within-cluster
    ε-ball — the pruning pass LLM corpora run AFTER lexical dedup to
    remove paraphrases and re-encodings lexical hashes can't see.

    Deterministic keep rule: a vector is dropped iff some SMALLER id in
    the same cell scores ≥ τ against it (keep-min-id; dropped vectors
    still drop others, matching the EXISTS formulation the oracle
    replays exactly — no iterative greedy state).

    Scale: pairwise work is CELL-BLOCKED — the self-join key is the
    cell id, so candidates only meet inside a Voronoi cell (cell count
    grows with the trained codebook at 100 TB: k ≈ √N cells keeps
    E[cell²] ≈ N, the same sub-quadratic budget as the LSH paths; the
    seeded-centroid stand-in here mirrors ``q_ann_ivf``). Integer-
    quantized scoring — engine-exact ppm verdicts."""
    e = _emb(spark, sf_dir)
    assigned = _assigned_cells(e)
    a = assigned.select(
        F.col("vec_id").alias("vec_a"), F.col("cell"),
        F.col("q").alias("qa"), F.col("norm").alias("na"),
    )
    b = assigned.select(
        F.col("vec_id").alias("vec_b"), F.col("cell"),
        F.col("q").alias("qb"), F.col("norm").alias("nb"),
    )
    score_ppm = F.floor(
        _dot(F.col("qa"), F.col("qb"))
        / (F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double")))
        * 1_000_000
    ).cast("long")
    dropped = (
        a.join(b, "cell")
        .where(F.col("vec_a") < F.col("vec_b"))
        .where(score_ppm >= SEMDEDUP_TAU_PPM)
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
    )
    return assigned.join(
        dropped.withColumn("dropped", F.lit(True)), "vec_id", "left"
    ).select(
        "vec_id", "cell",
        F.coalesce(~F.col("dropped"), F.lit(True)).alias("is_kept"),
    )


NEARDUP_TAU_PPM = 350_000  # cosine ≥ 0.35 (synthetic corpus max cos ≈ 0.6)
NEARDUP_EXACT_MAX_VECS = 250_000  # broadcast cap: N × 64 × 8 B ≈ 128 MB

_M64 = (1 << 64) - 1


def _neardup_plane(t: int, j: int) -> list[int]:
    """Deterministic pseudo-random hyperplane (ints in [-9, 9]) for hash
    table ``t``, bit ``j`` — a splitmix64 stream, so every (t, j) plane is
    independent (unlike a shared small-modulus lattice, which would make
    extra tables redundant). The same generator backs the offline recall
    tuner (tests/test_similarity_recall.py): zero missed pairs with a
    ≥2-table margin on all sf corpora."""
    vals = []
    x = (t * 0x9E3779B97F4A7C15 + j * 0xBF58476D1CE4E5B9 + 0x94D049BB133111EB) & _M64
    for _ in range(DIM):
        x = (x + 0x9E3779B97F4A7C15) & _M64
        z = x
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & _M64
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & _M64
        z = z ^ (z >> 31)
        vals.append((z % 19) - 9)
    return vals


def _neardup_buckets_udf(bits: int, tables: int):
    """All ``tables`` bucket ids per vector in ONE Arrow-batched
    matmul: (n × 64) @ (64 × T·b) sign test — exact int64 arithmetic,
    identical to the per-plane column expressions it replaces, but a
    single vectorized kernel instead of T·b codegen'd higher-order
    aggregates (measured ~4 s of plan/codegen overhead at 48 planes).
    Returns array<int> of length ``tables`` (index = table id)."""
    import numpy as np

    W = np.array(
        [_neardup_plane(t, j) for t in range(tables) for j in range(bits)],
        dtype=np.int64,
    )  # (T·b, 64)
    bitw = 1 << np.arange(bits, dtype=np.int64)

    @F.pandas_udf("array<int>")
    def buckets(qs: pd.Series) -> pd.Series:
        if len(qs) == 0:  # empty Arrow batch: np.stack would throw
            return pd.Series([], dtype=object)
        Q = np.stack(qs.values).astype(np.int64)  # (n, 64), exact ints
        signs = (Q @ W.T) >= 0  # (n, T·b)
        bt = signs.reshape(len(Q), tables, bits)
        bkt = (bt * bitw).sum(axis=2).astype(np.int32)
        return pd.Series(list(bkt))

    return buckets


def _neardup_candidates(e: DataFrame, bits: int, tables: int) -> DataFrame:
    """(vec_a, vec_b) distinct LSH candidate pairs: vectors agreeing on
    all ``bits`` hyperplane signs of ≥1 of the ``tables`` hash tables —
    candidates only ever meet via the (table, bucket) equi-join, never an
    all-pairs product."""
    keys = e.select(
        "vec_id",
        F.posexplode(_neardup_buckets_udf(bits, tables)(F.col("q"))).alias(
            "tbl", "bkt"
        ),
    )
    a = keys.select(F.col("vec_id").alias("vec_a"), "tbl", "bkt")
    b = keys.select(F.col("vec_id").alias("vec_b"), "tbl", "bkt")
    return (
        a.join(b, ["tbl", "bkt"])
        .where(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — the EXACT mode.

    τ=0.35 sits at ~p99.97 of the corpus pair-cosine distribution
    (qualifying pairs are 60-70° apart). The offline calibration
    (:func:`calibrate_neardup`, pinned by tests/test_similarity_recall
    ::test_calibration_documents_the_discrimination_limit) measures that
    NO hyperplane-LSH family reaches total recall at this τ with
    sub-quadratic candidates — every complete config floods ≥91% of all
    pairs. r2 shipped a 2-bit/24-table LSH here; its candidate equi-join
    materialized nearly the all-pairs product and re-joined both
    embedding sides onto it — pure overhead on an inherently all-pairs
    computation. The exact mode therefore runs the all-pairs kernel
    directly as a partition-blocked GEMM:

    - the quantized matrix (N × 64 int-valued float64, exact) broadcasts
      once (~128 MB at the N ≤ 250k guard);
    - each partition computes its block of the score matrix in ONE
      Arrow-batched float64 GEMM — dot values ≤ 64·QUANT² < 2^53, so
      the float64 products and sums are EXACT integers in any summation
      order, and the ppm expression is the same IEEE sequence the
      DuckDB all-pairs oracle evaluates;
    - only (vec_a < vec_b, score ≥ τ) rows leave the kernel.

    O(N²·d / P) work at BLAS throughput with ZERO shuffle: each left
    vector lives in exactly one partition, so every pair is emitted
    exactly once — no join, no distinct, no exchange in the plan.

    Scale boundary: this is the small-N exact operator (rescoring a
    corpus slice, validating an index); above NEARDUP_EXACT_MAX_VECS it
    refuses loudly. The 100 TB operating point is
    :func:`q_embedding_neardup_prod` — 12-bit/8-table LSH at τ=0.99,
    sub-quadratic by construction and by measurement.
    """
    import numpy as np

    e = _emb(spark, sf_dir)
    # bound check BEFORE the collect: an oversize corpus must fail here,
    # not after pulling every vector onto the driver
    if e.limit(NEARDUP_EXACT_MAX_VECS + 1).count() > NEARDUP_EXACT_MAX_VECS:
        raise ValueError(
            f"exact near-dup mode is bounded at {NEARDUP_EXACT_MAX_VECS} "
            "vectors; use q_embedding_neardup_prod (LSH) at scale"
        )
    rows = e.select("vec_id", "q", "norm").collect()
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    mat = np.array([r["q"] for r in rows], dtype=np.float64)
    sq = np.sqrt(np.array([r["norm"] for r in rows], dtype=np.float64))
    bc = spark.sparkContext.broadcast((ids, mat, sq))

    def blocks(batches):
        # right-side chunking bounds every temporary to ~tens of MB per
        # task (guide §5): the unchunked kernel materialized several
        # n_rows × N float64 matrices at once, and under heap/page-cache
        # pressure that allocation churn was measured at 16-30 s for a
        # kernel whose GEMM itself takes ~1 s. Per-element IEEE results
        # are unchanged: dots are exact integers in float64 (≤ 64·QUANT²
        # < 2^53, any summation order), and floor(dots / denom · 1e6) is
        # evaluated element-wise exactly as before.
        CHUNK = 4096
        ids_r, mat_r, sq_r = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            A = np.array(pdf["q"].to_list(), dtype=np.float64)
            aid = pdf["vec_id"].to_numpy(dtype=np.int64)
            an = np.sqrt(pdf["norm"].to_numpy(dtype=np.float64))
            for j0 in range(0, len(ids_r), CHUNK):
                mr = mat_r[j0 : j0 + CHUNK]
                dots = A @ mr.T
                ppm = np.floor(
                    dots / (an[:, None] * sq_r[None, j0 : j0 + CHUNK]) * 1e6
                ).astype(np.int64)
                keep = (ppm >= NEARDUP_TAU_PPM) & (
                    aid[:, None] < ids_r[None, j0 : j0 + CHUNK]
                )
                ai, bi = np.nonzero(keep)
                if len(ai):
                    yield pd.DataFrame(
                        {
                            "vec_a": aid[ai],
                            "vec_b": ids_r[j0 + bi],
                            "score_ppm": ppm[ai, bi],
                        }
                    )

    return e.mapInPandas(blocks, "vec_a long, vec_b long, score_ppm long")


NEARDUP_PROD_TAU_PPM = 990_000  # cos ≥ 0.99: re-encoded / jittered duplicates
NEARDUP_PROD_BITS = 12          # 4096 buckets per table
NEARDUP_PROD_TABLES = 8


def q_embedding_neardup_prod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup at the PRODUCTION operating point: the
    100 TB-shaped config (12-bit tables → 4096 buckets, 8 tables,
    τ=0.99 — re-encoded/jittered duplicate detection, the regime where
    near-dups are near-parallel vectors).

    Candidate volume is sub-quadratic by construction AND by
    measurement: per-table candidate fraction ≤ 0.11% of N(N−1)/2 and
    union ≤ 0.3% on every sf corpus and on the planted-duplicate
    calibration corpus (asserted in tests/test_similarity_recall.py,
    alongside 100% planted-pair recall with a ≥2-table margin). Output
    is every scored candidate with its verdict — (vec_a, vec_b,
    score_ppm, is_neardup) — so the gate value-checks bucket assignment
    AND rescore on the real candidate set even when the corpus contains
    no true 0.99-duplicates (the synthetic tables don't; the
    planted-corpus test is where recall is proven). The DuckDB oracle
    replays the identical plane matrix (inlined integer weights), so
    this gate verifies the implementation exactly rather than encoding a
    corpus-specific recall accident — the complement of
    ``dedup_embedding_neardup``'s exact all-pairs gate.
    """
    e = _emb(spark, sf_dir)
    cand = _neardup_candidates(e, NEARDUP_PROD_BITS, NEARDUP_PROD_TABLES)
    ea = e.select(F.col("vec_id").alias("vec_a"), F.col("q").alias("qa"),
                  F.col("norm").alias("na"))
    eb = e.select(F.col("vec_id").alias("vec_b"), F.col("q").alias("qb"),
                  F.col("norm").alias("nb"))
    score_ppm = F.floor(
        _dot(F.col("qa"), F.col("qb"))
        / (F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double")))
        * 1_000_000
    ).cast("long")
    return (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .select("vec_a", "vec_b", score_ppm.alias("score_ppm"))
        .withColumn(
            "is_neardup",
            (F.col("score_ppm") >= NEARDUP_PROD_TAU_PPM).cast("int"),
        )
    )


def calibrate_neardup(
    q_vectors,
    tau_ppm: int,
    bits_options=(2, 4, 6, 8, 12),
    max_tables: int = 64,
):
    """Offline LSH calibration (numpy twin of the Spark math; run on a
    sample at cluster scale): for each bits option, the smallest table
    count whose recall of cos ≥ τ pairs is total with 3 table hits per
    pair (a 2-table margin), plus its measured per-table candidate volume.
    Returns a list of dicts sorted by total candidate work; empty where
    no config within ``max_tables`` reaches total recall — which is the
    measured outcome on the synthetic corpora at τ=0.35 for every
    bits ≥ 6 (the discrimination limit documented on
    :func:`q_embedding_neardup`)."""
    import numpy as np

    q = np.asarray(q_vectors, dtype=np.int64)
    n = len(q)
    norms = (q * q).sum(1).astype(np.float64)
    ppm = np.floor(
        (q @ q.T) / (np.sqrt(norms)[:, None] * np.sqrt(norms)[None, :]) * 1e6
    ).astype(np.int64)
    qual = np.argwhere(np.triu(ppm >= tau_ppm, 1))
    tot = n * (n - 1) / 2
    out = []
    for bits in bits_options:
        planes = np.array(
            [[_neardup_plane(t, j) for j in range(bits)] for t in range(max_tables)],
            dtype=np.int64,
        )
        signs = np.einsum("tbd,nd->tbn", planes, q) >= 0
        buckets = np.zeros((max_tables, n), dtype=np.int64)
        for j in range(bits):
            buckets += signs[:, j, :].astype(np.int64) << j
        hits = (
            (buckets[:, qual[:, 0]] == buckets[:, qual[:, 1]]) if len(qual) else None
        )
        for tables in range(1, max_tables + 1):
            if len(qual) and hits[:tables].sum(0).min() < 3:
                continue
            frac = []
            for t in range(tables):
                _, c = np.unique(buckets[t], return_counts=True)
                frac.append(float((c * (c - 1) / 2).sum() / tot))
            out.append(
                {
                    "bits": bits,
                    "tables": tables,
                    "qualifying_pairs": int(len(qual)),
                    "per_table_candidate_fraction_max": max(frac),
                }
            )
            break
    return sorted(
        out,
        key=lambda d: d["per_table_candidate_fraction_max"] * d["tables"],
    )


KMEANS_ITERS = 2


def _assign_cells(e: DataFrame, cents: DataFrame) -> DataFrame:
    """Map-side vectorized argmin over a broadcast centroid matrix
    (:func:`_nearest_centroid`); ties break on smallest centroid
    id. Zero shuffles — the former crossJoin + groupBy materialized
    N·K array-pair rows per Lloyd round."""
    return _nearest_centroid(e, cents, "q")


def _update_centroids(assigned: DataFrame) -> DataFrame:
    """Lloyd update with engine-exact integer math: per (cell, dim) the
    new coordinate is floor(sum/count) — sums of quantized components are
    exact in doubles (≪ 2^53), so floor-division is bit-identical in
    Spark and DuckDB."""
    exploded = assigned.select(
        "cell", F.posexplode(F.col("q")).alias("i", "v")
    )
    return (
        exploded.groupBy("cell", "i")
        .agg(
            F.floor(
                F.sum("v").cast("double") / F.count(F.lit(1)).cast("double")
            ).cast("long").alias("val"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def q_kmeans_iters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF codebook TRAINING: k-means (Lloyd's), KMEANS_ITERS rounds,
    initialized from the stride-sampled points ``q_ann_ivf`` uses.

    The iterative dataflow per round is broadcast-centroids → map-side
    argmin assignment (one shuffle) → per-(cell, dim) integer-mean update
    (one shuffle); centroids (a dimension, K rows) are collected to the
    driver between rounds exactly like any broadcast dim. All distances
    and means are exact integer arithmetic, so the DuckDB oracle unrolls
    the same rounds and matches value-for-value — an iterative algorithm
    under the full value hash, like ``kg_canonical_clusters``.

    Output: final centroids unnested as (cid, n_members, dim_idx, val).
    """
    e = _emb(spark, sf_dir).select("vec_id", "q")
    cents = e.where(F.col("vec_id") % IVF_STRIDE == 0).select(
        F.col("vec_id").alias("cid"), F.col("q").alias("cq")
    )
    for _ in range(KMEANS_ITERS):
        assigned = _assign_cells(e, cents)
        upd = _update_centroids(assigned)
        # rebuild centroid arrays for the next round's distance expression
        cents = (
            upd.groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "val"))),
                    lambda x: x["val"],
                ).alias("cq"),
                F.first("n").alias("n_members"),
            )
            .select(F.col("cell").alias("cid"), "cq", "n_members")
        )
        # K rows — a dimension; localCheckpoint cuts the growing lineage
        # (on a cluster: write the codebook table between rounds)
        cents = cents.localCheckpoint()
    return cents.select(
        "cid",
        "n_members",
        F.posexplode(F.col("cq")).alias("dim_idx", "val"),
    ).select("cid", "n_members", "dim_idx", "val")


def _kmeans_oracle_sql() -> str:
    """Unrolled KMEANS_ITERS Lloyd rounds in DuckDB CTEs over the same
    quantized vectors (exploded form: distances via per-dim join)."""
    sql = f"""
WITH qe AS ({_QUANT_SQL}),
ev AS (
  SELECT vec_id, unnest(q) AS v, unnest(range(len(q))) AS i FROM qe),
c0 AS (
  SELECT vec_id AS cid, unnest(q) AS val, unnest(range(len(q))) AS i
  FROM qe WHERE vec_id % {IVF_STRIDE} = 0)"""
    prev = "c0"
    for r in range(1, KMEANS_ITERS + 1):
        sql += f""",
d{r} AS (
  SELECT ev.vec_id, c.cid,
         CAST(SUM((ev.v - c.val) * (ev.v - c.val)) AS BIGINT) AS d
  FROM ev JOIN {prev} c ON c.i = ev.i
  GROUP BY ev.vec_id, c.cid),
a{r} AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d ASC, cid ASC) AS rn
    FROM d{r}) z
  WHERE rn = 1),
c{r} AS (
  SELECT a.cell AS cid, ev.i,
         CAST(floor(CAST(SUM(ev.v) AS DOUBLE) / COUNT(DISTINCT ev.vec_id)) AS BIGINT) AS val,
         CAST(COUNT(DISTINCT ev.vec_id) AS BIGINT) AS n
  FROM a{r} a JOIN ev ON ev.vec_id = a.vec_id
  GROUP BY a.cell, ev.i)"""
        prev = f"c{r}"
    sql += f"""
SELECT cid, n AS n_members, CAST(i AS INT) AS dim_idx, val
FROM {prev}"""
    return sql


PQ_SUBS = 8                    # subspaces
PQ_SUBDIM = DIM // PQ_SUBS     # dims per subspace
PQ_STRIDE = IVF_STRIDE         # codebook = stride-sampled subvectors
PQ_TOP_K = 5


def q_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with ADC scoring — the memory-compressed
    path for corpora whose raw vectors don't fit (100 TB of float32
    embeddings → 8 bytes/vector of PQ codes):

    1. encode — each vector's 8 subvectors are assigned their nearest
       codebook entry per subspace (integer L2 argmin over broadcast
       codebooks; the codebook here is stride-sampled, standing in for
       the k-means codebook ``sim_kmeans_iters`` trains);
    2. ADC — a query scores a candidate as Σ over subspaces of the exact
       distance from the QUERY subvector to the candidate's CODEWORD
       (asymmetric distance computation: codes never decode back to
       floats, queries stay exact).

    All distances are exact integer math → the DuckDB oracle reproduces
    encode + ADC bit-for-bit. Top-PQ_TOP_K per query by (adc, vec_id).
    """
    e = _emb(spark, sf_dir).select("vec_id", "q")
    s_idx = F.explode(F.sequence(F.lit(0), F.lit(PQ_SUBS - 1))).alias("s")
    subv = e.select("vec_id", "q", s_idx).select(
        "vec_id",
        "s",
        F.slice(F.col("q"), F.col("s") * PQ_SUBDIM + 1, PQ_SUBDIM).alias("sub"),
    )
    cb = subv.where(F.col("vec_id") % PQ_STRIDE == 0).select(
        F.col("vec_id").alias("cid"), F.col("s").alias("cs"), F.col("sub").alias("csub")
    )
    codes = (
        subv.join(F.broadcast(cb), F.col("s") == F.col("cs"))
        .groupBy("vec_id", "s")
        .agg(
            F.min_by(
                F.struct(F.col("cid"), F.col("csub")),
                F.struct(_l2_int(F.col("sub"), F.col("csub")), F.col("cid")),
            ).alias("cw")
        )
        .select("vec_id", "s", F.col("cw.csub").alias("csub"))
    )
    queries = subv.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("s").alias("qs"), F.col("sub").alias("qsub")
    )
    adc = (
        codes.join(F.broadcast(queries), F.col("s") == F.col("qs"))
        .where(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", _l2_int(F.col("qsub"), F.col("csub")).alias("d"))
        .groupBy("q_id", "vec_id")
        .agg(F.sum("d").alias("adc"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("adc").asc(), F.col("vec_id").asc())
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= PQ_TOP_K)
        .select("q_id", "vec_id", "rank", "adc")
    )


QUERIES = {
    # never-gated-first ordering (see dedup.QUERIES)
    "sim_ann_recall": q_ann_recall,
    "sim_semantic_dedup": q_semantic_dedup,
    "sim_mrl_topk": q_mrl_topk,
    "sim_topk_cosine": q_topk_cosine,
    "sim_hard_negatives": q_hard_negatives,
    "sim_pq_adc_topk": q_pq_adc_topk,
    "sim_ann_lsh": q_ann_lsh,
    "sim_ann_ivf": q_ann_ivf,
    "sim_ivf_probe_topk": q_ivf_probe_topk,
    "sim_kmeans_iters": q_kmeans_iters,
    "dedup_embedding_neardup": q_embedding_neardup,
    "dedup_embedding_neardup_prod": q_embedding_neardup_prod,
}


def _prod_planes_sql() -> str:
    """The production plane matrix as an inline VALUES table — the
    oracle replays the identical integer weights, so the gate verifies
    the LSH computation itself (seeds → buckets → join → rescore)."""
    rows = []
    for t in range(NEARDUP_PROD_TABLES):
        for j in range(NEARDUP_PROD_BITS):
            w = _neardup_plane(t, j)
            rows.append(f"({t}, {j}, [{','.join(map(str, w))}])")
    return "planes(t, j, w) AS (VALUES\n  " + ",\n  ".join(rows) + ")"

_QUANT_SQL = f"""
  SELECT vec_id, q FROM (
    SELECT CAST(vec_id AS BIGINT) AS vec_id,
           [CAST(floor(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT) FOR x IN embedding] AS q
    FROM embeddings) zq
  WHERE list_sum([v * v FOR v IN q]) > 0"""

_NORM_SQL = "list_sum([v * v FOR v IN q])"

_BUCKET_SQL = " + ".join(
    f"(CASE WHEN list_sum([q[i+1] * (((i*37 + {j}*101) % 19) - 9) FOR i IN range(0, {DIM})]) >= 0 THEN {1 << j} ELSE 0 END)"
    for j in range(N_PLANES)
)

_PQ_L2 = "CAST(list_sum([(x[1] - x[2]) * (x[1] - x[2]) FOR x IN list_zip({a}, {b})]) AS BIGINT)"

ORACLES = {
    "sim_ann_recall": f"""
WITH qe AS ({_QUANT_SQL}),
e AS (SELECT vec_id, q, CAST({_NORM_SQL} AS BIGINT) AS norm,
             CAST({_BUCKET_SQL} AS INT) AS bucket
      FROM qe),
qs AS (SELECT vec_id AS q_id, q AS qv, norm AS qn, bucket AS q_bucket
       FROM e WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q_id, e.vec_id,
         CAST(list_sum([x[1] * x[2] FOR x IN list_zip(qv, q)]) AS DOUBLE)
           / (sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(norm AS DOUBLE))) AS score
  FROM e CROSS JOIN qs WHERE e.vec_id <> qs.q_id),
exact AS (
  SELECT q_id, vec_id FROM (
    SELECT q_id, vec_id,
           ROW_NUMBER() OVER (PARTITION BY q_id
                              ORDER BY score DESC, vec_id ASC) AS rank
    FROM scored) z
  WHERE rank <= {TOP_K}),
cand AS (
  SELECT q_id, e.vec_id
  FROM e JOIN qs ON e.bucket = qs.q_bucket AND e.vec_id <> qs.q_id),
hits AS (
  SELECT x.q_id, CAST(COUNT(*) AS BIGINT) AS n_hit
  FROM exact x JOIN cand c ON c.q_id = x.q_id AND c.vec_id = x.vec_id
  GROUP BY x.q_id),
base AS (
  SELECT q_id, CAST(COUNT(*) AS BIGINT) AS n_exact FROM exact GROUP BY q_id)
SELECT b.q_id, b.n_exact,
       CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
       CAST((1000000 * COALESCE(h.n_hit, 0)) // b.n_exact AS BIGINT)
           AS recall_ppm
FROM base b LEFT JOIN hits h ON h.q_id = b.q_id""",
    "sim_pq_adc_topk": f"""
WITH qe AS ({_QUANT_SQL}),
subv AS (
  SELECT vec_id, t.s, q[t.s * {PQ_SUBDIM} + 1 : t.s * {PQ_SUBDIM} + {PQ_SUBDIM}] AS sub
  FROM qe, (SELECT unnest(range({PQ_SUBS})) AS s) t),
cb AS (
  SELECT vec_id AS cid, s AS cs, sub AS csub FROM subv
  WHERE vec_id % {PQ_STRIDE} = 0),
enc AS (
  SELECT vec_id, s, csub FROM (
    SELECT v.vec_id, v.s, c.csub,
           ROW_NUMBER() OVER (
             PARTITION BY v.vec_id, v.s
             ORDER BY {_PQ_L2.format(a="v.sub", b="c.csub")} ASC, c.cid ASC) AS rn
    FROM subv v JOIN cb c ON c.cs = v.s) z
  WHERE rn = 1),
qs AS (
  SELECT vec_id AS q_id, s AS qs, sub AS qsub FROM subv WHERE vec_id < {N_QUERIES}),
adc AS (
  SELECT q.q_id, e.vec_id,
         CAST(SUM({_PQ_L2.format(a="q.qsub", b="e.csub")}) AS BIGINT) AS adc
  FROM enc e JOIN qs q ON q.qs = e.s AND e.vec_id <> q.q_id
  GROUP BY q.q_id, e.vec_id),
ranked AS (
  SELECT q_id, vec_id, adc,
         CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc ASC, vec_id ASC) AS INT) AS rank
  FROM adc)
SELECT q_id, vec_id, rank, adc FROM ranked WHERE rank <= {PQ_TOP_K}""",
    "sim_kmeans_iters": _kmeans_oracle_sql(),
    "sim_topk_cosine": f"""
WITH qe AS ({_QUANT_SQL}),
e AS (SELECT vec_id, q, CAST({_NORM_SQL} AS BIGINT) AS norm FROM qe),
qs AS (SELECT vec_id AS q_id, q AS qv, norm AS qn FROM e WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q_id, e.vec_id,
         CAST(list_sum([x[1] * x[2] FOR x IN list_zip(qv, q)]) AS BIGINT) AS dot,
         CAST(list_sum([x[1] * x[2] FOR x IN list_zip(qv, q)]) AS DOUBLE)
           / (sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(norm AS DOUBLE))) AS score
  FROM e CROSS JOIN qs WHERE e.vec_id <> qs.q_id),
ranked AS (
  SELECT q_id, vec_id, dot, score,
         CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id ASC) AS INT) AS rank
  FROM scored)
SELECT q_id, vec_id, rank, dot, ROUND(score, 6) AS score
FROM ranked WHERE rank <= {TOP_K}""",
    "sim_hard_negatives": f"""
WITH qe AS ({_QUANT_SQL}),
lab AS (SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(label AS INT) AS label
        FROM embeddings),
e AS (SELECT qe.vec_id, q, CAST({_NORM_SQL} AS BIGINT) AS norm, label
      FROM qe JOIN lab ON lab.vec_id = qe.vec_id),
qs AS (SELECT vec_id AS q_id, q AS qv, norm AS qn, label AS q_label
       FROM e WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q_id, e.vec_id, q_label, e.label AS neg_label,
         CAST(list_sum([x[1] * x[2] FOR x IN list_zip(qv, q)]) AS BIGINT) AS dot,
         CAST(list_sum([x[1] * x[2] FOR x IN list_zip(qv, q)]) AS DOUBLE)
           / (sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(e.norm AS DOUBLE))) AS score
  FROM e CROSS JOIN qs WHERE e.label <> qs.q_label),
ranked AS (
  SELECT q_id, vec_id, q_label, neg_label, dot, score,
         CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id ASC) AS INT) AS rank
  FROM scored)
SELECT q_id, vec_id, rank, q_label, neg_label, dot, ROUND(score, 6) AS score
FROM ranked WHERE rank <= {TOP_K}""",
    "sim_ann_lsh": f"""
WITH qe AS ({_QUANT_SQL}),
e AS (SELECT vec_id, q, CAST({_NORM_SQL} AS BIGINT) AS norm,
             CAST({_BUCKET_SQL} AS INT) AS bucket
      FROM qe),
qs AS (SELECT vec_id AS q_id, q AS qv, norm AS qn, bucket AS q_bucket
       FROM e WHERE vec_id < {N_QUERIES})
SELECT q_id, e.vec_id, e.bucket,
       ROUND(CAST(list_sum([x[1] * x[2] FOR x IN list_zip(qv, q)]) AS DOUBLE)
             / (sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(norm AS DOUBLE))), 6) AS score
FROM e JOIN qs ON e.bucket = qs.q_bucket AND e.vec_id <> qs.q_id""",
    "sim_mrl_topk": f"""
WITH qe AS ({_QUANT_SQL}),
pre AS (
  SELECT vec_id, q, CAST({_NORM_SQL} AS BIGINT) AS norm,
         q[1:{MRL_PREFIX_DIM}] AS qp,
         CAST(list_sum([v * v FOR v IN q[1:{MRL_PREFIX_DIM}]]) AS BIGINT) AS pnorm
  FROM qe),
pre2 AS (SELECT * FROM pre WHERE pnorm > 0),
qs AS (SELECT vec_id AS q_id, q AS qv, norm AS qn, qp AS qvp, pnorm AS qpn
       FROM pre2 WHERE vec_id < {N_QUERIES}),
coarse AS (
  SELECT q_id, p.vec_id, p.q, p.norm, qv, qn,
         CAST(list_sum([x[1] * x[2] FOR x IN list_zip(qvp, p.qp)]) AS DOUBLE)
           / (sqrt(CAST(qpn AS DOUBLE)) * sqrt(CAST(p.pnorm AS DOUBLE)))
           AS coarse_score
  FROM pre2 p CROSS JOIN qs WHERE p.vec_id <> qs.q_id),
sl AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                                 ORDER BY coarse_score DESC, vec_id ASC) AS crank
    FROM coarse) z
  WHERE crank <= {MRL_SHORTLIST}),
fine AS (
  SELECT q_id, vec_id,
         CAST(list_sum([x[1] * x[2] FOR x IN list_zip(qv, q)]) AS DOUBLE)
           / (sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(norm AS DOUBLE))) AS score
  FROM sl),
ranked AS (
  SELECT q_id, vec_id, score,
         CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                                 ORDER BY score DESC, vec_id ASC) AS INT) AS rank
  FROM fine)
SELECT q_id, vec_id, rank, ROUND(score, 6) AS score FROM ranked
WHERE rank <= {TOP_K}""",
    "sim_semantic_dedup": f"""
WITH qe AS ({_QUANT_SQL}),
e AS (SELECT vec_id, q, CAST({_NORM_SQL} AS BIGINT) AS norm FROM qe),
cents AS (SELECT vec_id AS cid, q AS cq FROM e WHERE vec_id % {IVF_STRIDE} = 0),
dists AS (
  SELECT e.vec_id, e.q, e.norm, c.cid,
         CAST(list_sum([(x[1] - x[2]) * (x[1] - x[2]) FOR x IN list_zip(e.q, c.cq)]) AS BIGINT) AS d
  FROM e CROSS JOIN cents c),
assigned AS (
  SELECT vec_id, q, norm, cid AS cell FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d ASC, cid ASC) AS rn
    FROM dists) z
  WHERE rn = 1),
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM assigned a JOIN assigned b
    ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE CAST(floor(CAST(list_sum([x[1] * x[2] FOR x IN list_zip(a.q, b.q)]) AS DOUBLE)
        / (sqrt(CAST(a.norm AS DOUBLE)) * sqrt(CAST(b.norm AS DOUBLE)))
        * 1000000) AS BIGINT) >= {SEMDEDUP_TAU_PPM})
SELECT a.vec_id, a.cell, d.vec_id IS NULL AS is_kept
FROM assigned a LEFT JOIN dropped d ON a.vec_id = d.vec_id""",
    "sim_ann_ivf": f"""
WITH qe AS ({_QUANT_SQL}),
e AS (SELECT vec_id, q, CAST({_NORM_SQL} AS BIGINT) AS norm FROM qe),
cents AS (SELECT vec_id AS cid, q AS cq FROM e WHERE vec_id % {IVF_STRIDE} = 0),
dists AS (
  SELECT e.vec_id, e.q, e.norm, c.cid,
         CAST(list_sum([(x[1] - x[2]) * (x[1] - x[2]) FOR x IN list_zip(e.q, c.cq)]) AS BIGINT) AS d
  FROM e CROSS JOIN cents c),
assigned AS (
  SELECT vec_id, q, norm, cid AS cell FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d ASC, cid ASC) AS rn
    FROM dists) z
  WHERE rn = 1),
qs AS (SELECT vec_id AS q_id, q AS qv, norm AS qn, cell AS q_cell
       FROM assigned WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q_id, a.vec_id, a.cell,
         CAST(list_sum([x[1] * x[2] FOR x IN list_zip(qv, a.q)]) AS DOUBLE)
           / (sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(a.norm AS DOUBLE))) AS score
  FROM assigned a JOIN qs ON a.cell = qs.q_cell AND a.vec_id <> qs.q_id),
ranked AS (
  SELECT q_id, vec_id, cell, score,
         CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id ASC) AS INT) AS rank
  FROM scored)
SELECT q_id, vec_id, cell, rank, ROUND(score, 6) AS score
FROM ranked WHERE rank <= {IVF_TOP_K}""",
    "sim_ivf_probe_topk": f"""
WITH qe AS ({_QUANT_SQL}),
e AS (SELECT vec_id, q, CAST({_NORM_SQL} AS BIGINT) AS norm FROM qe),
cents AS (SELECT vec_id AS cid, q AS cq FROM e WHERE vec_id % {IVF_STRIDE} = 0),
dists AS (
  SELECT e.vec_id, e.q, e.norm, c.cid,
         CAST(list_sum([(x[1] - x[2]) * (x[1] - x[2]) FOR x IN list_zip(e.q, c.cq)]) AS BIGINT) AS d
  FROM e CROSS JOIN cents c),
assigned AS (
  SELECT vec_id, q, norm, cid AS cell FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d ASC, cid ASC) AS rn
    FROM dists) z
  WHERE rn = 1),
probes AS (
  SELECT vec_id AS q_id, q AS qv, norm AS qn, cid AS cell FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d ASC, cid ASC) AS rn
    FROM dists WHERE vec_id < {N_QUERIES}) z
  WHERE rn <= {IVF_NPROBE}),
scored AS (
  SELECT q_id, a.vec_id, a.cell,
         CAST(list_sum([x[1] * x[2] FOR x IN list_zip(qv, a.q)]) AS DOUBLE)
           / (sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(a.norm AS DOUBLE))) AS score
  FROM assigned a JOIN probes p ON a.cell = p.cell AND a.vec_id <> p.q_id),
ranked AS (
  SELECT q_id, vec_id, cell, score,
         CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id ASC) AS INT) AS rank
  FROM scored)
SELECT q_id, vec_id, cell, rank, ROUND(score, 6) AS score
FROM ranked WHERE rank <= {IVF_TOP_K}""",
    "dedup_embedding_neardup_prod": f"""
WITH qe AS ({_QUANT_SQL}),
e AS (SELECT vec_id, q, CAST({_NORM_SQL} AS BIGINT) AS norm FROM qe),
{_prod_planes_sql()},
sb AS (
  SELECT e.vec_id, p.t,
         CAST(SUM(CASE WHEN list_sum([x[1] * x[2] FOR x IN list_zip(e.q, p.w)]) >= 0
                  THEN (1 << p.j) ELSE 0 END) AS INT) AS bkt
  FROM e CROSS JOIN planes p
  GROUP BY e.vec_id, p.t),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM sb a JOIN sb b ON a.t = b.t AND a.bkt = b.bkt AND a.vec_id < b.vec_id),
scored AS (
  SELECT c.vec_a, c.vec_b,
         CAST(floor(CAST(list_sum([x[1] * x[2] FOR x IN list_zip(a.q, b.q)]) AS DOUBLE)
              / (sqrt(CAST(a.norm AS DOUBLE)) * sqrt(CAST(b.norm AS DOUBLE)))
              * 1000000) AS BIGINT) AS score_ppm
  FROM cand c
  JOIN e a ON a.vec_id = c.vec_a
  JOIN e b ON b.vec_id = c.vec_b)
SELECT vec_a, vec_b, score_ppm,
       CAST(CASE WHEN score_ppm >= {NEARDUP_PROD_TAU_PPM} THEN 1 ELSE 0 END AS INT) AS is_neardup
FROM scored""",
    "dedup_embedding_neardup": f"""
WITH qe AS ({_QUANT_SQL}),
e AS (SELECT vec_id, q, CAST({_NORM_SQL} AS BIGINT) AS norm FROM qe)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       CAST(floor(CAST(list_sum([x[1] * x[2] FOR x IN list_zip(a.q, b.q)]) AS DOUBLE)
            / (sqrt(CAST(a.norm AS DOUBLE)) * sqrt(CAST(b.norm AS DOUBLE)))
            * 1000000) AS BIGINT) AS score_ppm
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE CAST(floor(CAST(list_sum([x[1] * x[2] FOR x IN list_zip(a.q, b.q)]) AS DOUBLE)
           / (sqrt(CAST(a.norm AS DOUBLE)) * sqrt(CAST(b.norm AS DOUBLE)))
           * 1000000) AS BIGINT) >= {NEARDUP_TAU_PPM}""",
}
