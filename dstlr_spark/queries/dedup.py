"""Deduplication operators over ``documents`` — training-data-pipeline
first-class citizens: exact hash, n-gram Jaccard, MinHash+LSH, SimHash.

Portability design: content hashes are md5 (identical in Spark and
DuckDB); MinHash hashes each shingle ONCE (md5 → two 32-bit ints) and
derives the K permutations as Kirsch-Mitzenmacher combinations
(h1 + i·h2 mod 2³²) — exact integer minima in both engines; SimHash
reduces md5 nibbles by majority vote with pure integer arithmetic.

Scale notes (100 TB): exact dedup is one hash-aggregate; MinHash-LSH is
the linear-candidate path (shingle → K minhashes → B bands → bucket
join over a STAGED posting list, oversize buckets capped + audited) —
candidate pairs only ever meet inside a band bucket, never via an
all-pairs product; n-gram Jaccard is the RESCORING predicate (standalone
mode carries a stop-shingle cap); verified pairs close into clusters
via connected components (``dedup_neardup_clusters``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dstlr_spark.functions.text import ngrams
from dstlr_spark.queries._memo import staged
from dstlr_spark.queries.sqlgen import values_cte

NGRAM_N = 3
MINHASH_K = 12  # 12 hashes → 4 bands x 3 rows
LSH_BANDS = 4
LSH_ROWS = MINHASH_K // LSH_BANDS
JACCARD_THRESHOLD = 0.6


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dstlr_spark.plans.partitioning import fan_out

    # fan_out: the corpus is a single-row-group parquet file, so the
    # shingle/minhash/simhash map stages would otherwise run one-task
    return fan_out(
        spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            F.col("doc_id").cast("string").alias("doc_id"), "text"
        )
    )


def _staged_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw shingle posting list, staged once per (session, sf_dir):
    six dedup queries consume it (Jaccard, minhash pairs/rescored/
    clusters, both skew audits), so a correctness-gate run derives the
    explode + distinct pipeline once, not once per query."""
    return staged(
        spark,
        ("dedup_shingles", sf_dir),
        lambda: _shingles(_docs(spark, sf_dir)),
    )


def _staged_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH band posting list, staged once per (session, sf_dir) —
    derived from the staged shingle frame, shared by the pairs /
    rescored / clusters / skipped-buckets queries."""
    return staged(
        spark,
        ("dedup_banded", sf_dir),
        lambda: _banded(_staged_shingles(spark, sf_dir)),
    )


# --- exact dedup -----------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-hash groups: every doc annotated with its group size and
    canonical (minimum) doc id — the keep/drop decision of exact dedup."""
    d = _docs(spark, sf_dir)
    h = d.select("doc_id", F.md5(F.col("text")).alias("text_hash"))
    groups = h.groupBy("text_hash").agg(
        F.count(F.lit(1)).alias("n_dups"), F.min("doc_id").alias("keep_doc_id")
    )
    return h.join(groups, "text_hash").select(
        "doc_id", "text_hash", "n_dups", "keep_doc_id",
        (F.col("doc_id") == F.col("keep_doc_id")).alias("is_canonical"),
    )


# --- shingles ----------------------------------------------------------------

def _shingles(d: DataFrame, n_gram: int = NGRAM_N) -> DataFrame:
    """Distinct token n-grams per doc (default n=3), space-joined;
    docs shorter than one gram contribute their whole text. The single
    shingler for dedup AND decontamination (which uses longer grams).
    O(n·k) per doc via the zip_with gram builder
    (:func:`dstlr_spark.functions.text.ngrams`) — the round-3
    slice-in-transform shape re-split the text per gram, O(n²)."""
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    grams = F.when(n >= n_gram, ngrams(toks, n_gram)).otherwise(
        F.array(F.col("text"))
    )
    return d.select(
        "doc_id", F.explode(F.array_distinct(grams)).alias("shingle")
    )


_SHINGLES_SQL = f"""
  SELECT doc_id, unnest(list_distinct(grams)) AS shingle FROM (
    SELECT CAST(doc_id AS VARCHAR) AS doc_id,
           CASE WHEN len(string_split(text,' ')) >= {NGRAM_N}
                THEN [array_to_string(string_split(text,' ')[i:i+{NGRAM_N - 1}], ' ')
                      FOR i IN range(1, len(string_split(text,' ')) - {NGRAM_N} + 2)]
                ELSE [text] END AS grams
    FROM documents) z"""


# --- n-gram Jaccard pairs ------------------------------------------------------

def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard over 3-gram shingle sets for candidate pairs sharing
    ≥1 shingle; emits pairs over the threshold (ratio in exact ppm ints).

    Standalone-mode scale guards (the production near-dup path is LSH
    candidates + rescore, ``dedup_minhash_rescored``; this query is the
    exact-by-shingle variant):
    - STOP-SHINGLE CAP: shingles in more than HOT_SHINGLE_CAP documents
      are excluded from the shingle SET (both intersection and sizes —
      true stop-shingle semantics, mirrored in the oracle), so one viral
      shingle cannot emit O(posting²) join rows. No shingle on the sf
      corpora reaches the cap (``dedup_hot_shingles`` audits = 0 rows),
      so results are unchanged there; at scale dropped shingles are
      LOUD via the same audit query.
    - the filtered shingle frame is staged once (localCheckpoint; an
      Iceberg stage table on a cluster) — it feeds both join sides and
      the size dimension.
    """
    return ngram_jaccard_pairs(_staged_shingles(spark, sf_dir))


def ngram_jaccard_pairs(shingles: DataFrame) -> DataFrame:
    """Operator form of ``dedup_ngram_jaccard`` (docstring above) over a
    ``_shingles`` frame, ideally staged so sibling consumers share one
    shingle scan."""
    hot = (
        shingles.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") > HOT_SHINGLE_CAP)
        .select("shingle")
    )
    sh = shingles.join(F.broadcast(hot), "shingle", "left_anti").localCheckpoint()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    thr_ppm = int(JACCARD_THRESHOLD * 1_000_000)
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a", "doc_b", "n_common", "sz_a", "sz_b",
            F.expr("(n_common * 1000000L) DIV (sz_a + sz_b - n_common)").alias(
                "jaccard_ppm"
            ),
        )
        .where(F.col("jaccard_ppm") >= thr_ppm)
    )


# --- MinHash + LSH ---------------------------------------------------------------

_MH_MOD = 1 << 32


def _minhash_cols() -> list:
    """K minwise signatures via Kirsch-Mitzenmacher: hash every shingle
    ONCE (md5 → two 32-bit ints h1, h2), then the K 'permutations' are
    gᵢ = (h1 + i·h2) mod 2³² — pure integer math. One md5 per shingle
    instead of K (the md5s dominate minhash cost at corpus scale);
    integers compare identically in every engine."""
    h = F.md5(F.col("shingle"))
    h1 = F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
    h2 = F.conv(F.substring(h, 9, 8), 16, 10).cast("long")
    return [
        F.min(F.pmod(h1 + F.lit(i) * h2, F.lit(_MH_MOD))).alias(f"mh{i}")
        for i in range(MINHASH_K)
    ]


def _minhash_sql_cols() -> str:
    h1 = "CAST(concat('0x', substr(md5(shingle), 1, 8)) AS BIGINT)"
    h2 = "CAST(concat('0x', substr(md5(shingle), 9, 8)) AS BIGINT)"
    return ",\n         ".join(
        f"min(({h1} + {i} * {h2}) % {_MH_MOD}) AS mh{i}" for i in range(MINHASH_K)
    )


LSH_MAX_BUCKET = 10_000  # band buckets above this are skipped, not joined


def _banded(sh: DataFrame) -> DataFrame:
    """(doc_id, band_idx, band_key): md5 digests of each band's row
    minhashes — the LSH posting list. Input is a shingle frame
    (``_shingles``), so a caller that also rescores can derive signatures
    and rescore joins from ONE staged shingle scan."""
    sig = sh.groupBy("doc_id").agg(*_minhash_cols())
    band_keys = F.array(
        *[
            F.md5(
                F.concat_ws(
                    "|",
                    *[F.col(f"mh{b * LSH_ROWS + r}") for r in range(LSH_ROWS)],
                )
            )
            for b in range(LSH_BANDS)
        ]
    )
    # one posexplode projection, NOT a B-way union: union branches each
    # re-run the shingle scan + minhash aggregate (B× the dominant cost)
    return sig.select(
        "doc_id", F.posexplode(band_keys).alias("band_idx", "band_key")
    )


def skipped_band_buckets(banded: DataFrame) -> DataFrame:
    """Band buckets larger than LSH_MAX_BUCKET — the skew guard's audit
    table (band_idx, band_key, n_docs). A degenerate band key shared by
    10⁵ docs would otherwise explode into 10¹⁰ join rows; the cap makes
    the self-join O(Σ min(bucket, cap)²) and this frame makes the drop
    LOUD (exposed as the ``dedup_lsh_skipped_buckets`` driver query — no
    silent caps)."""
    return (
        banded.groupBy("band_idx", "band_key")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") > LSH_MAX_BUCKET)
    )


def minhash_candidate_pairs(banded: DataFrame) -> DataFrame:
    """MinHash-LSH candidate pairs over a staged ``_banded`` frame: docs
    agreeing on ALL rows of ≥1 surviving band bucket.

    Shape: the banded posting list is materialized ONCE
    (``localCheckpoint`` — an Iceberg stage table on a cluster; the
    expensive shingle→minhash pipeline must not be recomputed per
    consumer — it has THREE consumers here: the oversize-bucket audit
    and both self-join sides), oversize buckets are anti-joined away,
    and candidates meet via the (band_idx, band_key) equi-join. The cap
    is applied BEFORE anything aggregates or joins per bucket: a
    degenerate bucket never costs O(bucket²) join rows — and never
    builds an O(bucket) ``collect_list`` buffer either, which is why
    this is a join over the staged frame rather than a
    collect-and-expand aggregate. Dropped buckets are surfaced loudly by
    :func:`skipped_band_buckets` / ``dedup_lsh_skipped_buckets``."""
    kept = banded.join(
        F.broadcast(skipped_band_buckets(banded).select("band_idx", "band_key")),
        ["band_idx", "band_key"],
        "left_anti",
    )
    a = kept.alias("a")
    b2 = kept.alias("b")
    return (
        a.join(
            b2,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def q_dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_candidate_pairs(_staged_banded(spark, sf_dir))


def q_dedup_lsh_skipped_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-guard audit: band buckets the LSH join refused (none on the
    well-behaved sf corpora; adversarial fixtures exercise it in tests)."""
    return skipped_band_buckets(_staged_banded(spark, sf_dir))


INCR_BATCH_MOD = 10
INCR_BATCH_REM = 7  # docs with id % 10 == 7 stand in for the incoming batch


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-path dedup: candidates between an INCOMING batch and the
    existing corpus only — the new-bands probe the corpus posting list
    via the band equi-join, and batch×batch / corpus×corpus pairs are
    never generated. This is the shape a continuously-ingesting corpus
    runs per arrival: corpus-side state is the staged band table
    (an Iceberg index table on a cluster, appended per batch), probe
    cost ∝ batch size, and the result is by construction
    ``dedup_minhash_pairs`` restricted to cross-batch pairs (pinned in
    tests). Same oversize-bucket cap + audit as batch mode."""
    banded = _staged_banded(spark, sf_dir)
    # ONE cap definition: the same audit helper batch mode anti-joins
    oversize = skipped_band_buckets(banded).select("band_idx", "band_key")
    kept = banded.join(F.broadcast(oversize), ["band_idx", "band_key"], "left_anti")
    is_new = (F.col("doc_id").cast("long") % INCR_BATCH_MOD) == INCR_BATCH_REM
    new_side = kept.where(is_new).select(
        F.col("doc_id").alias("new_doc"), "band_idx", "band_key"
    )
    corpus_side = kept.where(~is_new).select(
        F.col("doc_id").alias("corpus_doc"), "band_idx", "band_key"
    )
    return (
        new_side.join(corpus_side, ["band_idx", "band_key"])
        .select("new_doc", "corpus_doc")
        .distinct()
    )


HOT_SHINGLE_CAP = 1_000  # posting lists above this make the shingle join quadratic


def q_dedup_hot_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew audit for the exact-Jaccard shingle self-join: shingles whose
    posting list exceeds HOT_SHINGLE_CAP (each contributes O(list²) join
    rows in ``dedup_ngram_jaccard``'s standalone mode). Empty on the sf
    corpora; at scale a non-empty result is the signal to run Jaccard
    only as the rescorer behind LSH candidates
    (``dedup_minhash_rescored``), never standalone."""
    sh = _staged_shingles(spark, sf_dir)
    return (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") > HOT_SHINGLE_CAP)
    )


# --- SimHash -----------------------------------------------------------------------

SIMHASH_BITS = 64        # full Manku-shape signature (md5-nibble bit majorities)
SIMHASH_MAX_HAMMING = 3
_SIMHASH_BLOCKS = SIMHASH_MAX_HAMMING + 1  # pigeonhole: ≤3 flipped bits
_BLOCK_BITS = SIMHASH_BITS // _SIMHASH_BLOCKS  # 16-bit blocks → 65536 buckets/table


def _simhash_blocks(d: DataFrame) -> DataFrame:
    """(doc_id, blk0..blk3): the 64-bit SimHash as four 16-bit block
    values (bit i of the signature = majority over tokens of bit i%4 of
    md5-nibble i//4; block b holds bits [16b, 16b+16)). Blocks, not one
    BIGINT, so bit 63 never collides with the sign bit — and the
    pigeonhole join needs the block decomposition anyway. Ties
    (2·count == n) round to 1, identically in both engines."""
    toks = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
    ).withColumn("h", F.md5(F.col("token")))
    nibs = [
        F.conv(F.substring(F.col("h"), k + 1, 1), 16, 10).cast("int").alias(f"nib{k}")
        for k in range(SIMHASH_BITS // 4)
    ]
    base = toks.select("doc_id", *nibs)
    bit_counts = [
        F.sum(
            F.shiftright(F.col(f"nib{i // 4}"), i % 4).bitwiseAND(F.lit(1))
        ).alias(f"c{i}")
        for i in range(SIMHASH_BITS)
    ]
    agg = base.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"), *bit_counts)
    block_cols = []
    for b in range(_SIMHASH_BLOCKS):
        v = F.lit(0)
        for j in range(_BLOCK_BITS):
            i = b * _BLOCK_BITS + j
            v = v + F.when(
                F.col(f"c{i}") * 2 >= F.col("n"), F.lit(1 << j)
            ).otherwise(F.lit(0))
        block_cols.append(v.cast("int").alias(f"blk{b}"))
    return agg.select("doc_id", *block_cols)


def _staged_simhash_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 64-bit block-signature frame, staged once per (session,
    sf_dir) — the token explode + 64 bit-count aggregates dominate both
    simhash queries' cost."""
    return staged(
        spark,
        ("dedup_simhash_blocks", sf_dir),
        lambda: _simhash_blocks(_docs(spark, sf_dir)),
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 64-bit SimHash, rendered as a 16-hex-char string (block 3
    = most significant 16 bits) — a bitwise-mean sketch with identical
    integer arithmetic in both engines."""
    blk = _staged_simhash_blocks(spark, sf_dir)
    return blk.select(
        "doc_id",
        F.format_string(
            "%04x%04x%04x%04x",
            F.col("blk3"), F.col("blk2"), F.col("blk1"), F.col("blk0"),
        ).alias("simhash"),
    )


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at Hamming distance ≤ SIMHASH_MAX_HAMMING.

    Candidate generation is EXACT by pigeonhole (not probabilistic): the
    64-bit signature splits into 4 disjoint 16-bit blocks; ≤3 differing
    bits cannot touch all 4 blocks, so every qualifying pair shares at
    least one identical block — an equi-join on (block_idx, block_val)
    over 65536 bucket values per table (the Google Detecting-Near-
    Duplicates / Manku table decomposition at its production shape). The
    exact Hamming distance (Σ bit_count per block xor) rescores
    candidates only. Same two-stage shape as the MinHash and embedding
    paths.

    Scale precondition: run AFTER exact dedup (``dedup_exact``) — byte-
    identical documents share every block, and a mass of them would make
    one block bucket quadratic.
    """
    sig = _staged_simhash_blocks(spark, sf_dir).withColumn(
        "blocks", F.array("blk0", "blk1", "blk2", "blk3")
    )
    kv = sig.select(
        "doc_id",
        "blocks",
        F.posexplode(F.col("blocks")).alias("block_idx", "block_val"),
    )
    a = kv.select(
        F.col("doc_id").alias("doc_a"), F.col("blocks").alias("ba"),
        "block_idx", "block_val",
    )
    b = kv.select(
        F.col("doc_id").alias("doc_b"), F.col("blocks").alias("bb"),
        "block_idx", "block_val",
    )
    cand = (
        a.join(b, ["block_idx", "block_val"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "ba", "bb")
        .distinct()
    )
    hamming = F.aggregate(
        F.zip_with(
            F.col("ba"), F.col("bb"),
            lambda x, y: F.bit_count(x.bitwiseXOR(y)),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return cand.select(
        "doc_a", "doc_b", hamming.cast("int").alias("hamming")
    ).where(F.col("hamming") <= SIMHASH_MAX_HAMMING)


def q_dedup_minhash_rescored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full production near-dup pipeline: LSH band buckets propose
    candidates (linear), exact n-gram Jaccard rescores ONLY those pairs
    (the quadratic step runs on a vanishing fraction of N²). Emits
    verified pairs ≥ threshold with exact ppm scores.

    ONE shingle scan: the staged shingle frame feeds the minhash
    signature pipeline AND both rescore sides AND the size dimension
    (r2 derived it twice and checkpointed both — pure waste); both
    staged frames are session-memoized, so gate siblings reuse them."""
    sh = _staged_shingles(spark, sf_dir)
    cand = minhash_candidate_pairs(_staged_banded(spark, sf_dir))  # (doc_a, doc_b)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingle"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingle"))
    inter = (
        cand.join(a, "doc_a")
        .join(b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    thr_ppm = int(JACCARD_THRESHOLD * 1_000_000)
    return (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b")), "doc_b")
        .select(
            "doc_a", "doc_b",
            F.expr("(n_common * 1000000L) DIV (sz_a + sz_b - n_common)").alias("jaccard_ppm"),
        )
        .where(F.col("jaccard_ppm") >= thr_ppm)
    )


def q_dedup_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup endgame: verified near-dup PAIRS (LSH candidates +
    exact-Jaccard rescore) merged into CLUSTERS via connected components,
    each doc mapped to its canonical (minimum) cluster member — pairwise
    keep/drop decisions are inconsistent when near-duplication chains
    (a~b, b~c but a≁c); the component closure is the correct keep set.
    Iterative operator, still fully value-checked: the oracle expresses
    the same fixpoint as a DuckDB recursive CTE (like
    ``kg_canonical_clusters``)."""
    from dstlr_spark.operators.canonicalize import connected_components

    pairs = q_dedup_minhash_rescored(spark, sf_dir)
    cc = connected_components(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )
    return cc.select(
        F.col("id").alias("doc_id"), F.col("component").alias("canonical_doc_id")
    )


def q_dedup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actionable dedup artifact: a corpus-wide keep/drop verdict
    per document — keep iff the doc is its own cluster canonical (or in
    no near-dup cluster at all). This is the table the training-data
    build actually JOINS against (clusters alone still need this
    closure applied); emitting it as its own operator keeps the
    keep-rule (min-id canonical) in exactly one place.

    Scale shape: one left join of the corpus id column against the
    cluster table (cluster side ≤ corpus, usually ≪) — a broadcast or
    shuffle hash join on doc_id, then a map-side verdict."""
    cc = q_dedup_neardup_clusters(spark, sf_dir)
    docs = _docs(spark, sf_dir).select("doc_id")
    return docs.join(cc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("canonical_doc_id", F.col("doc_id")).alias("canonical_doc_id"),
        (
            F.coalesce(F.col("canonical_doc_id"), F.col("doc_id"))
            == F.col("doc_id")
        ).alias("keep"),
    )


CONTAINMENT_THRESHOLD_PPM = 800_000  # 80% of the smaller doc's shingles


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle containment over the LSH candidate set — the
    partial-duplicate / quotation detector: containment(A→B) =
    |A∩B| / |A| flags a small doc embedded in a larger one, which
    symmetric Jaccard under-scores (|A∩B| / |A∪B| shrinks with the
    larger doc). Reuses the staged shingle + band posting lists, so in a
    gate run this adds ONE candidate join + rescore, no new scans.
    Emits candidate pairs where either direction ≥ threshold, with both
    directed scores in exact integer ppm."""
    sh = _staged_shingles(spark, sf_dir)
    cand = minhash_candidate_pairs(_staged_banded(spark, sf_dir))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        cand.join(a, "doc_a")
        .join(b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b")),
            "doc_b",
        )
        .select(
            "doc_a", "doc_b", "n_common",
            F.expr("(n_common * 1000000L) DIV sz_a").alias("cont_a_in_b_ppm"),
            F.expr("(n_common * 1000000L) DIV sz_b").alias("cont_b_in_a_ppm"),
        )
        .where(
            F.greatest(F.col("cont_a_in_b_ppm"), F.col("cont_b_in_a_ppm"))
            >= CONTAINMENT_THRESHOLD_PPM
        )
    )


def q_dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance rescoring of the LSH candidates — the
    character-level verifier for SHORT documents where set-based
    Jaccard is too coarse (titles, code lines, near-identical template
    instantiations). Engine-built-in ``levenshtein`` on both sides, but
    Spark counts CODEPOINTS while DuckDB counts BYTES, so the operator
    is explicitly ASCII-GUARDED: pairs where either text contains
    non-ASCII are excluded (identically in both engines) and belong to
    the codepoint-safe Jaccard rescorer instead — a documented
    portability boundary, not a silent one. The guard tests for the
    PRESENCE of a non-ASCII char (negated), never an anchored
    whole-string match: Java's ``$`` matches before a trailing Unicode
    line terminator (U+0085/U+2028/U+2029), so an anchored
    ``^[\\x00-\\x7F]*$`` admits such text in Spark while RE2-based
    DuckDB rejects it. Distance normalized to ppm of the longer text
    (exact integers)."""
    cand = minhash_candidate_pairs(_staged_banded(spark, sf_dir))
    d = _docs(spark, sf_dir)
    ascii_ok = ~F.col("text").rlike(r"[^\x00-\x7F]")
    texts = d.where(ascii_ok).select("doc_id", "text")
    a = texts.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("ta"))
    b = texts.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("tb"))
    dist = F.levenshtein("ta", "tb").cast("long")
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a", "doc_b", dist.alias("edit_distance"),
            F.expr(
                "CASE WHEN greatest(length(ta), length(tb)) = 0 THEN 0 "
                "ELSE (CAST(levenshtein(ta, tb) AS BIGINT) * 1000000L) "
                "DIV greatest(length(ta), length(tb)) END"
            ).alias("edit_ratio_ppm"),
        )
    )


SUBSTR_W = 20  # duplicated-substring window (tokens)


def q_dedup_substring_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-substring coverage — the exact-substring
    dedup signal of Lee et al. 2021 ("Deduplicating Training Data Makes
    Language Models Better"), re-expressed suffix-array-free for Spark:
    a token span is duplicated iff its ``SUBSTR_W``-token window hash
    occurs ≥ 2 times in the corpus (any doc, including its own), and a
    doc's ``dup_coverage_ppm`` is the fraction of its tokens covered by
    the UNION of duplicated windows.

    Shapes, in order: one corpus scan emitting (doc, pos, md5(win))
    rolling windows (O(n·W) per doc via the argument-position ngrams
    builder — never a lambda-body re-split); one window-hash aggregate
    (map-side combining) keeps hashes with ≥2 occurrences; one
    equi-join back tags duplicated positions; interval union is a
    doc-PARTITIONED running-max window — because all intervals share
    length W, the union contribution of a hit at ``pos`` is exactly
    ``least(W, pos - prev_max_pos)`` (W for the first hit). No global
    window, no pair materialization: corpus-scale work is two shuffles
    (hash agg + join-back), which is what the suffix-array approach
    costs on a cluster anyway — and this one distributes for free."""
    # W=20 windows: the k-1-pass zip_with builder (fine at k∈{2,3})
    # copies O(W²) chars per position at this width; instead MATERIALIZE
    # the token array once, then hash each window with a per-position
    # slice — an attribute reference inside the lambda body is O(1), so
    # this is O(n·W) (the derive_transcripts pattern), and hashing
    # inside the lambda means the staged frame holds 32-char digests,
    # never W-token gram strings
    toks = F.split(F.col("text"), " ")
    base = staged(
        spark,
        ("substr_base", sf_dir),
        lambda: _docs(spark, sf_dir)
        .select(F.col("doc_id").cast("string").alias("doc_id"), toks.alias("__toks"))
        .where(F.size("__toks") >= SUBSTR_W)
        .select(
            "doc_id",
            F.size("__toks").cast("long").alias("n_tokens"),
            F.transform(
                F.sequence(F.lit(0), F.size("__toks") - SUBSTR_W),
                lambda i: F.md5(
                    F.array_join(F.slice("__toks", i + 1, SUBSTR_W), " ")
                ),
            ).alias("hs"),
        ),
    )
    occ = base.select("doc_id", F.posexplode("hs").alias("pos", "h"))
    dup = occ.groupBy("h").agg(F.count(F.lit(1)).alias("c")).where(F.col("c") >= 2)
    hits = occ.join(dup.select("h"), "h").select("doc_id", "pos")
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cov = hits.select(
        "doc_id",
        "pos",
        F.max("pos").over(w).alias("prev_max_pos"),
    ).select(
        "doc_id",
        F.when(
            F.col("prev_max_pos").isNull(), F.lit(SUBSTR_W)
        )
        .otherwise(F.least(F.lit(SUBSTR_W), F.col("pos") - F.col("prev_max_pos")))
        .cast("long")
        .alias("c"),
    )
    agg = cov.groupBy("doc_id").agg(F.sum("c").alias("dup_tokens"))
    return (
        base.select("doc_id", "n_tokens")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("long").alias("dup_tokens"),
            F.expr(
                "coalesce(dup_tokens, 0) * 1000000 DIV n_tokens"
            ).alias("dup_coverage_ppm"),
        )
    )


QUERIES = {
    # never-truncated-first ordering: queries without a prior-round
    # CORRECTNESS row lead their module, so any gate truncation falls on
    # rows with green history
    "dedup_substring_coverage": q_dedup_substring_coverage,
    "dedup_edit_distance": q_dedup_edit_distance,
    "dedup_incremental": q_dedup_incremental,
    "dedup_containment": q_dedup_containment,
    "dedup_exact": q_dedup_exact,
    "dedup_keep_list": q_dedup_keep_list,
    "dedup_neardup_clusters": q_dedup_neardup_clusters,
    "dedup_minhash_rescored": q_dedup_minhash_rescored,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_minhash_pairs": q_dedup_minhash_pairs,
    "dedup_lsh_skipped_buckets": q_dedup_lsh_skipped_buckets,
    "dedup_hot_shingles": q_dedup_hot_shingles,
    "dedup_simhash": q_dedup_simhash,
    "dedup_simhash_pairs": q_dedup_simhash_pairs,
}

def _rescored_ctes() -> str:
    """Shared CTE chain ending in ``verified(doc_a, doc_b, jaccard_ppm)``
    — the LSH-candidates → exact-Jaccard-rescore pipeline, used by both
    the pairs oracle and the cluster (recursive-CTE) oracle."""
    return f"""sh AS ({_SHINGLES_SQL}),
sig AS (
  SELECT doc_id,
         {_minhash_sql_cols()}
  FROM sh GROUP BY doc_id),
keys AS (
  SELECT doc_id,
       {_BAND_KEYS_SQL}
  FROM sig),
banded AS (
  {" UNION ALL ".join(f"SELECT doc_id, {b} AS band_idx, band{b} AS band_key FROM keys" for b in range(LSH_BANDS))}),
bsizes AS (SELECT band_idx, band_key, COUNT(*) AS n_docs FROM banded GROUP BY 1, 2),
bkept AS (
  SELECT banded.* FROM banded JOIN bsizes USING (band_idx, band_key)
  WHERE bsizes.n_docs <= {LSH_MAX_BUCKET}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bkept a JOIN bkept b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS n_common
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY c.doc_a, c.doc_b),
verified AS (
  SELECT doc_a, doc_b,
         (n_common * 1000000) // (sa.sz + sb.sz - n_common) AS jaccard_ppm
  FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE (n_common * 1000000) // (sa.sz + sb.sz - n_common) >= {int(JACCARD_THRESHOLD * 1_000_000)})"""


_BAND_KEYS_SQL = ",\n       ".join(
    "md5("
    + " || '|' || ".join(
        f"CAST(mh{b * LSH_ROWS + r} AS VARCHAR)" for r in range(LSH_ROWS)
    )
    + f") AS band{b}"
    for b in range(LSH_BANDS)
)

ORACLES = {
    "dedup_substring_coverage": f"""
WITH t AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         string_split(text, ' ') AS tk,
         len(string_split(text, ' ')) AS s
  FROM documents
  WHERE len(string_split(text, ' ')) >= {SUBSTR_W}),
occ AS (
  SELECT doc_id, i - 1 AS pos,
         md5(array_to_string(tk[i : i + {SUBSTR_W - 1}], ' ')) AS h
  FROM (SELECT doc_id, tk, unnest(range(1, s - {SUBSTR_W} + 2)) AS i
        FROM t) z),
dup AS (SELECT h FROM occ GROUP BY h HAVING COUNT(*) >= 2),
hits AS (SELECT o.doc_id, o.pos FROM occ o JOIN dup USING (h)),
cov AS (
  SELECT doc_id,
         CASE WHEN prev IS NULL THEN {SUBSTR_W}
              ELSE LEAST({SUBSTR_W}, pos - prev) END AS c
  FROM (SELECT doc_id, pos,
               MAX(pos) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING) AS prev
        FROM hits) y),
agg AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS dup_tokens
        FROM cov GROUP BY doc_id)
SELECT t.doc_id, CAST(t.s AS BIGINT) AS n_tokens,
       CAST(COALESCE(a.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       CAST(COALESCE(a.dup_tokens, 0) * 1000000 // t.s AS BIGINT)
         AS dup_coverage_ppm
FROM t LEFT JOIN agg a USING (doc_id)""",
    "dedup_exact": """
WITH h AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id, md5(text) AS text_hash FROM documents),
g AS (SELECT text_hash, CAST(COUNT(*) AS BIGINT) AS n_dups, MIN(doc_id) AS keep_doc_id
      FROM h GROUP BY text_hash)
SELECT doc_id, h.text_hash, n_dups, keep_doc_id,
       doc_id = keep_doc_id AS is_canonical
FROM h JOIN g ON h.text_hash = g.text_hash""",
    "dedup_ngram_jaccard": f"""
WITH sh0 AS ({_SHINGLES_SQL}),
hot AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) > {HOT_SHINGLE_CAP}),
sh AS (SELECT sh0.* FROM sh0 ANTI JOIN hot USING (shingle)),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b, n_common, sa.sz AS sz_a, sb.sz AS sz_b,
       (n_common * 1000000) // (sa.sz + sb.sz - n_common) AS jaccard_ppm
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE (n_common * 1000000) // (sa.sz + sb.sz - n_common) >= {int(JACCARD_THRESHOLD * 1_000_000)}""",
    "dedup_edit_distance": f"""
WITH sh AS ({_SHINGLES_SQL}),
sig AS (
  SELECT doc_id,
         {_minhash_sql_cols()}
  FROM sh GROUP BY doc_id),
keys AS (
  SELECT doc_id,
       {_BAND_KEYS_SQL}
  FROM sig),
banded AS (
  {" UNION ALL ".join(f"SELECT doc_id, {b} AS band_idx, band{b} AS band_key FROM keys" for b in range(LSH_BANDS))}),
sizes AS (SELECT band_idx, band_key, COUNT(*) AS n_docs FROM banded GROUP BY 1, 2),
kept AS (
  SELECT banded.* FROM banded JOIN sizes USING (band_idx, band_key)
  WHERE sizes.n_docs <= {LSH_MAX_BUCKET}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM kept a JOIN kept b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id),
texts AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, text FROM documents
  WHERE NOT regexp_matches(text, '[^\\x00-\\x7F]'))
SELECT doc_a, doc_b,
       CAST(levenshtein(ta.text, tb.text) AS BIGINT) AS edit_distance,
       CASE WHEN greatest(length(ta.text), length(tb.text)) = 0 THEN 0
            ELSE (CAST(levenshtein(ta.text, tb.text) AS BIGINT) * 1000000)
                 // greatest(length(ta.text), length(tb.text)) END
         AS edit_ratio_ppm
FROM cand
JOIN texts ta ON ta.doc_id = cand.doc_a
JOIN texts tb ON tb.doc_id = cand.doc_b""",
    "dedup_incremental": f"""
WITH sh AS ({_SHINGLES_SQL}),
sig AS (
  SELECT doc_id,
         {_minhash_sql_cols()}
  FROM sh GROUP BY doc_id),
keys AS (
  SELECT doc_id,
       {_BAND_KEYS_SQL}
  FROM sig),
banded AS (
  {" UNION ALL ".join(f"SELECT doc_id, {b} AS band_idx, band{b} AS band_key FROM keys" for b in range(LSH_BANDS))}),
sizes AS (SELECT band_idx, band_key, COUNT(*) AS n_docs FROM banded GROUP BY 1, 2),
kept AS (
  SELECT banded.* FROM banded JOIN sizes USING (band_idx, band_key)
  WHERE sizes.n_docs <= {LSH_MAX_BUCKET})
SELECT DISTINCT a.doc_id AS new_doc, b.doc_id AS corpus_doc
FROM kept a JOIN kept b
  ON a.band_idx = b.band_idx AND a.band_key = b.band_key
WHERE CAST(a.doc_id AS BIGINT) % {INCR_BATCH_MOD} = {INCR_BATCH_REM}
  AND CAST(b.doc_id AS BIGINT) % {INCR_BATCH_MOD} <> {INCR_BATCH_REM}""",
    "dedup_minhash_pairs": f"""
WITH sh AS ({_SHINGLES_SQL}),
sig AS (
  SELECT doc_id,
         {_minhash_sql_cols()}
  FROM sh GROUP BY doc_id),
keys AS (
  SELECT doc_id,
       {_BAND_KEYS_SQL}
  FROM sig),
banded AS (
  {" UNION ALL ".join(f"SELECT doc_id, {b} AS band_idx, band{b} AS band_key FROM keys" for b in range(LSH_BANDS))}),
sizes AS (SELECT band_idx, band_key, COUNT(*) AS n_docs FROM banded GROUP BY 1, 2),
kept AS (
  SELECT banded.* FROM banded JOIN sizes USING (band_idx, band_key)
  WHERE sizes.n_docs <= {LSH_MAX_BUCKET})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM kept a JOIN kept b
  ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id""",
    "dedup_lsh_skipped_buckets": f"""
WITH sh AS ({_SHINGLES_SQL}),
sig AS (
  SELECT doc_id,
         {_minhash_sql_cols()}
  FROM sh GROUP BY doc_id),
keys AS (
  SELECT doc_id,
       {_BAND_KEYS_SQL}
  FROM sig),
banded AS (
  {" UNION ALL ".join(f"SELECT doc_id, {b} AS band_idx, band{b} AS band_key FROM keys" for b in range(LSH_BANDS))})
SELECT band_idx, band_key, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM banded GROUP BY 1, 2
HAVING COUNT(*) > {LSH_MAX_BUCKET}""",
    "dedup_hot_shingles": f"""
WITH sh AS ({_SHINGLES_SQL})
SELECT shingle, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM sh GROUP BY shingle
HAVING COUNT(*) > {HOT_SHINGLE_CAP}""",
    "dedup_minhash_rescored": f"""
WITH {{RESCORED}}
SELECT doc_a, doc_b, jaccard_ppm FROM verified""",
    "dedup_neardup_clusters": f"""
WITH RECURSIVE {{RESCORED}},
sym AS (
  SELECT doc_a AS src, doc_b AS dst FROM verified
  UNION SELECT doc_b AS src, doc_a AS dst FROM verified),
verts AS (SELECT DISTINCT src AS id FROM sym),
reach(id, comp) AS (
  SELECT id, id FROM verts
  UNION
  SELECT e.dst, r.comp FROM reach r JOIN sym e ON e.src = r.id)
SELECT id AS doc_id, MIN(comp) AS canonical_doc_id
FROM reach GROUP BY id""",
    "dedup_keep_list": f"""
WITH RECURSIVE {{RESCORED}},
sym AS (
  SELECT doc_a AS src, doc_b AS dst FROM verified
  UNION SELECT doc_b AS src, doc_a AS dst FROM verified),
verts AS (SELECT DISTINCT src AS id FROM sym),
reach(id, comp) AS (
  SELECT id, id FROM verts
  UNION
  SELECT e.dst, r.comp FROM reach r JOIN sym e ON e.src = r.id),
cl AS (SELECT id AS doc_id, MIN(comp) AS canonical FROM reach GROUP BY id)
SELECT d.doc_id,
       COALESCE(cl.canonical, d.doc_id) AS canonical_doc_id,
       COALESCE(cl.canonical, d.doc_id) = d.doc_id AS keep
FROM (SELECT CAST(doc_id AS VARCHAR) AS doc_id FROM documents) d
LEFT JOIN cl ON cl.doc_id = d.doc_id""",
    "dedup_simhash": f"""
WITH {{SIMHASH_BLOCKS}}
SELECT doc_id, printf('%04x%04x%04x%04x', blk3, blk2, blk1, blk0) AS simhash
FROM blk""",
    # oracle for the pairs query is the EXACT all-pairs Hamming join (the
    # pigeonhole block decomposition must lose nothing, by construction)
    "dedup_simhash_pairs": f"""
WITH {{SIMHASH_BLOCKS}}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST({" + ".join(f"bit_count(xor(a.blk{k}, b.blk{k}))" for k in range(_SIMHASH_BLOCKS))} AS INT) AS hamming
FROM blk a JOIN blk b ON a.doc_id < b.doc_id
WHERE {" + ".join(f"bit_count(xor(a.blk{k}, b.blk{k}))" for k in range(_SIMHASH_BLOCKS))} <= {SIMHASH_MAX_HAMMING}""",
    "dedup_containment": f"""
WITH {{RESCORED}}
SELECT doc_a, doc_b, n_common,
       (n_common * 1000000) // sa.sz AS cont_a_in_b_ppm,
       (n_common * 1000000) // sb.sz AS cont_b_in_a_ppm
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE GREATEST((n_common * 1000000) // sa.sz,
               (n_common * 1000000) // sb.sz) >= {CONTAINMENT_THRESHOLD_PPM}""",
}


def _simhash_blocks_sql() -> str:
    """Shared CTE chain ending in ``blk(doc_id, blk0..blk3)`` — the
    DuckDB twin of :func:`_simhash_blocks` (same nibble-bit majorities,
    same tie rule)."""
    n_nibs = SIMHASH_BITS // 4
    nib_exprs = ",\n         ".join(
        f"strpos('0123456789abcdef', substr(h, {k + 1}, 1)) - 1 AS nib{k}"
        for k in range(n_nibs)
    )
    count_exprs = ",\n         ".join(
        f"SUM((nib{i // 4} // {1 << (i % 4)}) % 2) AS c{i}"
        for i in range(SIMHASH_BITS)
    )
    blk_exprs = ",\n         ".join(
        "CAST("
        + " + ".join(
            f"(CASE WHEN c{b * _BLOCK_BITS + j} * 2 >= n THEN {1 << j} ELSE 0 END)"
            for j in range(_BLOCK_BITS)
        )
        + f" AS INT) AS blk{b}"
        for b in range(_SIMHASH_BLOCKS)
    )
    return f"""toks AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         md5(unnest(string_split(text, ' '))) AS h
  FROM documents),
nib AS (
  SELECT doc_id,
         {nib_exprs}
  FROM toks),
agg AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n,
         {count_exprs}
  FROM nib GROUP BY doc_id),
blk AS (
  SELECT doc_id,
         {blk_exprs}
  FROM agg)"""


for _name in ("dedup_simhash", "dedup_simhash_pairs"):
    ORACLES[_name] = ORACLES[_name].replace("{SIMHASH_BLOCKS}", _simhash_blocks_sql())

# late substitution: the shared rescored-pipeline CTEs depend on the band
# constants defined above
for _name in ("dedup_minhash_rescored", "dedup_neardup_clusters", "dedup_keep_list", "dedup_containment"):
    ORACLES[_name] = ORACLES[_name].replace("{RESCORED}", _rescored_ctes())
