"""Multimodal driver-contract queries: the Arrow header parser checked
against an oracle that re-derives the same metadata WITHOUT parsing
bytes (independent derivations of one spec — see operators/multimodal)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dstlr_spark.operators.multimodal import (
    PNG_MAGIC,
    media_metadata,
    sniff_media_type,
    synth_media,
)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dstlr_spark.plans.partitioning import fan_out

    # fan_out: single-row-group input — codec synth + decode is by far
    # the heaviest map stage in the engine; one task would serialize it
    return fan_out(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def q_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synth binary payloads → Arrow header parse → typed metadata."""
    media = synth_media(_docs(spark, sf_dir))
    return media_metadata(media)


def q_media_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native (no-UDF) magic sniffing + byte stats on the binary column."""
    media = synth_media(_docs(spark, sf_dir))
    return media.select(
        "doc_id",
        sniff_media_type(F.col("payload")).alias("media_type"),
        F.length("payload").cast("int").alias("n_bytes"),
        F.md5(F.hex(F.col("payload"))).alias("payload_md5"),
    )


_PAYLOAD_SQL = f"""unhex('{PNG_MAGIC}') || unhex('0000000D') || encode('IHDR')
        || unhex(lpad(upper(hex(CAST(n_chars % 512 + 1 AS BIGINT))), 8, '0'))
        || unhex(lpad(upper(hex(CAST((n_chars * 7) % 512 + 1 AS BIGINT))), 8, '0'))
        || encode(text)"""

def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL feature extraction under the value gate: per-payload byte
    histogram (16 bins = the byte's high nibble) via the Arrow-batched
    numpy bincount operator. The oracle re-derives the same histogram
    WITHOUT touching numpy: bin(byte) == its high hex digit, so the
    histogram is the count of each hex character at odd positions of
    hex(payload). Bins are emitted dash-joined (arrays don't round-trip
    the gate's value compare portably)."""
    from dstlr_spark.operators.multimodal import extract_features

    media = synth_media(_docs(spark, sf_dir))
    feats = extract_features(media)
    return feats.select(
        "doc_id",
        F.array_join(
            F.transform(F.col("features"), lambda x: x.cast("string")), "-"
        ).alias("byte_hist"),
        "n_bytes",
    )


MEDIA_REINGEST_MOD = 50  # every 50th payload re-ingested under a new doc id
MEDIA_REINGEST_OFFSET = 1_000_000  # id namespace of the re-ingested copies


def q_media_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact binary dedup over the media column: content hash → group,
    keep the lowest doc id — the image/audio analog of ``dedup_exact``
    (multimodal corpora are deduped by payload digest FIRST; perceptual
    near-dup runs after, on survivors). The corpus has no duplicate
    payloads by construction, so a deterministic re-ingest is planted
    (every ``MEDIA_REINGEST_MOD``-th payload under a shifted doc id —
    the ``dedup_incremental`` pattern): the operator must find exactly
    those copies.

    Scale shape: one hash aggregate on the 32-hex digest (map-side
    partials; group count = distinct payloads). The digest is computed
    per row at scan time — no shuffle carries the binary payload, only
    its hash."""
    docs = _docs(spark, sf_dir)
    original = synth_media(docs)
    reingested = synth_media(
        docs.where(F.col("doc_id").cast("long") % MEDIA_REINGEST_MOD == 0).select(
            (F.col("doc_id").cast("long") + MEDIA_REINGEST_OFFSET)
            .cast("string")
            .alias("doc_id"),
            "text",
            "n_chars",
        )
    )
    allm = original.unionByName(reingested)
    return (
        allm.select(
            F.md5(F.hex(F.col("payload"))).alias("payload_md5"),
            F.col("doc_id").cast("long").alias("did"),
        )
        .groupBy("payload_md5")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_copies"),
            F.min("did").alias("canonical_doc"),
        )
        .where(F.col("n_copies") > 1)
        .select(
            "payload_md5",
            "n_copies",
            F.col("canonical_doc").cast("string").alias("canonical_doc"),
        )
    )


def q_phash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual (aHash) near-dup groups over the mixed-codec corpus —
    the dedup exact byte hashing cannot do: `synth_media_mixed` keys
    the CODEC on (n_chars DIV 7) MOD 22 and the IMAGE on n_chars MOD 7,
    so the same planted picture ships as BMP in one doc and PNG/GIF in
    another — different payload md5, same decoded pixels, same aHash.
    Groups therefore span codec variants (n_variants > 1 rows are the
    cross-format matches), which is exactly the multimodal-curation
    story: dedup AFTER decode, not on container bytes.

    The oracle re-derives every hash analytically from n_chars (planted
    pixel formula + the fixed-side nearest-neighbor index math + the
    gray/mean/bit spec in :func:`dstlr_spark.operators.multimodal.
    phash_np`) without touching a byte — format-blind, so all twenty-two
    codec paths (lossless/lossless-arithmetic/hierarchical JPEG,
    RLE8/bitfields BMP, embedded BI_JPEG/BI_PNG BMP, LZW/MM TIFF,
    JPEG-in-TIFF, TGA, PCX, QOI, VP8L, and ICO included — exact
    decodes) must land the identical 16-bit key. A payload in a mode
    the decoders stub (DCT JPEG, animated GIF, …) would hash to a null
    key and drop out of the groups, never join a wrong one.

    Scale shape: map-only decode+hash (only (doc_id, key) leaves the
    stage) then ONE hash aggregate on the key — the `dedup_exact`
    shape at any corpus size."""
    from dstlr_spark.operators.multimodal import phash_np, synth_media_mixed

    docs = _docs(spark, sf_dir)
    ph = phash_np(synth_media_mixed(docs))
    variants = docs.where(
        F.col("text").isNotNull() & F.col("n_chars").isNotNull()
    ).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.expr("CAST((n_chars DIV 7) % 22 AS INT)").alias("variant"),
    )
    return (
        ph.where(F.col("phash").isNotNull())
        .join(variants, "doc_id")
        .groupBy("phash")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("variant").cast("long").alias("n_variants"),
            F.min(F.col("doc_id").cast("long")).alias("canonical_doc"),
        )
        .where(F.col("n_docs") > 1)
    )


def q_audio_vad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voice-activity segmentation under the value gate: REAL PCM
    decode → exact integer frame energies → maximal voiced segments
    (:func:`dstlr_spark.operators.multimodal.audio_vad_np`), over the
    planted-silence corpus (`synth_media_wav_vad`: alternating
    25-sample voice/zero blocks, shipped per doc as PCM WAV /
    big-endian AIFF / Sun AU). The oracle re-derives every segment
    analytically from n_chars — sample values from range() arithmetic
    with the silence mask, frames by i DIV VAD_FRAME, segments via the
    gaps-and-islands sum — without touching a byte. Scale shape:
    map-only decode + in-stage segmentation, the
    `mm_audio_features` shape with a per-clip (not per-corpus)
    run-detection step."""
    from dstlr_spark.operators.multimodal import audio_vad_np, synth_media_wav_vad

    return audio_vad_np(synth_media_wav_vad(_docs(spark, sf_dir)))


def q_video_shots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot-boundary detection under the value gate: REAL video decode
    → exact integer frame-delta sums → shots (:func:`dstlr_spark.
    operators.multimodal.video_shots_np`), over the planted-scene
    corpus (`synth_media_y4m_shots`: luma constant within 3-frame
    scenes, jumping at boundaries; shipped per doc as mono Y4M or
    AVI-DIB). The oracle re-derives every shot
    analytically from n_chars — per-pixel luma via range() arithmetic,
    frame deltas via LAG over (doc, x, y), boundaries + shots via the
    gaps-and-islands sum — without touching a byte. Scale shape:
    map-only decode + in-stage segmentation (the `mm_audio_vad`
    shape on the video axis)."""
    from dstlr_spark.operators.multimodal import (
        synth_media_y4m_shots,
        video_shots_np,
    )

    return video_shots_np(synth_media_y4m_shots(_docs(spark, sf_dir)))


def q_frame_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing under the value gate: the Arrow-batched
    byte-stride sampler (:func:`dstlr_spark.operators.multimodal.
    frame_sample` — the video path swaps the stride loop for a codec
    GOP reader; schema, batching, and the deterministic schedule are
    what the engine guarantees) emits one row per sampled frame with
    its byte offset and the sampled byte value. The oracle re-derives
    the schedule and each sampled byte from hex(payload) arithmetic —
    no byte-decoding shortcut shared with the Spark side.

    Scale shape: one mapInPandas projection over the binary column —
    map-only, no shuffle; output is rows-per-frame (bounded by
    payload_bytes / stride)."""
    from dstlr_spark.operators.multimodal import frame_sample

    media = synth_media(_docs(spark, sf_dir))
    return frame_sample(media)


def q_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL pixel decode + resize under the value gate: synth the
    planted position/channel-dependent
    image per document as a TWENTY-TWO-VARIANT corpus keyed on
    (n_chars DIV 7) MOD 22 (DIV 7 first so the codec choice is
    independent of the MOD-7-derived dims — see synth_media_mixed) —
    24-bit BMP; truecolor PNG with rotating scanline filters 0..4 (zlib
    inflate + all five unfilter paths exercised at gate time);
    palettized GIF89a (real variable-width LZW + sub-block reassembly);
    Adam7-interlaced PNG; paletted PNG (PLTE); interlaced GIF;
    16-bit truecolor PNG carrying the same sample values; lossless
    JPEG (SOF3 — exact Annex-H predictive decode, the one JPEG family
    that can sit under a value-equality oracle); and
    lossless-ARITHMETIC JPEG (SOF11 — the same exact prediction walk
    under the QM coder); HIERARCHICAL JPEG (T.81 Annex J — DHP +
    a two-level SOF3/SOF7 lossless pyramid through the normative EXP
    bilinear expansion, also exact); BI_RLE8 BMP (palettized
    run-length stream, exact); BI_BITFIELDS BMP (32 bpp,
    full-byte channel masks, exact); BI_PNG BMP (a complete truecolor
    PNG stream embedded in the BMP pixel-data area, header dims
    cross-checked, exact); and BI_JPEG BMP (an embedded SOF3 lossless
    JPEG stream, predictor 4, exact); little-endian TIFF (LZW +
    early change + horizontal predictor, multi-strip, exact);
    big-endian uncompressed TIFF (MM, exact); JPEG-in-TIFF
    (Compression 7, lossless strips + shared JPEGTables, exact);
    RLE bottom-up truecolor TGA (footer-dispatched, exact); 24-bit
    3-plane PCX (scanline RLE, exact); and QOI (all six ops of the
    running-index/diff/luma/run stream, exact); and WebP-lossless
    (VP8L: canonical prefix codes under the subtract-green transform
    and a 4-bit color cache, exact); and ICO
    (a doubled-height DIB entry behind a 1×1 decoy — largest-entry
    selection + headerless-DIB rebuild delegated to the BMP decoder,
    exact) — decode
    with the pure-NumPy decoders, nearest-neighbor-resize to max_side=4,
    emit per-doc dimensions, the full-pixel checksum, orientation
    probes (first-R / last-B pixel — catches a missing bottom-up flip
    or BGR swap, which a sum alone cannot), and the thumbnail's
    dimensions + checksum. The oracle re-derives EVERY value
    analytically from n_chars (the planted formula) without touching a
    byte, and is format-BLIND: every codec variant must reproduce the
    identical planted array for the hash to match — independent
    derivations of the BMP, PNG (sequential + Adam7, truecolor +
    paletted), GIF (sequential + interlaced), and lossless-JPEG
    (T.81 Annex H) specs in one gate. The decoders implement exactly
    these modes; every other one (DCT JPEG, sub-byte PNG, PackBits
    TIFF, VP8L LZ77 and transforms, …) raises the STUB contract, which
    decode_image_np turns into a null-dimension row.

    Scale shape: two map-only Arrow-batched decode passes + one
    doc-keyed equi-join — no corpus shuffle beyond the join; payloads
    are bounded (≤8×8 px here; real corpora bound by
    maxRecordsPerBatch)."""
    from dstlr_spark.operators.multimodal import (
        decode_image_np,
        resize_image_np,
        synth_media_mixed,
    )

    media = synth_media_mixed(_docs(spark, sf_dir)).localCheckpoint()
    pixel_sum = lambda: F.aggregate(  # noqa: E731
        F.col("pixels"), F.lit(0).cast("long"), lambda a, x: a + x.cast("long")
    )
    dec = decode_image_np(media).select(
        "doc_id",
        "width",
        "height",
        pixel_sum().alias("pixel_sum"),
        F.element_at("pixels", 1).cast("int").alias("px_first_r"),
        F.element_at("pixels", -1).cast("int").alias("px_last_b"),
    )
    th = resize_image_np(media, max_side=4).select(
        "doc_id",
        F.col("width").cast("int").alias("thumb_w"),
        F.col("height").cast("int").alias("thumb_h"),
        pixel_sum().alias("thumb_sum"),
    )
    return dec.join(th, "doc_id")



def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode + feature extraction under the value gate:
    synth the planted mono 16-bit clip per document as a NINE-VARIANT
    container corpus (PCM WAV / FLAC fixed-2+Rice / FLAC verbatim /
    big-endian AIFF / AIFF-C sowt / Sun AU / Apple CAF / Sony Wave64
    / RF64 — see synth_media_wav;
    count, rate, and every sample value are functions of n_chars),
    decode through the container-dispatched readers, and emit exact
    integer clip features — sample count, channel count, rate,
    integer-microsecond duration, energy (sum of squares), peak
    amplitude, and strict sign-change zero crossings. The oracle
    re-derives EVERY feature from range() arithmetic without touching
    a byte — two independent derivations of the PCM WAV spec.

    Scale shape: one map-only Arrow-batched decode+reduce pass
    (samples never leave the stage)."""
    from dstlr_spark.operators.multimodal import (
        audio_features_np,
        synth_media_wav,
    )

    return audio_features_np(synth_media_wav(_docs(spark, sf_dir)))



def q_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video decode + frame sampling under the value gate: synth
    the planted luma clip per document as a THREE-VARIANT container
    corpus (mono Y4M / AVI-DIB / AVI-MJPEG with lossless SOF3 frames
    — see synth_media_y4m), decode through the container-dispatched
    readers, sample every 2nd frame, and emit per-sampled-frame exact
    integer features (dims, luma sum/min/max). The oracle re-derives
    every row from range() arithmetic — two independent derivations of
    the Y4M container spec, and the per-frame sums pin the frame
    boundaries (a one-byte misalignment shifts every later frame).

    Scale shape: one map-only Arrow-batched decode+reduce pass; rows
    out = sampled frames (bounded), pixels never leave the stage."""
    from dstlr_spark.operators.multimodal import (
        synth_media_y4m,
        video_frame_features_np,
    )

    return video_frame_features_np(synth_media_y4m(_docs(spark, sf_dir)))


QUERIES = {
    # never-truncated-first ordering (see dedup.QUERIES)
    "mm_media_decode": q_media_decode,
    "mm_phash_groups": q_phash_groups,
    "mm_audio_features": q_audio_features,
    "mm_audio_vad": q_audio_vad,
    "mm_video_shots": q_video_shots,
    "mm_video_frames": q_video_frames,
    "mm_frame_schedule": q_frame_schedule,
    "mm_media_dedup": q_media_dedup,
    "mm_media_features": q_media_features,
    "mm_media_meta": q_media_meta,
    "mm_media_sniff": q_media_sniff,
}

ORACLES = {
    # analytic re-derivation of the planted BMP: w/h from n_chars, every
    # pixel from (3x+7y+11c+13) % 251, nearest-neighbor source index
    # (X·w) DIV tw — no byte parsing anywhere on the oracle side
    "mm_media_decode": """
WITH m AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         n_chars % 7 + 2 AS w, (n_chars * 3) % 7 + 2 AS h
  FROM documents WHERE text IS NOT NULL AND n_chars IS NOT NULL),
dims AS (
  SELECT doc_id, w, h,
         CASE WHEN greatest(w, h) <= 4 THEN w
              ELSE greatest(1, (w * 4) // greatest(w, h)) END AS tw,
         CASE WHEN greatest(w, h) <= 4 THEN h
              ELSE greatest(1, (h * 4) // greatest(w, h)) END AS th
  FROM m),
xs AS (SELECT doc_id, h, unnest(range(w)) AS x FROM dims),
ys AS (SELECT doc_id, x, unnest(range(h)) AS y FROM xs),
cs AS (SELECT doc_id, x, y, unnest(range(3)) AS c FROM ys),
px AS (SELECT doc_id, CAST(SUM((3*x + 7*y + 11*c + 13) % 251) AS BIGINT)
              AS pixel_sum
       FROM cs GROUP BY doc_id),
txs AS (SELECT doc_id, w, h, tw, th, unnest(range(tw)) AS tx FROM dims),
tys AS (SELECT doc_id, w, h, tw, th, tx, unnest(range(th)) AS ty FROM txs),
tcs AS (SELECT doc_id, (tx * w) // tw AS sx, (ty * h) // th AS sy,
               unnest(range(3)) AS c
        FROM tys),
tpx AS (SELECT doc_id, CAST(SUM((3*sx + 7*sy + 11*c + 13) % 251) AS BIGINT)
               AS thumb_sum
        FROM tcs GROUP BY doc_id)
SELECT d.doc_id, CAST(d.w AS INT) AS width, CAST(d.h AS INT) AS height,
       px.pixel_sum,
       CAST(13 AS INT) AS px_first_r,
       CAST((3*(d.w - 1) + 7*(d.h - 1) + 11*2 + 13) % 251 AS INT) AS px_last_b,
       CAST(d.tw AS INT) AS thumb_w, CAST(d.th AS INT) AS thumb_h,
       tpx.thumb_sum
FROM dims d
JOIN px ON px.doc_id = d.doc_id
JOIN tpx ON tpx.doc_id = d.doc_id""",
    # analytic re-derivation of the aHash: planted pixels + fixed-side
    # nearest index math + gray/mean/bit spec, grouped on the key — no
    # byte parsing anywhere on the oracle side (format-blind: all
    # twenty-two codec variants of one planted image must land the same hash)
    "mm_phash_groups": """
WITH m AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, n_chars,
         n_chars % 7 + 2 AS w, (n_chars * 3) % 7 + 2 AS h,
         CAST((n_chars // 7) % 22 AS INT) AS variant
  FROM documents WHERE text IS NOT NULL AND n_chars IS NOT NULL),
txs AS (SELECT doc_id, w, h, unnest(range(4)) AS tx FROM m),
tys AS (SELECT doc_id, w, h, tx, unnest(range(4)) AS ty FROM txs),
g AS (
  SELECT doc_id, ty, tx,
         CAST(((3*((tx*w)//4) + 7*((ty*h)//4) + 11*0 + 13) % 251
             + (3*((tx*w)//4) + 7*((ty*h)//4) + 11*1 + 13) % 251
             + (3*((tx*w)//4) + 7*((ty*h)//4) + 11*2 + 13) % 251) // 3 AS BIGINT)
           AS gray
  FROM tys),
mu AS (SELECT doc_id, SUM(gray) // 16 AS mu FROM g GROUP BY doc_id),
hsh AS (
  SELECT g.doc_id,
         CAST(SUM(CASE WHEN g.gray > mu.mu
                       THEN 1 << (g.ty * 4 + g.tx) ELSE 0 END) AS BIGINT)
           AS phash
  FROM g JOIN mu ON mu.doc_id = g.doc_id
  GROUP BY g.doc_id)
SELECT h.phash,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT m.variant) AS BIGINT) AS n_variants,
       CAST(MIN(CAST(m.doc_id AS BIGINT)) AS BIGINT) AS canonical_doc
FROM hsh h JOIN m ON m.doc_id = h.doc_id
GROUP BY h.phash HAVING COUNT(*) > 1""",
    # analytic re-derivation of the shot table: planted per-pixel luma,
    # frame deltas via LAG over (doc, x, y), boundaries + shots via the
    # gaps-and-islands sum — no byte parsing anywhere on the oracle side
    "mm_video_shots": """
WITH m AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, n_chars AS n,
         n_chars % 5 + 2 AS w, (n_chars * 3) % 5 + 2 AS h,
         n_chars % 9 + 3 AS nf
  FROM documents WHERE text IS NOT NULL AND n_chars IS NOT NULL),
fs AS (SELECT doc_id, n, w, h, unnest(range(nf)) AS f FROM m),
ys AS (SELECT doc_id, n, w, f, unnest(range(h)) AS y FROM fs),
xs AS (SELECT doc_id, f, y, unnest(range(w)) AS x FROM ys),
px AS (SELECT doc_id, f, x, y,
              (5 * x + 3 * y + 31 * (f // 3) + 11) % 241 AS v
       FROM xs),
d AS (
  SELECT doc_id, f, v,
         ABS(v - LAG(v) OVER (PARTITION BY doc_id, x, y ORDER BY f)) AS dv
  FROM px),
fr AS (
  SELECT doc_id, f, CAST(SUM(v) AS BIGINT) AS ysum,
         CAST(COALESCE(SUM(dv), 0) AS BIGINT) AS delta,
         CAST(COUNT(dv) AS BIGINT) AS n_dv
  FROM d GROUP BY doc_id, f),
b AS (
  SELECT doc_id, f, ysum,
         CASE WHEN f = 0 OR (n_dv > 0 AND delta >= 1) THEN 1 ELSE 0 END
           AS boundary
  FROM fr),
sh AS (
  SELECT doc_id, f, ysum,
         SUM(boundary) OVER (PARTITION BY doc_id ORDER BY f
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS shot_id
  FROM b)
SELECT doc_id, CAST(shot_id - 1 AS INT) AS shot_idx,
       CAST(MIN(f) AS INT) AS start_frame,
       CAST(COUNT(*) AS INT) AS n_frames,
       CAST(SUM(ysum) AS BIGINT) AS y_sum
FROM sh GROUP BY doc_id, shot_id""",
    # analytic re-derivation of the VAD table: planted samples with the
    # silence mask, frame energies by i DIV frame, segments via the
    # gaps-and-islands sum — no byte parsing anywhere on the oracle side
    "mm_audio_vad": """
WITH m AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, n_chars AS n,
         n_chars % 120 + 40 AS cnt
  FROM documents WHERE text IS NOT NULL AND n_chars IS NOT NULL),
i AS (SELECT doc_id, n, unnest(range(cnt)) AS i FROM m),
s AS (
  SELECT doc_id, i // 10 AS fr,
         CASE WHEN (i // 25) % 2 = 1 THEN 0
              ELSE (n * 31 + i * 17) % 4097 - 2048 END AS v
  FROM i),
fe AS (
  SELECT doc_id, fr, CAST(SUM(v * v) AS BIGINT) AS energy
  FROM s GROUP BY doc_id, fr),
vd AS (
  SELECT doc_id, fr, energy,
         CASE WHEN energy >= 1 THEN 1 ELSE 0 END AS voiced
  FROM fe),
isl AS (
  SELECT doc_id, fr, energy, voiced,
         SUM(1 - voiced) OVER (PARTITION BY doc_id ORDER BY fr
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS g
  FROM vd),
seg AS (
  SELECT doc_id, g, MIN(fr) AS start_frame,
         COUNT(*) AS n_frames, SUM(energy) AS energy
  FROM isl WHERE voiced = 1 GROUP BY doc_id, g)
SELECT doc_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY start_frame)
            - 1 AS INT) AS seg_idx,
       CAST(start_frame AS INT) AS start_frame,
       CAST(n_frames AS INT) AS n_frames,
       CAST(energy AS BIGINT) AS energy
FROM seg""",
    # analytic re-derivation of the planted WAV: count/rate from
    # n_chars, every sample from (n*31 + i*17) % 4097 - 2048, zero
    # crossings via LAG — no byte parsing anywhere on the oracle side
    "mm_audio_features": """
WITH m AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         n_chars % 50 + 10 AS cnt,
         8000 + (n_chars % 2) * 8000 AS rate,
         n_chars AS n
  FROM documents WHERE text IS NOT NULL AND n_chars IS NOT NULL),
s AS (
  SELECT doc_id, i, (n * 31 + i * 17) % 4097 - 2048 AS v
  FROM (SELECT doc_id, n, unnest(range(cnt)) AS i FROM m)),
sx AS (
  SELECT doc_id, v, LAG(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
  FROM s),
f AS (
  SELECT doc_id,
         CAST(SUM(CAST(v AS BIGINT) * v) AS BIGINT) AS sumsq,
         CAST(MAX(ABS(v)) AS INT) AS peak,
         CAST(COUNT(CASE WHEN pv IS NOT NULL AND pv * v < 0 THEN 1 END)
              AS INT) AS zero_crossings
  FROM sx GROUP BY doc_id)
SELECT m.doc_id,
       CAST(m.cnt AS INT) AS n_samples,
       CAST(1 AS INT) AS n_channels,
       CAST(m.rate AS INT) AS sample_rate,
       CAST(m.cnt AS BIGINT) * 1000000 // m.rate AS duration_us,
       f.sumsq, f.peak, f.zero_crossings
FROM m JOIN f ON f.doc_id = m.doc_id""",
    # analytic re-derivation of the planted Y4M clip: dims/frame count
    # from n_chars, every sampled frame's luma stats from the
    # (5x + 3y + 7f + 11) % 241 formula — no byte parsing on the
    # oracle side; min/max come from the same enumeration
    "mm_video_frames": """
WITH m AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         n_chars % 6 + 2 AS w, (n_chars * 5) % 6 + 2 AS h,
         n_chars % 6 + 2 AS nf
  FROM documents WHERE text IS NOT NULL AND n_chars IS NOT NULL),
fr AS (
  SELECT doc_id, w, h, unnest(range(nf)) AS f FROM m),
sampled AS (
  SELECT doc_id, w, h, f FROM fr WHERE f % 2 = 0),
px AS (
  SELECT s.doc_id, s.f, s.w, s.h,
         (5 * x.x + 3 * y.y + 7 * s.f + 11) % 241 AS v
  FROM sampled s,
       LATERAL (SELECT unnest(range(s.w)) AS x) x,
       LATERAL (SELECT unnest(range(s.h)) AS y) y),
agg AS (
  SELECT doc_id, f, w, h,
         CAST(SUM(v) AS BIGINT) AS y_sum,
         CAST(MIN(v) AS INT) AS y_min,
         CAST(MAX(v) AS INT) AS y_max
  FROM px GROUP BY doc_id, f, w, h)
SELECT doc_id, CAST(f AS INT) AS frame_idx, CAST(w AS INT) AS width,
       CAST(h AS INT) AS height, y_sum, y_min, y_max
FROM agg""",
    "mm_frame_schedule": f"""
WITH p AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, hex({_PAYLOAD_SQL}) AS hx
  FROM documents WHERE text IS NOT NULL AND n_chars IS NOT NULL),
f AS (
  SELECT doc_id, hx, unnest(range((length(hx) // 2 + 63) // 64)) AS k
  FROM p)
SELECT doc_id, CAST(k AS INT) AS frame_idx,
       CAST(k * 64 AS INT) AS byte_offset,
       CAST((strpos('0123456789ABCDEF',
                    substr(hx, CAST(k * 128 + 1 AS INT), 1)) - 1) * 16
            + (strpos('0123456789ABCDEF',
                      substr(hx, CAST(k * 128 + 2 AS INT), 1)) - 1)
            AS INT) AS sample
FROM f""",
    "mm_media_dedup": f"""
WITH base AS (
  SELECT CAST(doc_id AS BIGINT) AS did,
         md5(upper(hex({_PAYLOAD_SQL}))) AS payload_md5
  FROM documents WHERE text IS NOT NULL AND n_chars IS NOT NULL),
re AS (
  SELECT did + {MEDIA_REINGEST_OFFSET} AS did, payload_md5
  FROM base WHERE did % {MEDIA_REINGEST_MOD} = 0),
allm AS (SELECT * FROM base UNION ALL SELECT * FROM re)
SELECT payload_md5,
       CAST(COUNT(*) AS BIGINT) AS n_copies,
       CAST(MIN(did) AS VARCHAR) AS canonical_doc
FROM allm GROUP BY payload_md5 HAVING COUNT(*) > 1""",
    "mm_media_features": f"""
WITH p AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, hex({_PAYLOAD_SQL}) AS hx
  FROM documents
  WHERE text IS NOT NULL AND n_chars IS NOT NULL)
SELECT doc_id,
       array_to_string(
         [len(list_filter([substr(hx, 2*i+1, 1) FOR i IN range(0, length(hx)//2)],
                          c -> c = d))
          FOR d IN ['0', '1', '2', '3', '4', '5', '6', '7', '8', '9', 'A', 'B', 'C', 'D', 'E', 'F']], '-') AS byte_hist,
       CAST(length(hx) // 2 AS INT) AS n_bytes
FROM p""",
    # independent derivation: dims from the n_chars spec, sizes from text
    "mm_media_meta": f"""
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       'image/png' AS media_type,
       CAST(24 + octet_length(encode(text)) AS INT) AS n_bytes,
       md5(upper(hex({_PAYLOAD_SQL}))) AS payload_md5,
       CAST(n_chars % 512 + 1 AS INT) AS width,
       CAST((n_chars * 7) % 512 + 1 AS INT) AS height
FROM documents
WHERE text IS NOT NULL AND n_chars IS NOT NULL""",
    "mm_media_sniff": f"""
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       'image/png' AS media_type,
       CAST(24 + octet_length(encode(text)) AS INT) AS n_bytes,
       md5(upper(hex({_PAYLOAD_SQL}))) AS payload_md5
FROM documents
WHERE text IS NOT NULL AND n_chars IS NOT NULL""",
}
