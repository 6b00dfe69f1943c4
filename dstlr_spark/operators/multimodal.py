"""Multimodal columns: opaque binary payloads + typed metadata.

Engine addition for training-data pipelines (no reference analog):
image/audio/video travel as ``binary`` columns with typed metadata
structs; decode / feature-extract / resize / frame-sample run as
Arrow-batched ``mapInPandas`` UDFs.

Pixel decode is REAL, pure NumPy + stdlib, for exactly the image
modes the ``mm_media_decode`` driver query value-gates over its
TWENTY-TWO-VARIANT planted-pixel corpus (:func:`synth_media_mixed`):
BMP (uncompressed, RLE8, bitfields, embedded PNG/JPEG), PNG (8/16-bit,
sequential and Adam7, paletted), GIF (sequential and interlaced),
lossless / lossless-arithmetic / hierarchical-lossless JPEG, TIFF
(none/LZW/JPEG strips), TGA, PCX, QOI, WebP-lossless and ICO — plus
PPM/PGM. Audio decodes integer/float PCM in WAV, RF64, W64, FLAC,
AIFF, AU and CAF; video decodes Y4M and AVI. 16-bit samples decode to
exact uint16 — the operator contract is ``array<int>``, never
narrowed. Every other mode — DCT JPEG, sub-byte PNG, animated GIF,
G.711/ADPCM audio, TIFF PackBits, VP8L LZ77 and transforms, inter-frame
video — raises a clearly-marked ``NotImplementedError("STUB: …")``,
which the batch operators isolate as a null row per document.

Fixture: :func:`synth_media` builds deterministic fake PNGs from the
documents table with a REAL IHDR header (magic + length + 'IHDR' +
width/height int32-BE), so the Arrow header parser can be oracle-checked
against an independent derivation of the same dimensions.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PNG_MAGIC = "89504E470D0A1A0A"
_MEDIA_META_DDL = (
    "doc_id string, media_type string, n_bytes int, payload_md5 string, "
    "width int, height int"
)


def synth_media(documents: DataFrame) -> DataFrame:
    """documents(doc_id, text, n_chars) → media(doc_id, payload binary).

    Payload = PNG magic ‖ IHDR chunk (len, tag, width, height BE) ‖ text
    bytes; width/height are deterministic functions of n_chars so an
    oracle can re-derive them without parsing bytes."""
    width = (F.col("n_chars") % 512 + 1).cast("int")
    height = ((F.col("n_chars") * 7) % 512 + 1).cast("int")

    def be32(c):
        return F.unhex(F.lpad(F.hex(c.cast("bigint")), 8, "0"))

    payload = F.concat(
        F.unhex(F.lit(PNG_MAGIC)),
        F.unhex(F.lit("0000000D")),  # IHDR length 13
        F.encode(F.lit("IHDR"), "UTF-8"),
        be32(width),
        be32(height),
        F.encode(F.col("text"), "UTF-8"),
    )
    # F1/F2-style guard: a null-text/null-n_chars doc has no payload —
    # dropping it here keeps every downstream Arrow batch None-free
    return documents.where(
        F.col("text").isNotNull() & F.col("n_chars").isNotNull()
    ).select(
        F.col("doc_id").cast("string").alias("doc_id"), payload.alias("payload")
    )


def sniff_media_type(payload) -> F.Column:
    """Magic-prefix sniffing — native expression, no UDF. RIFF-family
    streams disambiguate on the form type at bytes 9-12 (WAVE vs
    AVI vs WEBP); TGA is the one decodable format absent here — its
    only signature is a trailing footer, which a prefix sniff cannot
    see (the decode dispatch checks it last instead)."""
    head8 = F.hex(F.substring(payload, 1, 8))
    head4 = F.hex(F.substring(payload, 1, 4))
    form4 = F.hex(F.substring(payload, 9, 4))
    return (
        F.when(head8 == PNG_MAGIC, F.lit("image/png"))
        .when((head4 == "52494646") & (form4 == "41564920"),  # RIFF/AVI
              F.lit("video/x-msvideo"))
        .when((head4 == "52494646") & (form4 == "57454250"),  # RIFF/WEBP
              F.lit("image/webp"))
        .when(head4 == "52494646", F.lit("audio/wav"))  # 'RIFF'
        .when(head4.isin("52463634", "42573634"),  # RF64 / BW64
              F.lit("audio/wav"))
        .when(F.hex(F.substring(payload, 1, 3)) == "FFD8FF", F.lit("image/jpeg"))
        .when(F.hex(F.substring(payload, 1, 3)) == "474946", F.lit("image/gif"))
        # every format decode_rgb_bytes/decode_y4m supports is a named
        # type here — routing on the sniff must not drop decodable media
        # into the octet-stream bucket
        .when(F.hex(F.substring(payload, 1, 2)) == "424D", F.lit("image/bmp"))
        .when(F.hex(F.substring(payload, 1, 2)).isin("5035", "5036"),  # P5/P6
              F.lit("image/x-portable-pixmap"))
        .when(F.hex(F.substring(payload, 1, 9)) == "595556344D50454732",
              F.lit("video/x-yuv4mpeg"))  # 'YUV4MPEG2'
        .when(head4.isin("49492A00", "4D4D002A"), F.lit("image/tiff"))
        .when(head4 == "664C6143", F.lit("audio/flac"))  # 'fLaC'
        .when((head4 == "464F524D") & (form4.isin("41494646", "41494643")),
              F.lit("audio/aiff"))  # FORM/AIFF|AIFC
        .when(head4 == "2E736E64", F.lit("audio/basic"))  # '.snd'
        .when(head4 == "63616666", F.lit("audio/x-caf"))  # 'caff'
        .when(head4 == "72696666", F.lit("audio/wav"))  # Wave64 GUID
        .when(head4 == "716F6966", F.lit("image/qoi"))  # 'qoif'
        .when(head4.isin("00000100", "00000200"), F.lit("image/x-icon"))
        .when(
            (F.hex(F.substring(payload, 1, 1)) == "0A")
            & (F.hex(F.substring(payload, 3, 1)) == "01")
            & F.hex(F.substring(payload, 2, 1)).isin(
                "00", "02", "03", "04", "05"
            ),
            # manufacturer + RLE-encoding + version bytes, the same
            # fields the decode dispatch checks — a text blob starting
            # with '\n' must NOT sniff as PCX
            F.lit("image/x-pcx"),
        )
        .otherwise(F.lit("application/octet-stream"))
    )


def _parse_header_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow batch body: parse PNG IHDR dims from raw bytes (pure struct
    read — works with no imaging library). Unknown formats → null dims."""
    import hashlib

    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            if payload is None:  # per-doc isolation (X2): skip, don't die
                continue
            b = bytes(payload)
            width = height = None
            mtype = "application/octet-stream"
            if b[:8] == bytes.fromhex(PNG_MAGIC) and len(b) >= 24:
                mtype = "image/png"
                width, height = struct.unpack(">II", b[16:24])
            elif b[:4] == b"RIFF":
                mtype = "audio/wav"
            elif b[:3] == b"\xff\xd8\xff":
                mtype = "image/jpeg"
            rows.append(
                dict(
                    doc_id=doc_id,
                    media_type=mtype,
                    n_bytes=len(b),
                    payload_md5=hashlib.md5(b.hex().upper().encode()).hexdigest(),
                    width=width,
                    height=height,
                )
            )
        yield pd.DataFrame(rows) if rows else pd.DataFrame(
            {c: pd.Series(dtype="object") for c in
             ["doc_id", "media_type", "n_bytes", "payload_md5", "width", "height"]}
        )


def media_metadata(media: DataFrame) -> DataFrame:
    """media(doc_id, payload) → typed metadata via the Arrow header parser."""
    return media.mapInPandas(_parse_header_batches, _MEDIA_META_DDL)


def extract_features(media: DataFrame, n_bins: int = 16) -> DataFrame:
    """Feature extraction: byte-value histogram per payload → fixed-width
    ``array<int>`` feature vector. Unlike pixel decode this needs no
    codec, so the features are REAL (numpy bincount over the raw bytes);
    a model-based extractor drops into the same batch shape and schema.
    """
    import numpy as np

    width = 256 // n_bins

    def body(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:  # per-doc isolation (X2): skip, don't die
                    continue
                arr = np.frombuffer(bytes(payload), dtype=np.uint8)
                hist = np.bincount(arr // width, minlength=n_bins)[:n_bins]
                rows.append(dict(doc_id=doc_id, features=[int(x) for x in hist],
                                 n_bytes=len(arr)))
            yield pd.DataFrame(rows)

    return media.mapInPandas(
        body, "doc_id string, features array<int>, n_bytes int"
    )


def frame_sample(media: DataFrame, every_n_bytes: int = 64) -> DataFrame:
    """'Frame sampling' stand-in: deterministic byte-stride sampling of
    the payload (the video path swaps the stride for a codec GOP reader;
    batch shape and schema are what the engine guarantees)."""

    def body(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                for k, i in enumerate(range(0, len(b), every_n_bytes)):
                    out.append(dict(doc_id=doc_id, frame_idx=k, byte_offset=i,
                                    sample=int(b[i])))
            yield pd.DataFrame(out)

    return media.mapInPandas(
        body, "doc_id string, frame_idx int, byte_offset int, sample int"
    )


# --------------------------------------------------------------------------
# REAL pixel decode — pure NumPy, no imaging library (round 5)
# --------------------------------------------------------------------------
# Uncompressed formats are just byte layouts, so their decoders need no
# codec: 24-bit BMP (BITMAPINFOHEADER, bottom-up BGR rows padded to 4
# bytes) and binary PPM (P6) decode with frombuffer + stride reshapes.
# PNG joins them because its codec IS the stdlib: zlib inflate + the
# five scanline filters (decode_png) — including Adam7 interlace and
# paletted color — and GIF via pure-Python LZW (decode_gif). The
# NotImplementedError path below is the STUB contract for every mode
# the gate corpus does not ship.

#: planted-pixel formula for synthetic BMPs: channel c∈{0=R,1=G,2=B} at
#: (x, y) carries (3x + 7y + 11c + 13) % 251 — position- and
#: channel-dependent, so a decoder that forgets the bottom-up row flip,
#: the BGR→RGB swap, or the 4-byte row padding produces a DIFFERENT
#: value, and the DuckDB oracle can re-derive every pixel analytically
#: without touching bytes.
PLANT_MOD = 251


def _planted_rgb(w: int, h: int):
    """(h, w, 3) uint8 array of the planted formula (RGB, row-major)."""
    import numpy as np

    ys, xs, cs = np.mgrid[0:h, 0:w, 0:3]
    return ((3 * xs + 7 * ys + 11 * cs + 13) % PLANT_MOD).astype(np.uint8)


def encode_bmp(rgb) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as an uncompressed 24-bit
    bottom-up BMP (the layout every BMP reader accepts)."""
    import numpy as np

    h, w, _ = rgb.shape
    stride = (w * 3 + 3) & ~3
    rows = np.zeros((h, stride), dtype=np.uint8)
    # bottom-up file order + BGR channel order
    rows[:, : w * 3] = rgb[::-1, :, ::-1].reshape(h, w * 3)
    pix = rows.tobytes()
    header = (
        b"BM"
        + struct.pack("<IHHI", 14 + 40 + len(pix), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pix), 2835, 2835, 0, 0)
    )
    return header + pix


def encode_bmp_embedded(blob: bytes, w: int, h: int, comp: int) -> bytes:
    """Wrap ONE complete JPEG (``comp=4``, BI_JPEG) or PNG (``comp=5``,
    BI_PNG) stream in a BMP container per the BITMAPINFOHEADER spec:
    biBitCount 0, biCompression 4/5, biSizeImage = stream length, and
    header dims that must agree with the embedded image (the decoder
    cross-checks them)."""
    if comp not in (4, 5):
        raise ValueError("embedded BMP wraps BI_JPEG (4) or BI_PNG (5)")
    header = (
        b"BM"
        + struct.pack("<IHHI", 14 + 40 + len(blob), 0, 0, 54)
        + struct.pack(
            "<IiiHHIIiiII", 40, w, h, 1, 0, comp, len(blob), 2835, 2835, 0, 0
        )
    )
    return header + blob


def _bmp_rle_decode(stream: bytes, w: int, h: int, bpp: int):
    """BI_RLE8/BI_RLE4 decompression → (h, w) uint8 index array in
    FILE order (bottom-up; caller flips). Encoded runs, absolute mode
    (word-aligned), and the 00-escapes (end-of-line, end-of-bitmap,
    delta skip — skipped pixels keep index 0, the convention every
    reader uses for the spec's 'undefined') all honored; a run that
    writes past the row or a truncated stream raises ValueError.
    Loop cost is O(runs), not O(pixels) — runs write slices."""
    import numpy as np

    idx = np.zeros((h, w), np.uint8)
    x = y = pos = 0
    n = len(stream)
    while pos + 2 <= n:
        c, v = stream[pos], stream[pos + 1]
        pos += 2
        if c == 0 and v == 0:  # end of line
            x, y = 0, y + 1
            continue
        if c == 0 and v == 1:  # end of bitmap
            return idx
        if c == 0 and v == 2:  # delta skip
            if pos + 2 > n:
                raise ValueError("BMP RLE delta truncated")
            x += stream[pos]
            y += stream[pos + 1]
            pos += 2
            continue
        if y >= h:
            raise ValueError("BMP RLE writes past the last row")
        if c:  # encoded run: c pixels of v (RLE4: alternating nibbles)
            if x + c > w:
                raise ValueError("BMP RLE run overflows the row")
            if bpp == 8:
                idx[y, x : x + c] = v
            else:
                pair = np.array([v >> 4, v & 15], np.uint8)
                idx[y, x : x + c] = np.tile(pair, (c + 1) // 2)[:c]
            x += c
            continue
        # absolute mode: v literal pixels, data padded to a word boundary
        if x + v > w:
            raise ValueError("BMP RLE absolute run overflows the row")
        nbytes = v if bpp == 8 else (v + 1) // 2
        if pos + nbytes > n:
            raise ValueError("BMP RLE absolute run truncated")
        lit = np.frombuffer(stream, np.uint8, count=nbytes, offset=pos)
        if bpp == 8:
            idx[y, x : x + v] = lit
        else:
            nib = np.empty(nbytes * 2, np.uint8)
            nib[0::2] = lit >> 4
            nib[1::2] = lit & 15
            idx[y, x : x + v] = nib[:v]
        x += v
        pos += nbytes + (nbytes & 1)
    raise ValueError("BMP RLE stream missing end-of-bitmap")


def _expand_masked(v, mask: int):
    """Extract one BI_BITFIELDS channel from packed pixel values and
    expand it to 8 bits by bit replication (the same convention as the
    X1R5G5B5 path's ``(v<<3)|(v>>2)``); a zero mask yields zeros and a
    >8-bit channel keeps its top 8 bits."""
    import numpy as np

    if mask == 0:
        return np.zeros(v.shape, np.uint8)
    shift = (mask & -mask).bit_length() - 1
    width = (mask >> shift).bit_length()
    x = (v & np.uint32(mask)) >> shift
    if width >= 8:
        return (x >> (width - 8)).astype(np.uint8)
    y = x << (8 - width)
    out = y.copy()
    s = width
    while s < 8:
        out |= y >> s
        s += width
    return out.astype(np.uint8)


def encode_bmp_rle(idx, palette, bpp: int = 8) -> bytes:
    """Deterministic BI_RLE8/BI_RLE4 fixture encoder: an (h, w) uint8
    index image + (n, 3) RGB palette → compressed bottom-up BMP.
    Homogeneous runs ≥3 use encoded mode; heterogeneous stretches ≥3
    use absolute mode (word-padded); shorter leftovers fall back to
    encoded singles/pairs; every row ends with 00 00 and the stream
    with 00 01 — exercising all three RLE constructs on real data."""
    import numpy as np

    idx = np.asarray(idx, np.uint8)
    h, w = idx.shape
    if bpp not in (8, 4):
        raise ValueError("RLE BMP is 8 or 4 bpp")
    if bpp == 4 and int(idx.max(initial=0)) > 15:
        raise ValueError("RLE4 index beyond a nibble")
    out = bytearray()
    for row in idx[::-1]:  # bottom-up file order
        x = 0
        while x < w:
            r = 1
            while x + r < w and row[x + r] == row[x] and r < 255:
                r += 1
            if r >= 3:
                pix = int(row[x])
                out += bytes(
                    (r, pix if bpp == 8 else (pix << 4) | pix)
                )
                x += r
                continue
            # heterogeneous stretch: scan until the next ≥3-run
            e = x
            while e < w:
                nxt = 1
                while e + nxt < w and row[e + nxt] == row[e] and nxt < 3:
                    nxt += 1
                if nxt >= 3 or e - x + nxt > 255:
                    break
                e += nxt
            lit = row[x:e]
            if len(lit) >= 3:
                out += bytes((0, len(lit)))
                if bpp == 8:
                    out += lit.tobytes()
                    if len(lit) & 1:
                        out += b"\x00"
                else:
                    pad = np.append(lit, 0) if len(lit) & 1 else lit
                    out += ((pad[0::2] << 4) | pad[1::2]).astype(
                        np.uint8
                    ).tobytes()
                    if ((len(lit) + 1) // 2) & 1:
                        out += b"\x00"
            else:
                for p in lit:
                    out += bytes(
                        (1, int(p) if bpp == 8 else (int(p) << 4))
                    )
            x = e
        out += b"\x00\x00"
    out += b"\x00\x01"
    pal = np.zeros((16 if bpp == 4 else 256, 4), np.uint8)
    pal[: len(palette), 2::-1] = palette  # BGRX entries
    off = 14 + 40 + pal.size
    header = (
        b"BM"
        + struct.pack("<IHHI", off + len(out), 0, 0, off)
        + struct.pack(
            "<IiiHHIIiiII", 40, w, h, 1, bpp, 1 if bpp == 8 else 2,
            len(out), 2835, 2835, len(pal), 0,
        )
    )
    return header + pal.tobytes() + bytes(out)


def encode_bmp_bitfields(rgb, masks, bpp: int = 16) -> bytes:
    """Deterministic BI_BITFIELDS fixture encoder: packs an (h, w, 3)
    uint8 RGB array under arbitrary per-channel masks at 16 or 32 bpp
    (top bits of each 8-bit channel, bottom-up rows, word-padded).
    Masks sit right after the 40-byte BITMAPINFOHEADER."""
    import numpy as np

    h, w, _ = np.asarray(rgb).shape
    v = np.zeros((h, w), np.uint32)
    for chan, mask in enumerate(masks):
        if mask == 0:
            continue
        shift = (mask & -mask).bit_length() - 1
        width = (mask >> shift).bit_length()
        x = np.asarray(rgb)[:, :, chan].astype(np.uint32)
        x = x >> (8 - width) if width <= 8 else x << (width - 8)
        v |= (x << shift) & np.uint32(mask)
    v = v[::-1]  # bottom-up
    if bpp == 16:
        stride = (w * 2 + 3) & ~3
        rows = np.zeros((h, stride), np.uint8)
        rows[:, : w * 2 : 2] = v & 0xFF
        rows[:, 1 : w * 2 : 2] = (v >> 8) & 0xFF
    elif bpp == 32:
        stride = w * 4
        rows = np.zeros((h, stride), np.uint8)
        for i in range(4):
            rows[:, i::4] = (v >> (8 * i)) & 0xFF
    else:
        raise ValueError("BI_BITFIELDS is 16 or 32 bpp")
    pix = rows.tobytes()
    off = 14 + 40 + 12
    header = (
        b"BM"
        + struct.pack("<IHHI", off + len(pix), 0, 0, off)
        + struct.pack(
            "<IiiHHIIiiII", 40, w, h, 1, bpp, 3, len(pix),
            2835, 2835, 0, 0,
        )
        + struct.pack("<III", *masks)
    )
    return header + pix


def decode_rgb_bytes(b: bytes):
    """REAL pixel decode of one payload → (h, w, 3) uint8 RGB array.

    Supports the formats whose codec needs no imaging library:
    - uncompressed BI_RGB BMP at 1/4/8 (paletted), 16 (X1R5G5B5,
      5-bit channels expanded ``(v<<3)|(v>>2)``), 24, and 32 bpp
      (bottom-up or top-down, BGR order, rows padded to 4 bytes);
    - binary PPM ``P6`` / PGM ``P5`` (maxval ≤ 255 → uint8; ≤ 65535 →
      exact uint16; gray replicates to RGB);
    - PNG, 8/16-bit gray/RGB/RGBA + 8-bit palette, sequential or
      Adam7-interlaced (stdlib zlib inflate + NumPy unfilter —
      :func:`decode_png`); 16-bit → exact uint16;
    - GIF first frame, sequential or 4-pass interlaced (pure-Python
      variable-width LZW + palette mapping — :func:`decode_gif`).

    - LOSSLESS JPEG (SOF3, all seven predictors, 2-16 bit
      precision), LOSSLESS-ARITHMETIC JPEG (SOF11) and HIERARCHICAL
      lossless JPEG (DHP/EXP + SOF3/SOF7) via
      :mod:`dstlr_spark.operators.jpeg` — exact, so they join the
      planted-pixel gate; 16-bit → uint16.

    DCT JPEG (every lossy T.81 process) and the other modes listed in
    the module docstring raise the STUB contract.
    """
    import numpy as np

    if b[:2] == b"BM":
        if len(b) < 34:
            # contract: malformed input is ValueError (isolatable), never
            # struct.error — one bad payload must not kill an Arrow batch
            raise ValueError("truncated BMP header")
        off = struct.unpack("<I", b[10:14])[0]
        hdr_size = struct.unpack("<I", b[14:18])[0]
        core = hdr_size == 12
        if core:
            # BITMAPCOREHEADER (OS/2 1.x): uint16 dims (always
            # bottom-up), 3-byte BGR palette entries, no compression
            # field — always BI_RGB at 1/4/8/24 bpp
            w, h = struct.unpack("<HH", b[18:22])
            bpp = struct.unpack("<H", b[24:26])[0]
            comp = 0
            if bpp not in (1, 4, 8, 24):
                raise ValueError(f"BMP core-header bpp {bpp} invalid")
            w, h = int(w), int(h)
        else:
            if hdr_size < 40:
                raise ValueError(f"BMP header size {hdr_size} unknown")
            w, h = struct.unpack("<ii", b[18:26])
            bpp = struct.unpack("<H", b[28:30])[0]
            comp = struct.unpack("<I", b[30:34])[0]
        if comp in (4, 5):
            # BI_JPEG / BI_PNG: the pixel-data area carries ONE complete
            # embedded JPEG/PNG stream (biSizeImage = its byte length;
            # biBitCount is 0 by spec and the stream is authoritative, so
            # it is ignored here). Top-down (negative-height) DIBs are
            # only legal under BI_RGB/BI_BITFIELDS — the embedded stream
            # defines its own scan order.
            if h < 0:
                raise ValueError("top-down BMP is malformed under BI_JPEG/BI_PNG")
            if len(b) < 38:
                raise ValueError("truncated BMP header (no biSizeImage)")
            size_img = struct.unpack("<I", b[34:38])[0]
            end = off + size_img if size_img else len(b)
            blob = bytes(b[off:end])
            ok = (
                blob[:2] == b"\xff\xd8"
                if comp == 4
                else blob[:8] == bytes.fromhex(PNG_MAGIC)
            )
            if not ok:
                raise ValueError(
                    "BMP embedded stream magic does not match the "
                    f"BI_{'JPEG' if comp == 4 else 'PNG'} tag"
                )
            inner = decode_rgb_bytes(blob)  # depth-1: magic check above
            if inner.shape[0] != h or inner.shape[1] != w:
                raise ValueError(
                    f"BMP header says {w}x{h} but the embedded stream "
                    f"decodes {inner.shape[1]}x{inner.shape[0]}"
                )
            return inner
        if comp not in (0, 1, 2, 3) or bpp not in (1, 4, 8, 16, 24, 32):
            raise NotImplementedError(
                f"STUB: BMP bpp={bpp} compression={comp} is outside the "
                "format (BI_RGB, BI_RLE8/4, BI_BITFIELDS, and embedded "
                "BI_JPEG/BI_PNG all decode natively)"
            )
        if (comp == 1 and bpp != 8) or (comp == 2 and bpp != 4):
            raise ValueError(f"BMP RLE compression {comp} needs bpp 8/4")
        if comp == 3 and bpp not in (16, 32):
            raise ValueError("BI_BITFIELDS needs 16/32 bpp")
        if w <= 0 or h == 0:
            # zero/negative-width and zero-height headers are malformed:
            # a (h, 0, 3) "successful" decode would push the empty-array
            # crash into every downstream feature reducer
            raise ValueError(f"BMP dimensions {w}x{h} invalid")
        flip = h > 0
        if comp in (1, 2):
            # RLE streams are bottom-up by definition (no top-down form)
            if not flip:
                raise ValueError("top-down RLE BMP is malformed")
            h = abs(h)
            idx = _bmp_rle_decode(b[off:], w, h, bpp)[::-1]
            data = None
        else:
            h = abs(h)
            stride = ((w * bpp + 31) // 32) * 4  # rows pad to 4 bytes
            data = np.frombuffer(b, np.uint8, count=stride * h, offset=off)
            data = data.reshape(h, stride)
            if flip:
                data = data[::-1]
        if comp == 3:
            # channel masks: inside the header from V2-info (≥52 bytes)
            # on; a plain 40-byte BITMAPINFOHEADER carries them as
            # three DWORDs immediately after
            mask_at = 14 + 40 if hdr_size >= 52 else 14 + hdr_size
            if len(b) < mask_at + 12:
                raise ValueError("BI_BITFIELDS masks truncated")
            masks = struct.unpack("<III", b[mask_at : mask_at + 12])
            if bpp == 16:
                lo = data[:, : w * 2 : 2].astype(np.uint32)
                hi = data[:, 1 : w * 2 : 2].astype(np.uint32)
                v = lo | (hi << 8)
            else:
                v = (
                    data[:, : w * 4]
                    .reshape(h, w, 4)
                    .astype(np.uint32)
                )
                v = v[..., 0] | (v[..., 1] << 8) | (v[..., 2] << 16) | (
                    v[..., 3] << 24
                )
            return np.stack(
                [_expand_masked(v, m) for m in masks], axis=2
            )
        if bpp == 24:
            return data[:, : w * 3].reshape(h, w, 3)[..., ::-1].copy()
        if bpp == 32:  # stored BGRX; the X byte is padding under BI_RGB
            return data[:, : w * 4].reshape(h, w, 4)[..., 2::-1].copy()
        if bpp == 16:  # X1R5G5B5; 5-bit channels expand (v<<3)|(v>>2)
            lo = data[:, : w * 2 : 2].astype(np.uint16)
            hi = data[:, 1 : w * 2 : 2].astype(np.uint16)
            v = lo | (hi << 8)
            chans = [(v >> 10) & 31, (v >> 5) & 31, v & 31]
            return np.stack(
                [((c << 3) | (c >> 2)).astype(np.uint8) for c in chans],
                axis=2,
            )
        # paletted (1/4/8 bpp): BGRX palette follows the info header
        # (3-byte BGR entries under a core header). biClrUsed=0 means
        # "full 2^bpp table", but the table can only occupy the bytes
        # between the header and the pixel-data offset — bound by what
        # the file actually carries
        entry = 3 if core else 4
        n_used = 0 if core else struct.unpack("<I", b[46:50])[0]
        avail = (off - 14 - hdr_size) // entry
        n_pal = min(n_used or (1 << bpp), avail)
        if n_pal <= 0:
            raise ValueError("BMP palette missing")
        pal = np.frombuffer(
            b, np.uint8, count=n_pal * entry, offset=14 + hdr_size
        ).reshape(n_pal, entry)[:, 2::-1]
        if comp in (1, 2):
            pass  # idx already decoded from the RLE stream
        elif bpp == 8:
            idx = data[:, :w]
        elif bpp == 4:
            nib = np.repeat(data, 2, axis=1)
            nib[:, 0::2] >>= 4
            nib[:, 1::2] &= 15
            idx = nib[:, :w]
        else:
            idx = np.unpackbits(data, axis=1)[:, :w]
        if int(idx.max(initial=0)) >= n_pal:
            raise ValueError("BMP palette index beyond table")
        return pal[idx].copy()
    if b[:2] in (b"P5", b"P6"):
        nch = 3 if b[:2] == b"P6" else 1  # P5 = binary PGM, gray
        # header: magic <ws> width <ws> height <ws> maxval <single ws>
        pos, fields = 2, []
        while len(fields) < 3:
            while pos < len(b) and b[pos : pos + 1].isspace():
                pos += 1
            if b[pos : pos + 1] == b"#":  # comment to end of line
                while pos < len(b) and b[pos : pos + 1] != b"\n":
                    pos += 1
                continue
            start = pos
            while pos < len(b) and not b[pos : pos + 1].isspace():
                pos += 1
            fields.append(int(b[start:pos]))
        pos += 1  # the single whitespace after maxval
        w, h, maxval = fields
        if w <= 0 or h <= 0:
            raise ValueError(f"PPM dimensions {w}x{h} invalid")
        if maxval > 65535:
            raise ValueError(f"PPM maxval {maxval} exceeds the P6 spec")
        if maxval > 255:  # 2-byte big-endian samples, exact values
            out = (
                np.frombuffer(b, ">u2", count=w * h * nch, offset=pos)
                .reshape(h, w, nch)
                .astype(np.uint16)
            )
        else:
            out = (
                np.frombuffer(b, np.uint8, count=w * h * nch, offset=pos)
                .reshape(h, w, nch)
                .copy()
            )
        return out if nch == 3 else np.repeat(out, 3, axis=2)
    if b[:8] == bytes.fromhex(PNG_MAGIC):
        return decode_png(b)
    if b[:6] in (b"GIF87a", b"GIF89a"):
        return decode_gif(b)
    if b[:2] == b"\xff\xd8":  # JPEG (lossless processes)
        from dstlr_spark.operators.jpeg import decode_jpeg

        return decode_jpeg(b)
    if b[:4] in (b"II*\x00", b"MM\x00*"):  # TIFF — strips/LZW/JPEG
        from dstlr_spark.operators.tiff import decode_tiff

        return decode_tiff(b)
    if b[:4] == b"qoif":  # QOI — all six ops
        from dstlr_spark.operators.qoi import decode_qoi

        return decode_qoi(b)
    if b[:4] == b"RIFF" and b[8:12] == b"WEBP":  # WebP-lossless (VP8L)
        from dstlr_spark.operators.webp import decode_webp

        return decode_webp(b)
    if (
        len(b) >= 6
        and b[:4] in (b"\x00\x00\x01\x00", b"\x00\x00\x02\x00")
        and b[4:6] != b"\x00\x00"
    ):
        # ICO/CUR: reserved 0, type 1/2, nonzero entry count
        from dstlr_spark.operators.ico import decode_ico

        return decode_ico(b)
    if len(b) >= 44 and b[-18:] == b"TRUEVISION-XFILE.\x00":
        # TGA has no front magic; its 18-byte 2.0 footer is a far
        # stronger signature than PCX's 3-byte heuristic below, so it
        # is checked FIRST — a colormapped TGA whose image-ID length
        # happens to be 0x0A would otherwise misroute to decode_pcx
        from dstlr_spark.operators.tga import decode_tga

        return decode_tga(b)
    if (
        len(b) >= 128
        and b[0] == 0x0A
        and b[2] == 1
        and b[1] in (0, 2, 3, 4, 5)
    ):
        # PCX: manufacturer 0x0A + RLE encoding byte + a RELEASED
        # version (1 never shipped — same set the sniffer matches)
        from dstlr_spark.operators.pcx import decode_pcx

        return decode_pcx(b)
    raise NotImplementedError(
        "STUB: unrecognized image container — BMP/PPM/PNG/GIF/JPEG/"
        "TIFF/QOI/PCX/TGA/WebP-lossless decode natively via "
        "decode_rgb_bytes; other codecs need an imaging library this "
        "container doesn't ship"
    )


def _paeth(a: int, b: int, c: int) -> int:
    """PNG Paeth predictor (RFC 2083 §6.6): pick the neighbor (left,
    up, upper-left) closest to the linear estimate a + b - c, ties
    breaking left → up → upper-left."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _png_chunk(tag: bytes, data: bytes) -> bytes:
    import zlib

    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


# Adam7 pass grid: (x0, y0, dx, dy) per pass (PNG spec §8.2)
_ADAM7 = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


def _filter_scanlines(img, bpp, row_filters=None) -> bytes:
    """Filter a (rows, cols·bpp) uint8 plane into PNG scanlines (one
    filter byte + filtered bytes per row). ``row_filters`` pins the
    per-row filter (default rotates 0..4 so one fixture exercises
    every unfilter path); any choice yields a spec-valid stream."""
    import numpy as np

    rows, stride = img.shape
    if row_filters is None:
        row_filters = [y % 5 for y in range(rows)]
    lines = []
    prev = np.zeros(stride, np.uint8)
    for y in range(rows):
        cur = img[y]
        ft = int(row_filters[y % len(row_filters)] if rows else 0)
        left = np.concatenate([np.zeros(bpp, np.uint8), cur[:-bpp]])
        if ft == 0:
            filt = cur
        elif ft == 1:  # Sub
            filt = cur - left
        elif ft == 2:  # Up
            filt = cur - prev
        elif ft == 3:  # Average
            filt = cur - (
                (left.astype(np.uint16) + prev.astype(np.uint16)) // 2
            ).astype(np.uint8)
        elif ft == 4:  # Paeth
            ul = np.concatenate([np.zeros(bpp, np.uint8), prev[:-bpp]])
            pred = np.array(
                [_paeth(int(a), int(b), int(c)) for a, b, c in zip(left, prev, ul)],
                np.uint8,
            )
            filt = cur - pred
        else:
            raise ValueError(f"bad PNG filter {ft}")
        lines.append(bytes([ft]) + filt.tobytes())
        prev = cur
    return b"".join(lines)


def _png_pixel_stream(px, bpp, interlace, row_filters) -> bytes:
    """(h, w, bpp) uint8 → the pre-zlib scanline stream, sequential or
    Adam7 (each pass filtered independently, exactly as decoded)."""
    h, w = px.shape[:2]
    flat = px.reshape(h, w * bpp)
    if not interlace:
        return _filter_scanlines(flat, bpp, row_filters)
    out = []
    for x0, y0, dx, dy in _ADAM7:
        sub = px[y0::dy, x0::dx]
        if sub.size:
            out.append(
                _filter_scanlines(
                    sub.reshape(sub.shape[0], sub.shape[1] * bpp),
                    bpp,
                    row_filters,
                )
            )
    return b"".join(out)


def encode_png(rgb, row_filters=None, interlace=False) -> bytes:
    """Encode an (h, w, 3) RGB array as a REAL truecolor PNG (color
    type 2) using only stdlib ``zlib``: uint8 input → bit depth 8,
    uint16 input → bit depth 16 (big-endian samples, filters over the
    byte stream with bpp 6, per spec). ``interlace=True`` emits a
    spec-valid Adam7 stream (each pass filtered independently).
    ``row_filters`` pins the per-scanline filter byte (default: rotate
    0..4 by row so one fixture exercises every unfilter path —
    None/Sub/Up/Average/Paeth)."""
    import zlib

    import numpy as np

    arr = np.asarray(rgb)
    if arr.dtype == np.uint16:
        depth = 16
        # big-endian byte plane: (h, w, 3) u16 → (h, w, 6) u8
        raw = arr.astype(">u2").view(np.uint8)
    else:
        depth = 8
        raw = arr.astype(np.uint8)
    h, w = arr.shape[:2]
    bpp = raw.shape[2]
    ihdr = struct.pack(">IIBBBBB", w, h, depth, 2, 0, 0, 1 if interlace else 0)
    return (
        bytes.fromhex(PNG_MAGIC)
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(
            b"IDAT",
            zlib.compress(_png_pixel_stream(raw, bpp, interlace, row_filters)),
        )
        + _png_chunk(b"IEND", b"")
    )


def encode_png_pal(indices, palette, row_filters=None, interlace=False) -> bytes:
    """Encode an (h, w) uint8 index array + (n≤256, 3) palette as a
    REAL 8-bit paletted PNG (color type 3, PLTE chunk), optionally
    Adam7-interlaced — stdlib ``zlib`` only."""
    import zlib

    import numpy as np

    idx = np.asarray(indices, np.uint8)
    h, w = idx.shape
    pal = np.asarray(palette, np.uint8)
    if idx.max(initial=0) >= len(pal):
        raise ValueError("palette index out of range")
    stream = _png_pixel_stream(idx[..., None], 1, interlace, row_filters)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 1 if interlace else 0)
    return (
        bytes.fromhex(PNG_MAGIC)
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"PLTE", pal.tobytes())
        + _png_chunk(b"IDAT", zlib.compress(stream))
        + _png_chunk(b"IEND", b"")
    )


def _unfilter(raw: bytes, pos: int, rows: int, stride: int, bpp: int):
    """Unfilter ``rows`` PNG scanlines of ``stride`` bytes (lookback
    ``bpp``) starting at ``raw[pos]`` → ((rows, stride) uint8, new pos).

    Filters Up/Sub vectorize (uint8 wraparound add / per-lane mod-256
    cumsum); Average/Paeth are per-byte sequential by definition — the
    loop runs over plain Python lists (NumPy SCALAR indexing costs
    ~100 ns/element, ~3× the whole loop body; measured 2.94× faster
    whole-decode this way at 96 px) — fine for the bounded payloads
    the operators cap batches at, and a codec library drops into the
    same operator contract for bulk media."""
    import numpy as np

    if len(raw) < pos + rows * (stride + 1):
        raise ValueError("PNG pixel data length mismatch")
    out = np.zeros((rows, stride), np.uint8)
    for y in range(rows):
        ft = raw[pos]
        line = np.frombuffer(raw, np.uint8, stride, pos + 1)
        pos += 1 + stride
        prev = out[y - 1] if y else np.zeros(stride, np.uint8)
        rec = out[y]
        if ft == 0:
            rec[:] = line
        elif ft == 1:  # Sub: recon[x] = filt[x] + recon[x-bpp] → lane cumsum
            for lane in range(bpp):
                rec[lane::bpp] = np.cumsum(line[lane::bpp], dtype=np.uint8)
        elif ft == 2:  # Up (uint8 add wraps mod 256)
            rec[:] = line + prev
        elif ft == 3:  # Average
            ln, pv, row = line.tolist(), prev.tolist(), [0] * stride
            for x in range(stride):
                left = row[x - bpp] if x >= bpp else 0
                row[x] = (ln[x] + ((left + pv[x]) >> 1)) & 0xFF
            rec[:] = row
        elif ft == 4:  # Paeth (predictor inlined: a call per byte costs
            # more than the whole arithmetic at list speed)
            ln, pv, row = line.tolist(), prev.tolist(), [0] * stride
            for x in range(stride):
                a = row[x - bpp] if x >= bpp else 0
                up = pv[x]
                c = pv[x - bpp] if x >= bpp else 0
                p = a + up - c
                pa = p - a if p >= a else a - p
                pb = p - up if p >= up else up - p
                pc = p - c if p >= c else c - p
                pr = a if pa <= pb and pa <= pc else (up if pb <= pc else c)
                row[x] = (ln[x] + pr) & 0xFF
            rec[:] = row
        else:
            raise ValueError(f"bad PNG filter byte {ft}")
    return out, pos


def decode_png(b: bytes):
    """REAL PNG decode → (h, w, 3) uint8 RGB, pure stdlib ``zlib`` +
    NumPy (no imaging library): chunk walk with CRC verification,
    inflate of the concatenated IDAT stream, per-scanline unfilter
    (all five filters — see :func:`_unfilter` for the perf shape),
    Adam7 deinterlace when flagged (each of the 7 passes unfilters
    independently, then scatters into the (x0::dx, y0::dy) grid), then
    palette map / grayscale expand / alpha drop to RGB.

    Supported: every spec-valid (color, depth) combination of Table
    11.1 at 8 or 16 bits — gray (0), RGB (2), palette (3, 8-bit) via
    PLTE, gray+alpha (4), RGBA (6); interlace 0 and 1 (Adam7). Depth
    16 returns EXACT uint16 samples (filter lookback widens to
    channels·2 bytes per spec; big-endian). Sub-byte (1/2/4-bit)
    depths raise the STUB contract. A corrupt stream (bad CRC /
    truncated IDAT / missing PLTE / spec-invalid depth-color combo)
    raises ValueError so the per-doc isolation wrapper can skip it."""
    import zlib

    import numpy as np

    if b[:8] != bytes.fromhex(PNG_MAGIC):
        raise ValueError("not a PNG stream")
    pos, ihdr, idat, plte = 8, None, [], None
    while pos + 12 <= len(b):
        ln, tag = struct.unpack(">I4s", b[pos : pos + 8])
        data = b[pos + 8 : pos + 8 + ln]
        if len(data) != ln or pos + 12 + ln > len(b):
            raise ValueError("truncated PNG chunk")
        crc = struct.unpack(">I", b[pos + 8 + ln : pos + 12 + ln])[0]
        if zlib.crc32(tag + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {tag!r} CRC mismatch")
        if tag == b"IHDR":
            if ln != 13:
                raise ValueError(f"PNG IHDR length {ln} != 13")
            ihdr = struct.unpack(">IIBBBBB", data)
        elif tag == b"PLTE":
            if ln % 3 or not ln:
                raise ValueError("PLTE length not a positive multiple of 3")
            plte = np.frombuffer(data, np.uint8).reshape(-1, 3)
        elif tag == b"IDAT":
            idat.append(data)
        elif tag == b"IEND":
            break
        pos += 12 + ln
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    w, h, depth, color, comp, filt_method, interlace = ihdr
    if not w or not h:
        raise ValueError(f"PNG dimensions {w}x{h} invalid (zero per spec)")
    if filt_method != 0:
        # spec defines only filter method 0; decoding a nonzero method's
        # rows under method-0 semantics would return garbage as success
        raise ValueError(f"PNG filter method {filt_method} invalid")
    # spec-valid (color, depth) pairs (PNG spec §11.2.2, Table 11.1) —
    # anything outside the table is a MALFORMED header (ValueError, so
    # the per-doc isolation wrapper skips it), not an unsupported codec
    _VALID_DEPTHS = {0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8),
                     4: (8, 16), 6: (8, 16)}
    if color not in _VALID_DEPTHS or depth not in _VALID_DEPTHS[color]:
        raise ValueError(f"PNG depth={depth} color={color} invalid per spec")
    if interlace > 1 or comp != 0:
        raise ValueError(
            f"PNG interlace={interlace} compression={comp} invalid per spec"
        )
    if depth < 8:
        raise NotImplementedError("STUB: sub-byte (1/2/4-bit) PNG")
    ch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color]
    bpp = ch * (depth // 8)  # filter lookback in BYTES per pixel

    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error as e:
        raise ValueError(f"PNG IDAT inflate failed: {e}") from e
    if interlace == 0:
        out, end = _unfilter(raw, 0, h, w * bpp, bpp)
        if end != len(raw):
            raise ValueError("PNG pixel data length mismatch")
        px = out.reshape(h, w, bpp)
    else:  # Adam7: 7 independently-filtered sub-images
        px = np.zeros((h, w, bpp), np.uint8)
        rpos = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            sub, rpos = _unfilter(raw, rpos, ph, pw * bpp, bpp)
            px[y0::dy, x0::dx] = sub.reshape(ph, pw, bpp)
        if rpos != len(raw):
            raise ValueError("PNG pixel data length mismatch")
    if depth == 16:  # exact sample values, never narrowed
        px = np.frombuffer(px.tobytes(), ">u2").reshape(h, w, ch)
        px = px.astype(np.uint16)
    if color == 3:
        if plte is None:
            raise ValueError("paletted PNG missing PLTE")
        idx = px[..., 0]
        if idx.max(initial=0) >= len(plte):
            raise ValueError("PNG palette index beyond PLTE")
        return plte[idx].copy()
    if color == 4:  # gray + alpha: straight alpha drop, then expand
        return np.repeat(px[..., :1], 3, axis=2).copy()
    if ch == 1:
        return np.repeat(px, 3, axis=2).copy()
    if ch == 4:
        return px[..., :3].copy()  # straight alpha drop
    return px.copy()


# --------------------------------------------------------------------------
# REAL GIF decode — LZW is implementable from the spec (round 5, late)
# --------------------------------------------------------------------------


def _lzw_encode(indices, min_code_size: int = 8) -> bytes:
    """GIF-variant LZW: clear/EOI codes, code width grows 9→12 bits
    (encoder bumps when the next free code no longer fits), table
    reset via an explicit clear at 4096 — emits the packed
    little-endian bitstream of the image sub-blocks."""
    clear, eoi = 1 << min_code_size, (1 << min_code_size) + 1
    out_bits: list[tuple[int, int]] = []  # (code, width)

    def fresh():
        return {bytes([i]): i for i in range(1 << min_code_size)}

    table = fresh()
    next_code = eoi + 1
    width = min_code_size + 1
    out_bits.append((clear, width))
    buf = b""
    first_in_segment = True  # decoder appends no entry for a segment's
    # first code — tracked so the final-flush width mirror below knows
    # whether the decoder will append after the last data code
    for sym in bytes(bytearray(int(i) for i in indices)):
        cand = buf + bytes([sym])
        if cand in table:
            buf = cand
            continue
        out_bits.append((table[buf], width))
        if next_code <= 4095:
            table[cand] = next_code
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
        else:
            out_bits.append((clear, width))
            table, next_code, width = fresh(), eoi + 1, min_code_size + 1
            first_in_segment = True
            buf = bytes([sym])
            continue
        first_in_segment = False
        buf = bytes([sym])
    if buf:
        out_bits.append((table[buf], width))
        # the decoder appends one entry after this FINAL data code (its
        # table always lags one behind) and widens if that lands on
        # (1<<width)-1 — the encoder adds no entry on the flush, so it
        # must mirror the bump or EOI is emitted one bit narrower than
        # the decoder reads it (found by interlaced-corpus fuzz: the
        # permuted rows land the boundary exactly on the last code)
        if (
            not first_in_segment
            and next_code <= 4095
            and next_code == (1 << width) - 1
            and width < 12
        ):
            width += 1
    out_bits.append((eoi, width))

    acc = n = 0
    data = bytearray()
    for code, w in out_bits:
        acc |= code << n
        n += w
        while n >= 8:
            data.append(acc & 0xFF)
            acc >>= 8
            n -= 8
    if n:
        data.append(acc & 0xFF)
    return bytes(data)


def _lzw_decode(data: bytes, min_code_size: int, n_expected: int):
    """Inverse of :func:`_lzw_encode` → uint8 index array. The decoder
    grows its code width one table entry EARLIER than the encoder
    (when entry 2^width − 1 is created) because its table fills one
    step behind the encoder's — the GIF spec's known asymmetry."""
    import numpy as np

    clear, eoi = 1 << min_code_size, (1 << min_code_size) + 1
    base = [bytes([i]) for i in range(1 << min_code_size)] + [b"", b""]
    out = bytearray()
    table = list(base)
    width = min_code_size + 1
    prev: bytes | None = None
    acc = n = pos = 0
    while True:
        while n < width:
            if pos >= len(data):
                raise ValueError("LZW stream ended without EOI")
            acc |= data[pos] << n
            pos += 1
            n += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        n -= width
        if code == clear:
            table = list(base)
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            if code >= len(table) or not table[code]:
                raise ValueError("LZW: first code not in table")
            entry = table[code]
        else:
            if code < len(table):
                entry = table[code]
            elif code == len(table):
                entry = prev + prev[:1]
            else:
                raise ValueError("LZW: code beyond table")
            if len(table) < 4096:
                table.append(prev + entry[:1])
                if len(table) == (1 << width) - 1 and width < 12:
                    width += 1
        out += entry
        prev = entry
    if len(out) != n_expected:
        raise ValueError(
            f"LZW output length {len(out)} != expected {n_expected}"
        )
    return np.frombuffer(bytes(out), np.uint8)


def _gif_interlace_rows(h: int) -> list:
    """GIF89a interlace row emission order: pass 1 = rows 0,8,16…,
    pass 2 = 4,12…, pass 3 = 2,6,10…, pass 4 = 1,3,5…"""
    order = []
    for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)):
        order.extend(range(start, h, step))
    return order


def encode_gif(indices, palette, interlace=False) -> bytes:
    """Encode an (h, w) uint8 index array + (256, 3) palette as a
    GIF89a with a global color table and real LZW compression —
    stdlib only. ``interlace=True`` emits rows in the 4-pass GIF
    interlace order with the descriptor flag set."""
    import numpy as np

    idx = np.asarray(indices, np.uint8)
    h, w = idx.shape
    pal = np.asarray(palette, np.uint8)
    head = b"GIF89a" + struct.pack("<HHBBB", w, h, 0xF7, 0, 0)  # GCT, 256 entries
    gct = pal.tobytes()
    desc = b"," + struct.pack("<HHHHB", 0, 0, w, h, 0x40 if interlace else 0)
    if interlace:
        idx = idx[_gif_interlace_rows(h)]
    lzw = _lzw_encode(idx.reshape(-1))
    blocks = bytearray([8])  # LZW minimum code size
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        blocks.append(len(chunk))
        blocks += chunk
    blocks.append(0)  # block terminator
    return head + gct + desc + bytes(blocks) + b";"


def decode_gif(b: bytes):
    """REAL GIF decode → (h, w, 3) uint8 RGB, pure Python LZW +
    NumPy palette mapping: logical screen descriptor, global/local
    color tables, extension-block skipping, sub-block reassembly,
    variable-width LZW with clear/EOI and table growth to 12 bits,
    and 4-pass interlace row reordering when the descriptor flags it.
    First image frame only, RAW at the frame's own dims. A malformed
    stream raises ValueError."""
    import numpy as np

    if b[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF stream")
    if len(b) < 13:
        raise ValueError("truncated GIF header")
    flags = b[10]
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 7)
        gct = np.frombuffer(b, np.uint8, n * 3, pos).reshape(n, 3)
        pos += n * 3
    while pos < len(b):
        block = b[pos]
        if block == 0x21:  # extension: label + sub-blocks
            if pos + 2 > len(b):
                raise ValueError("truncated GIF extension")
            if b[pos + 1] == 0xF9 and (pos + 7 > len(b) or b[pos + 2] != 4):
                raise ValueError("GIF graphic control block malformed")
            pos += 2
            while pos < len(b) and b[pos]:
                pos += 1 + b[pos]
            pos += 1
        elif block == 0x2C:  # image descriptor
            if pos + 10 > len(b):
                raise ValueError("truncated GIF image descriptor")
            _left, _top, w, h, iflags = struct.unpack(
                "<HHHHB", b[pos + 1 : pos + 10]
            )
            if not w or not h:
                raise ValueError(f"GIF dimensions {w}x{h} invalid")
            pos += 10
            pal = gct
            if iflags & 0x80:  # local color table
                n = 2 << (iflags & 7)
                pal = np.frombuffer(b, np.uint8, n * 3, pos).reshape(n, 3)
                pos += n * 3
            if pal is None:
                raise ValueError("GIF frame has no color table")
            if pos >= len(b):
                # contract: malformed input is ValueError (isolatable),
                # never IndexError — see decode_rgb_bytes' BMP guard
                raise ValueError("GIF truncated before LZW code size")
            min_code = b[pos]
            pos += 1
            lzw = bytearray()
            while pos < len(b) and b[pos]:
                ln = b[pos]
                lzw += b[pos + 1 : pos + 1 + ln]
                pos += 1 + ln
            idx = _lzw_decode(bytes(lzw), min_code, w * h)
            if idx.max(initial=0) >= len(pal):
                raise ValueError("GIF index beyond palette")
            idx = idx.reshape(h, w)
            if iflags & 0x40:  # de-interlace: invert the emission order
                inv = np.empty(h, np.int64)
                inv[_gif_interlace_rows(h)] = np.arange(h)
                idx = idx[inv]
            return pal[idx].copy()
        elif block == 0x3B:  # trailer
            break
        else:
            raise ValueError(f"unknown GIF block 0x{block:02x}")
    raise ValueError("GIF contains no image frame")


# --------------------------------------------------------------------------
# REAL audio decode — PCM WAV is a byte layout, not a codec (round 5)
# --------------------------------------------------------------------------


def encode_wav(samples, sample_rate: int, n_channels: int = 1) -> bytes:
    """Encode an int16 sample array (interleaved if stereo) as a PCM
    WAV (RIFF/WAVE, fmt + data chunks) — stdlib struct only."""
    import numpy as np

    pcm = np.asarray(samples, np.int16).tobytes()
    block = 2 * n_channels
    fmt = struct.pack(
        "<HHIIHH", 1, n_channels, sample_rate, sample_rate * block, block, 16
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(pcm)) + pcm
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav(b: bytes):
    """REAL WAV decode → (samples ndarray interleaved, sample_rate,
    n_channels) — RIFF chunk walk with word-aligned skipping, stdlib
    struct + NumPy frombuffer.

    Supported: integer PCM (format tag 1) at 8 bits (offset-binary,
    expanded to full-scale int16 via ``(x-128)<<8``), 16 bits (int16),
    24 bits (sign-extended to int32), and 32 bits (int32); IEEE float
    (tag 3) at 32/64 bits; and WAVE_FORMAT_EXTENSIBLE (tag 0xFFFE —
    the real tag read from the SubFormat GUID). Every other format —
    G.711 A-law/µ-law, MS/IMA ADPCM, transform codecs (MP3-in-RIFF,
    WMA, …) — raises NotImplementedError; a malformed container
    raises ValueError."""
    import numpy as np

    rf64 = b[:4] in (b"RF64", b"BW64")
    if (b[:4] != b"RIFF" and not rf64) or b[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE stream")
    pos, fmt, fmt_chunk, data = 12, None, None, None
    ds64_data_size = None
    while pos + 8 <= len(b):
        tag, ln = struct.unpack("<4sI", b[pos : pos + 8])
        if tag == b"data" and ln == 0xFFFFFFFF and ds64_data_size is not None:
            # RF64/BW64 (EBU Tech 3306): the 32-bit data size is the
            # sentinel and the real 64-bit size lives in ds64 — the
            # >4 GB-WAV form a 100 TB audio corpus actually ships
            ln = ds64_data_size
        chunk = b[pos + 8 : pos + 8 + ln]
        if len(chunk) != ln:
            raise ValueError(f"truncated WAV chunk {tag!r}")
        if tag == b"ds64":
            if not rf64 or ln < 24:
                raise ValueError("ds64 chunk outside RF64 / too short")
            _riff64, ds64_data_size = struct.unpack("<QQ", chunk[:16])
        elif tag == b"fmt ":
            if ln < 16:
                raise ValueError("WAV fmt chunk shorter than 16 bytes")
            fmt = struct.unpack("<HHIIHH", chunk[:16])
            fmt_chunk = chunk
        elif tag == b"data":
            data = chunk
        pos += 8 + ln + (ln & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_format, n_channels, rate, _, block_align, bits = fmt
    if rate <= 0 or n_channels <= 0:
        # a rate/channel count of 0 is a malformed fmt chunk: returning
        # it as a "successful" decode turns into ZeroDivisionError in
        # every duration/per-channel reducer downstream, escaping the
        # (NotImplementedError, ValueError) per-doc isolation
        raise ValueError(f"WAV rate={rate} channels={n_channels} invalid")
    if audio_format == 0xFFFE:
        # WAVE_FORMAT_EXTENSIBLE: the real tag is the first word of
        # the SubFormat GUID (fmt = 16 base + cbSize + 2 valid-bits +
        # 4 channel-mask + 16 GUID)
        if fmt_chunk is None or len(fmt_chunk) < 26:
            raise ValueError("WAV extensible fmt chunk truncated")
        audio_format = struct.unpack("<H", fmt_chunk[24:26])[0]
        if audio_format == 0xFFFE:
            raise ValueError("WAV extensible SubFormat is itself extensible")
    if audio_format == 1:  # integer PCM
        if bits == 16:
            return np.frombuffer(data, "<i2"), rate, n_channels
        if bits == 8:  # offset-binary → full-scale int16
            u = np.frombuffer(data, np.uint8).astype(np.int16)
            return (u - 128) << 8, rate, n_channels
        if bits == 24:  # sign-extend 3-byte LE → int32
            if len(data) % 3:
                raise ValueError("WAV 24-bit data not sample-aligned")
            tri = np.frombuffer(data, np.uint8).reshape(-1, 3).astype(np.int32)
            v = tri[:, 0] | (tri[:, 1] << 8) | (tri[:, 2] << 16)
            return v - ((v & 0x800000) << 1), rate, n_channels
        if bits == 32:
            return np.frombuffer(data, "<i4"), rate, n_channels
    elif audio_format == 3:  # IEEE float
        if bits == 32:
            return np.frombuffer(data, "<f4"), rate, n_channels
        if bits == 64:
            return np.frombuffer(data, "<f8"), rate, n_channels
    raise NotImplementedError(
        f"STUB: WAV format={audio_format} bits={bits} — only integer and "
        "float PCM decode (G.711, ADPCM and transform codecs do not)"
    )


def decode_audio(b: bytes):
    """Container-dispatched audio decode → (interleaved samples,
    sample_rate, n_channels): RIFF/WAVE streams via
    :func:`decode_wav` (integer / float PCM, EXTENSIBLE), FLAC via :func:`dstlr_spark.operators.flac.
    decode_flac` (lossless predictive decode — integer-exact, so it
    sits under the same planted-value oracles). Both audio operators
    dispatch through this, so a FLAC clip rides the identical
    feature/VAD machinery as a WAV."""
    if b[:4] in (b"RIFF", b"RF64", b"BW64"):
        return decode_wav(b)
    if b[:4] == b"fLaC":
        from dstlr_spark.operators.flac import decode_flac

        return decode_flac(b)
    if b[:4] == b"FORM" and b[8:12] in (b"AIFF", b"AIFC"):
        from dstlr_spark.operators.aiff import decode_aiff

        return decode_aiff(b)
    if b[:4] == b".snd":
        from dstlr_spark.operators.aiff import decode_au

        return decode_au(b)
    if b[:4] == b"caff":
        from dstlr_spark.operators.caf import decode_caf

        return decode_caf(b)
    if b[:4] == b"riff":  # Sony Wave64 (lowercase GUID fourcc)
        from dstlr_spark.operators.caf import decode_w64

        return decode_w64(b)
    raise NotImplementedError(
        "STUB: unrecognized audio container — RIFF/WAVE (incl. "
        "RF64/BW64), FLAC, AIFF/AIFF-C, Sun AU, CAF, and Wave64 "
        "decode natively; transform codecs (MP3/AAC/WMA) need an "
        "audio library this container doesn't ship"
    )


def audio_features_np(media: DataFrame) -> DataFrame:
    """REAL audio feature extraction: (doc_id, payload) → per-clip
    (n_samples, n_channels, sample_rate, duration_us, sumsq, peak,
    zero_crossings) from the DECODED samples, all exact integers so
    an analytic oracle can reproduce them bit-for-bit. Arrow-batched
    mapInPandas; per-doc failure isolation (X2) — an undecodable clip
    yields a null-feature row. Map-only: no shuffle, features are the
    only bytes that leave the stage."""

    def body(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    s, rate, ch = decode_audio(bytes(payload))
                    s64 = s.astype(np.int64)
                    rows.append(
                        dict(
                            doc_id=doc_id,
                            n_samples=int(s.size),
                            n_channels=int(ch),
                            sample_rate=int(rate),
                            duration_us=int(s.size // ch) * 1_000_000 // int(rate),
                            sumsq=int((s64 * s64).sum()),
                            peak=int(np.abs(s64).max()) if s.size else 0,
                            zero_crossings=int(((s64[:-1] * s64[1:]) < 0).sum()),
                        )
                    )
                except (NotImplementedError, ValueError):
                    rows.append(
                        dict(doc_id=doc_id, n_samples=None, n_channels=None,
                             sample_rate=None, duration_us=None, sumsq=None,
                             peak=None, zero_crossings=None)
                    )
            yield pd.DataFrame(rows) if rows else pd.DataFrame(
                {c: pd.Series(dtype="object")
                 for c in ["doc_id", "n_samples", "n_channels", "sample_rate",
                           "duration_us", "sumsq", "peak", "zero_crossings"]}
            )

    return media.mapInPandas(
        body,
        "doc_id string, n_samples int, n_channels int, sample_rate int, "
        "duration_us long, sumsq long, peak int, zero_crossings int",
    )


#: planted-sample formula for synthetic WAVs: sample i of a doc with
#: n_chars = n is ((n·31 + i·17) % 4097) − 2048 ∈ [−2048, 2048] —
#: index- and doc-dependent, so a decoder that drops samples, misreads
#: the rate, or breaks int16 sign produces different features, and the
#: DuckDB oracle re-derives every feature from range() arithmetic
#: without touching bytes.
WAV_MOD = 4097
WAV_BASE_RATE = 8000


def synth_media_wav(documents: DataFrame) -> DataFrame:
    """documents(doc_id, text, n_chars) → (doc_id, payload binary):
    the SAME planted mono 16-bit clip per document (count = n_chars %
    50 + 10, rate = 8000 + (n_chars % 2)·8000, samples from
    :data:`WAV_MOD`'s formula), serialized per (n_chars DIV 2) MOD 9 —
    PCM WAV; FLAC with fixed-order-2 prediction + Rice residuals;
    FLAC verbatim subframes; big-endian AIFF; AIFF-C ``sowt``
    (little-endian); Sun AU 16-bit linear; Apple CAF lpcm; Sony
    Wave64; or RF64 with the ds64 64-bit sizes (DIV 2 first so the
    container choice is independent of the MOD-2-derived rate). The
    features oracle is container-BLIND (it derives everything from
    n_chars), so all nine codec paths must reproduce identical
    decoded samples — the same lockstep-free gate growth the image
    corpus uses for BI_JPEG/BI_PNG. Deterministic in n_chars only, so
    the DuckDB oracle re-derives every feature without parsing a
    byte. Same F1/F2 null guard."""

    def body(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from dstlr_spark.operators.aiff import encode_aiff, encode_au
        from dstlr_spark.operators.caf import (
            encode_caf,
            encode_rf64,
            encode_w64,
        )
        from dstlr_spark.operators.flac import encode_flac

        encoders = (
            lambda s, r: encode_wav(s, r),
            lambda s, r: encode_flac(s, r, subframe="fixed2", blocksize=32),
            lambda s, r: encode_flac(s, r, subframe="verbatim", blocksize=32),
            lambda s, r: encode_aiff(s, r),
            lambda s, r: encode_aiff(s, r, compression="sowt"),
            lambda s, r: encode_au(s, r),
            encode_caf,
            encode_w64,
            encode_rf64,
        )
        for pdf in batches:
            rows = []
            for doc_id, n_chars in zip(pdf["doc_id"], pdf["n_chars"]):
                n = int(n_chars)
                count = n % 50 + 10
                rate = WAV_BASE_RATE + (n % 2) * WAV_BASE_RATE
                i = np.arange(count, dtype=np.int64)
                samples = ((n * 31 + i * 17) % WAV_MOD - 2048).astype(np.int16)
                rows.append(
                    dict(
                        doc_id=doc_id,
                        payload=encoders[(n // 2) % 9](samples, rate),
                    )
                )
            yield pd.DataFrame(rows) if rows else pd.DataFrame(
                {"doc_id": pd.Series(dtype="object"),
                 "payload": pd.Series(dtype="object")}
            )

    return (
        documents.where(F.col("text").isNotNull() & F.col("n_chars").isNotNull())
        .select(F.col("doc_id").cast("string").alias("doc_id"), "n_chars")
        .mapInPandas(body, "doc_id string, payload binary")
    )


# --------------------------------------------------------------------------
# REAL video decode — Y4M (YUV4MPEG2) is an uncompressed container (round 5)
# --------------------------------------------------------------------------


def _y4m_geometry(cs: str, w: int, h: int):
    """(base, depth, chroma-samples-per-plane) for a Y4M colorspace
    tag, wide-sample variants included (``C420p10``/``C422p12``/
    ``C444p10``/… and ``Cmono10``/…: 2-byte little-endian samples).
    Unknown tags raise NotImplementedError, bad dims ValueError."""
    import re

    depth, base = 8, cs
    m = re.fullmatch(r"Cmono(9|10|12|14|16)", cs)
    if m:
        base, depth = "Cmono", int(m.group(1))
    else:
        m = re.fullmatch(r"(C420|C422|C444)p(9|10|12|14|16)", cs)
        if m:
            base, depth = m.group(1), int(m.group(2))
    if base == "Cmono":
        chroma = 0
    elif base == "C444":
        chroma = w * h
    elif base in ("C420", "C420jpeg", "C420mpeg2", "C420paldv"):
        if w % 2 or h % 2:
            raise ValueError(f"C420 needs even dims, got {w}x{h}")
        chroma = (w // 2) * (h // 2)
    elif base == "C422":
        if w % 2:
            raise ValueError(f"C422 needs even width, got {w}")
        chroma = (w // 2) * h
    elif base == "C411":
        if w % 4:
            raise ValueError(f"C411 needs width % 4 == 0, got {w}")
        chroma = (w // 4) * h
    else:
        raise NotImplementedError(
            f"STUB: Y4M colorspace {cs} unsupported; Cmono/C444/C422/"
            "C420*/C411 at 8 bits and their p9-p16 wide-sample forms "
            "decode natively"
        )
    return base, depth, chroma


def encode_y4m(
    y_frames, fps=(25, 1), colorspace: str = "Cmono", interlace: str = "Ip"
) -> bytes:
    """Encode a luma stack (n, h, w) as a YUV4MPEG2 stream. ``Cmono``
    writes Y planes only; chroma colorspaces write flat U/V planes at
    mid-scale so every chroma-geometry decode path stays testable.
    Wide-sample tags (``C444p10``, ``Cmono12``, …) write 2-byte
    little-endian samples. ``interlace`` stamps the header I-tag —
    It/Ib streams store the SAME woven frames (yuv4mpeg(5) stores
    full frames regardless); only the tag changes, which is exactly
    what the decoder's field split keys on."""
    import numpy as np

    n, h, w = np.asarray(y_frames).shape
    base, depth, chroma = _y4m_geometry(colorspace, w, h)
    dtype = np.uint8 if depth == 8 else "<u2"
    fr = np.asarray(y_frames).astype(dtype)
    head = (
        f"YUV4MPEG2 W{w} H{h} F{fps[0]}:{fps[1]} {interlace} A1:1 "
        f"{colorspace}\n"
    ).encode()
    out = [head]
    flat_uv = np.full(chroma, 1 << (depth - 1), dtype).tobytes()
    for f in range(n):
        out.append(b"FRAME\n")
        out.append(fr[f].tobytes())
        out.append(flat_uv)
        out.append(flat_uv)
    return b"".join(out)


def decode_y4m(b: bytes):
    """REAL Y4M decode → (luma stack (n, h, w) uint8, (fps_num,
    fps_den), colorspace) — pure byte/NumPy parsing of the
    YUV4MPEG2 container: ASCII parameter header, then per frame a
    ``FRAME`` marker line followed by raw planes.

    Supported colorspaces: ``Cmono`` (Y only), ``C444`` (full
    chroma), ``C422`` (half-horizontal chroma), ``C411``
    (quarter-horizontal), ``C420``/``C420jpeg``/``C420mpeg2``/
    ``C420paldv`` (quarter chroma; even dims enforced), and the
    wide-sample forms of each chroma geometry plus mono
    (``C420p10``/``C422p12``/``C444p10``/…/``Cmono10``/…): 2-byte
    little-endian samples returned as exact uint16, range-checked
    against the tag's bit depth. The luma plane is returned;
    chroma planes are length-validated and skipped (features operate
    on luma — a color pipeline reads the same offsets).

    Interlaced streams decode with REAL field semantics: ``It`` /
    ``Ib`` frames store two temporally distinct fields woven
    line-wise (top field = even lines, bottom = odd — yuv4mpeg(5)),
    so each stored frame splits into two half-height field images in
    temporal order (It: top first, Ib: bottom first) and the returned
    fps doubles to the field rate. Odd-height interlaced streams are
    malformed (fields would be ragged) → ValueError. ``Im``
    (mixed-mode, per-frame ILACE parameters) stays a loud stub; a
    malformed container raises ValueError."""
    import numpy as np

    nl = b.find(b"\n")
    if nl < 0 or not b.startswith(b"YUV4MPEG2"):
        raise ValueError("not a YUV4MPEG2 stream")
    w = h = None
    fps = (25, 1)
    cs = "C420"
    interlace = "Ip"
    for tok in b[:nl].decode("ascii", "replace").split()[1:]:
        if tok[0] == "W":
            w = int(tok[1:])
        elif tok[0] == "H":
            h = int(tok[1:])
        elif tok[0] == "F":
            num, den = tok[1:].split(":")
            fps = (int(num), int(den))
        elif tok[0] == "C":
            cs = tok
        elif tok[0] == "I":
            interlace = tok
    if not w or not h:
        raise ValueError("Y4M header missing W/H")
    if interlace not in ("Ip", "It", "Ib"):
        raise NotImplementedError(
            f"STUB: Y4M interlace mode {interlace} (mixed-mode needs "
            "per-frame ILACE parameters); Ip/It/Ib decode natively"
        )
    if interlace != "Ip" and h % 2:
        raise ValueError(f"interlaced Y4M needs even height, got {h}")
    _base, depth, chroma = _y4m_geometry(cs, w, h)
    bps = 1 if depth == 8 else 2
    dtype = np.uint8 if depth == 8 else np.uint16
    ysize = w * h
    frames = []
    pos = nl + 1
    while pos < len(b):
        fnl = b.find(b"\n", pos)
        if fnl < 0 or not b[pos:fnl].startswith(b"FRAME"):
            raise ValueError("Y4M frame marker missing/corrupt")
        pos = fnl + 1
        if pos + (ysize + 2 * chroma) * bps > len(b):
            raise ValueError("truncated Y4M frame payload")
        woven = np.frombuffer(
            b, np.uint8 if bps == 1 else "<u2", ysize, pos
        ).reshape(h, w)
        if bps == 2 and int(woven.max(initial=0)) >= 1 << depth:
            raise ValueError(
                f"Y4M wide sample exceeds the {depth}-bit range"
            )
        if interlace == "Ip":
            frames.append(woven)
        else:
            top, bot = woven[0::2], woven[1::2]
            frames.extend((top, bot) if interlace == "It" else (bot, top))
        pos += (ysize + 2 * chroma) * bps
    out_h = h if interlace == "Ip" else h // 2
    if interlace != "Ip":
        fps = (2 * fps[0], fps[1])
    return (
        np.stack(frames) if frames else np.zeros((0, out_h, w), dtype),
        fps,
        cs,
    )


def _bt601_luma(rgb):
    """RGB frame stack → integer ITU-R BT.601 luma
    ((299·R + 587·G + 114·B) DIV 1000 — exact, oracle-able; the
    weights sum to 1000, so gray-replicated RGB round-trips to its
    gray value bit-for-bit)."""
    import numpy as np

    r64 = rgb.astype(np.int64)
    return (
        (299 * r64[..., 0] + 587 * r64[..., 1] + 114 * r64[..., 2]) // 1000
    ).astype(np.uint8)


def decode_video_luma(b: bytes):
    """Container-dispatched video decode → luma frame stack
    (n, h, w): YUV4MPEG2 streams return their Y planes
    (:func:`decode_y4m` — uint8, or exact uint16 for wide-sample
    tags); AVI DIB/MJPEG frame stacks decode through
    :func:`dstlr_spark.operators.avi.decode_avi_frames` and reduce to
    integer BT.601 luma (:func:`_bt601_luma`). Both containers ride
    the same sampling/shot machinery; anything else (animated GIF,
    inter-frame codecs) raises the STUB contract."""
    import numpy as np

    if b[:9] == b"YUV4MPEG2":
        return decode_y4m(b)[0]
    if b[:4] == b"RIFF" and b[8:12] == b"AVI ":
        from dstlr_spark.operators.avi import decode_avi_frames

        return _bt601_luma(decode_avi_frames(b)[0])
    raise NotImplementedError(
        "STUB: unrecognized video container — Y4M and AVI (DIB/MJPEG) "
        "decode natively; animated GIF and inter-frame codecs (H.26x, "
        "VP9, AV1) do not"
    )


def video_frame_features_np(media: DataFrame, every_n: int = 2) -> DataFrame:
    """REAL frame sampling + per-frame features: decode the video
    payload (Y4M luma planes, or AVI frames reduced to BT.601 luma —
    :func:`decode_video_luma`) and emit one row per
    SAMPLED frame (indices 0, k, 2k, …) —
    (doc_id, frame_idx, width, height, y_sum, y_min, y_max), all exact
    integers. This replaces the byte-stride stand-in with a real GOP
    reader shape: decode happens in-stage, only per-frame reductions
    leave the executor. Per-doc failure isolation (X2) as everywhere."""

    def body(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    fr = decode_video_luma(bytes(payload))
                    if not fr.shape[0]:
                        # header-only stream: no frames to sample. Route
                        # to the null-feature row so the doc still emits
                        # exactly one row (per-doc contract) instead of
                        # silently vanishing from the output
                        raise ValueError("empty video stream: zero frames")
                    for idx in range(0, fr.shape[0], every_n):
                        y = fr[idx].astype(np.int64)
                        rows.append(
                            dict(doc_id=doc_id, frame_idx=idx,
                                 width=fr.shape[2], height=fr.shape[1],
                                 y_sum=int(y.sum()), y_min=int(y.min()),
                                 y_max=int(y.max()))
                        )
                except (NotImplementedError, ValueError):
                    rows.append(
                        dict(doc_id=doc_id, frame_idx=None, width=None,
                             height=None, y_sum=None, y_min=None, y_max=None)
                    )
            yield pd.DataFrame(rows) if rows else pd.DataFrame(
                {c: pd.Series(dtype="object")
                 for c in ["doc_id", "frame_idx", "width", "height",
                           "y_sum", "y_min", "y_max"]}
            )

    return media.mapInPandas(
        body,
        "doc_id string, frame_idx int, width int, height int, "
        "y_sum long, y_min int, y_max int",
    )


VAD_FRAME = 10  # VAD frame length in samples (gate-sized; prod uses rate·20ms)
VAD_ENERGY_MIN = 1  # a frame is voiced iff Σ s² ≥ this (planted silence is 0)
#: planted-silence block length for the VAD corpus: samples alternate
#: 25 voiced (the synth_media_wav formula) / 25 exact zeros, so segment
#: boundaries are analytic functions of the sample index alone
VAD_SILENCE_BLOCK = 25


def audio_vad_np(
    media: DataFrame, frame: int = VAD_FRAME, thresh: int = VAD_ENERGY_MIN
) -> DataFrame:
    """Voice-activity detection over the DECODED samples — the speech
    curation pass an audio corpus runs before transcription/training
    (silence/near-silence regions carry no training signal and skew
    duration stats): frame the clip into ``frame``-sample windows
    (last partial frame included), mark a frame voiced iff its energy
    Σ s² ≥ ``thresh`` (exact integers), and emit one row per maximal
    voiced segment — (doc_id, seg_idx, start_frame, n_frames, energy).

    Multi-channel clips de-interleave and VAD on TOTAL cross-channel
    frame energy (frame boundaries in per-channel sample positions —
    a frame is voiced when ANY mix of its channels carries enough
    energy), which reduces to the plain mono walk at ch=1; a clip
    whose sample count isn't channel-aligned is malformed. Arrow-
    batched mapInPandas with per-doc isolation (X2): undecodable/
    unsupported clips and clips with NO voiced frame yield one
    null-segment row (the doc never vanishes). Map-only: only segment
    tuples leave the stage."""

    def body(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        cols = ["doc_id", "seg_idx", "start_frame", "n_frames", "energy"]
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    s, _, ch = decode_audio(bytes(payload))
                    if ch > 1 and s.size % ch:
                        raise ValueError(
                            "audio data not channel-aligned for VAD"
                        )
                    s64 = s.astype(np.int64)
                    sq = (s64 * s64).reshape(-1, ch).sum(axis=1)
                    bounds = np.arange(0, sq.size, frame)
                    energy = (
                        np.add.reduceat(sq, bounds)
                        if s64.size
                        else np.zeros(0, np.int64)
                    )
                    voiced = energy >= thresh
                    if not voiced.any():
                        raise ValueError("no voiced frame in clip")
                    # maximal runs of voiced frames
                    edges = np.flatnonzero(np.diff(voiced.astype(np.int8)))
                    starts = [0] if voiced[0] else []
                    starts += [int(e) + 1 for e in edges if voiced[e + 1]]
                    ends = [int(e) + 1 for e in edges if voiced[e]]
                    ends += [int(voiced.size)] if voiced[-1] else []
                    for k, (a, b) in enumerate(zip(starts, ends)):
                        rows.append(
                            dict(
                                doc_id=doc_id,
                                seg_idx=k,
                                start_frame=a,
                                n_frames=b - a,
                                energy=int(energy[a:b].sum()),
                            )
                        )
                except (NotImplementedError, ValueError):
                    rows.append(
                        dict(doc_id=doc_id, seg_idx=None, start_frame=None,
                             n_frames=None, energy=None)
                    )
            yield pd.DataFrame(rows) if rows else pd.DataFrame(
                {c: pd.Series(dtype="object") for c in cols}
            )

    return media.mapInPandas(
        body,
        "doc_id string, seg_idx int, start_frame int, n_frames int, "
        "energy long",
    )


def synth_media_wav_vad(documents: DataFrame) -> DataFrame:
    """documents → (doc_id, payload): a REAL mono 16-bit PCM WAV per
    document with PLANTED SILENCE — sample i is 0 when
    (i DIV VAD_SILENCE_BLOCK) is odd, else the :func:`synth_media_wav`
    formula ((n·31 + i·17) % WAV_MOD) − 2048. Count = n_chars % 120 +
    40 samples at 8 kHz, so clips span 1–7 silence blocks and the VAD
    segment table is a pure function of n_chars — the analytic-oracle
    contract every planted corpus here carries. Serialized per
    (n_chars DIV 120) MOD 3 — PCM WAV / big-endian AIFF / Sun AU
    (DIV 120 first so the container choice is independent of the
    MOD-120-derived count): the VAD oracle is container-blind, so all
    three dispatch arms must segment identically."""

    def body(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from dstlr_spark.operators.aiff import encode_aiff, encode_au

        encoders = (
            lambda s: encode_wav(s, 8000),
            lambda s: encode_aiff(s, 8000),
            lambda s: encode_au(s, 8000),
        )
        for pdf in batches:
            rows = []
            for doc_id, n_chars in zip(pdf["doc_id"], pdf["n_chars"]):
                n = int(n_chars)
                cnt = n % 120 + 40
                i = np.arange(cnt, dtype=np.int64)
                s = (n * 31 + i * 17) % WAV_MOD - 2048
                s[(i // VAD_SILENCE_BLOCK) % 2 == 1] = 0
                rows.append(
                    dict(
                        doc_id=doc_id,
                        payload=encoders[(n // 120) % 3](s.astype(np.int16)),
                    )
                )
            yield pd.DataFrame(rows) if rows else pd.DataFrame(
                {"doc_id": pd.Series(dtype="object"),
                 "payload": pd.Series(dtype="object")}
            )

    return (
        documents.where(F.col("text").isNotNull() & F.col("n_chars").isNotNull())
        .select(F.col("doc_id").cast("string").alias("doc_id"), "n_chars")
        .mapInPandas(body, "doc_id string, payload binary")
    )


#: planted-luma formula for synthetic Y4M clips: frame f pixel (x, y)
#: carries (5x + 3y + 7f + 11) % 241 — position- AND frame-dependent,
#: so a decoder that misaligns frame boundaries or swaps plane order
#: produces different per-frame sums, and the DuckDB oracle re-derives
#: every feature from range() arithmetic without touching bytes.
Y4M_MOD = 241


def synth_media_y4m(documents: DataFrame) -> DataFrame:
    """documents(doc_id, text, n_chars) → (doc_id, payload binary):
    the SAME planted mono luma clip per document — dims
    w = n_chars % 6 + 2, h = (n_chars · 5) % 6 + 2, frames
    n_chars % 6 + 2 — serialized per (n_chars DIV 6) MOD 3 (DIV 6
    first so the container choice is independent of the MOD-6-derived
    dims): mono Y4M; AVI with uncompressed 24-bpp DIB frames
    (gray-replicated RGB — the BT.601 weights sum to 1000, so the
    luma reduce returns the planted gray bit-for-bit); or AVI-MJPEG
    whose frames are LOSSLESS JPEG (SOF3) streams — also exact. The
    frame-features oracle is container-BLIND (it derives everything
    from n_chars), so all three paths must reproduce identical luma
    stacks. Deterministic in n_chars only, so the oracle needs no
    decode; same F1/F2 null guard."""

    def body(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from dstlr_spark.operators.avi import encode_avi
        from dstlr_spark.operators.jpeg import encode_jpeg_lossless

        def enc_avi_dib(fr):
            rgb = np.repeat(fr[..., None], 3, axis=-1)
            return encode_avi(rgb)

        def enc_avi_mjpg(fr):
            rgb = np.repeat(fr[..., None], 3, axis=-1)
            return encode_avi(
                rgb,
                codec="MJPG",
                jpeg_encoder=lambda img: encode_jpeg_lossless(img, predictor=4),
            )

        encoders = (encode_y4m, enc_avi_dib, enc_avi_mjpg)
        for pdf in batches:
            rows = []
            for doc_id, n_chars in zip(pdf["doc_id"], pdf["n_chars"]):
                n = int(n_chars)
                w, h, nf = n % 6 + 2, (n * 5) % 6 + 2, n % 6 + 2
                fs, ys, xs = np.mgrid[0:nf, 0:h, 0:w]
                fr = ((5 * xs + 3 * ys + 7 * fs + 11) % Y4M_MOD).astype(np.uint8)
                rows.append(
                    dict(doc_id=doc_id, payload=encoders[(n // 6) % 3](fr))
                )
            yield pd.DataFrame(rows) if rows else pd.DataFrame(
                {"doc_id": pd.Series(dtype="object"),
                 "payload": pd.Series(dtype="object")}
            )

    return (
        documents.where(F.col("text").isNotNull() & F.col("n_chars").isNotNull())
        .select(F.col("doc_id").cast("string").alias("doc_id"), "n_chars")
        .mapInPandas(body, "doc_id string, payload binary")
    )


SHOT_DIFF_MIN = 1  # a frame starts a new shot iff Σ|Y_f − Y_{f−1}| ≥ this
#: scene length (frames) for the planted-shot corpus: luma depends on
#: f DIV SHOT_SCENE_LEN, so within-scene frame deltas are exactly 0 and
#: scene boundaries are analytic functions of the frame index
SHOT_SCENE_LEN = 3


def video_shots_np(media: DataFrame, thresh: int = SHOT_DIFF_MIN) -> DataFrame:
    """Shot-boundary detection over the DECODED luma stack — the video
    sibling of :func:`audio_vad_np` and the canonical prerequisite of
    frame sampling (sample per shot, not per fixed stride, so long
    static scenes don't dominate the frame budget): frame f starts a
    new shot iff the exact integer luma delta Σ|Y_f − Y_{f−1}| ≥
    ``thresh``; emit one row per shot — (doc_id, shot_idx,
    start_frame, n_frames, y_sum). Arrow-batched mapInPandas with
    per-doc isolation (X2): undecodable/zero-frame clips yield one
    null-shot row. Map-only: only shot tuples leave the stage."""

    def body(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        cols = ["doc_id", "shot_idx", "start_frame", "n_frames", "y_sum"]
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    fr = decode_video_luma(bytes(payload))
                    if not fr.shape[0]:
                        raise ValueError("empty video stream: zero frames")
                    y = fr.astype(np.int64)
                    deltas = np.abs(np.diff(y, axis=0)).sum(axis=(1, 2))
                    # frame 0 always opens shot 0
                    boundary = np.concatenate(([True], deltas >= thresh))
                    starts = np.flatnonzero(boundary)
                    ends = np.append(starts[1:], y.shape[0])
                    sums = y.sum(axis=(1, 2))
                    for k, (a, b) in enumerate(zip(starts, ends)):
                        rows.append(
                            dict(
                                doc_id=doc_id,
                                shot_idx=k,
                                start_frame=int(a),
                                n_frames=int(b - a),
                                y_sum=int(sums[a:b].sum()),
                            )
                        )
                except (NotImplementedError, ValueError):
                    rows.append(
                        dict(doc_id=doc_id, shot_idx=None, start_frame=None,
                             n_frames=None, y_sum=None)
                    )
            yield pd.DataFrame(rows) if rows else pd.DataFrame(
                {c: pd.Series(dtype="object") for c in cols}
            )

    return media.mapInPandas(
        body,
        "doc_id string, shot_idx int, start_frame int, n_frames int, "
        "y_sum long",
    )


def synth_media_y4m_shots(documents: DataFrame) -> DataFrame:
    """documents → (doc_id, payload): a REAL mono Y4M clip per document
    with PLANTED SCENES — frame f pixel (x, y) carries
    (5x + 3y + 31·(f DIV SHOT_SCENE_LEN) + 11) % 241, so luma is
    constant WITHIN a scene (frame deltas exactly 0) and jumps at every
    scene boundary. Dims w = n_chars % 5 + 2, h = (n_chars·3) % 5 + 2,
    frames = n_chars % 9 + 3 (1–4 scenes, last possibly partial). The
    shot table is a pure function of n_chars — the analytic-oracle
    contract every planted corpus here carries. Serialized per
    (n_chars DIV 45) MOD 2 — mono Y4M or AVI-DIB (gray-replicated
    RGB, exact through the BT.601 reduce; DIV 45 = lcm(5, 9) first so
    the container choice is independent of the MOD-derived dims):
    the shots oracle is container-blind, so both dispatch arms must
    cut identical scenes."""

    def body(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from dstlr_spark.operators.avi import encode_avi

        def enc_avi(fr):
            return encode_avi(np.repeat(fr[..., None], 3, axis=-1))

        encoders = (encode_y4m, enc_avi)
        for pdf in batches:
            rows = []
            for doc_id, n_chars in zip(pdf["doc_id"], pdf["n_chars"]):
                n = int(n_chars)
                w, h, nf = n % 5 + 2, (n * 3) % 5 + 2, n % 9 + 3
                fs, ys, xs = np.mgrid[0:nf, 0:h, 0:w]
                fr = (
                    (5 * xs + 3 * ys + 31 * (fs // SHOT_SCENE_LEN) + 11) % Y4M_MOD
                ).astype(np.uint8)
                rows.append(
                    dict(doc_id=doc_id, payload=encoders[(n // 45) % 2](fr))
                )
            yield pd.DataFrame(rows) if rows else pd.DataFrame(
                {"doc_id": pd.Series(dtype="object"),
                 "payload": pd.Series(dtype="object")}
            )

    return (
        documents.where(F.col("text").isNotNull() & F.col("n_chars").isNotNull())
        .select(F.col("doc_id").cast("string").alias("doc_id"), "n_chars")
        .mapInPandas(body, "doc_id string, payload binary")
    )


def resize_nearest(rgb, max_side: int):
    """Nearest-neighbor downscale preserving aspect: the longest side
    becomes ≤ max_side (no-op if already within). Pure index math:
    thumb pixel (X, Y) samples source ((X·w) DIV tw, (Y·h) DIV th)."""
    import numpy as np

    h, w, _ = rgb.shape
    m = max(w, h)
    if m <= max_side:
        tw, th = w, h
    else:
        tw = max(1, (w * max_side) // m)
        th = max(1, (h * max_side) // m)
    xs = (np.arange(tw) * w) // tw
    ys = (np.arange(th) * h) // th
    return rgb[np.ix_(ys, xs)]


def palettize_rgb(rgb):
    """(h, w, 3) uint8 RGB → (index array, (256, 3) palette) for GIF
    encoding. Requires ≤256 distinct colors (the planted gate images
    are ≤8×8 px, so ≤64); raises ValueError beyond that — the caller
    must quantize first, which the exact-valued gate never does."""
    import numpy as np

    a = np.asarray(rgb, np.uint8)
    flat = a.reshape(-1, 3)
    colors, idx = np.unique(flat, axis=0, return_inverse=True)
    if len(colors) > 256:
        raise ValueError(f"{len(colors)} colors exceed a GIF palette")
    pal = np.zeros((256, 3), np.uint8)
    pal[: len(colors)] = colors
    return idx.astype(np.uint8).reshape(a.shape[:2]), pal


def _encode_gif_rgb(rgb, interlace=False) -> bytes:
    idx, pal = palettize_rgb(rgb)
    return encode_gif(idx, pal, interlace=interlace)


def synth_media_mixed(documents: DataFrame) -> DataFrame:
    """documents(doc_id, text, n_chars) → (doc_id, payload binary): the
    SAME planted image per document — width = n_chars % 7 + 2, height
    = (n_chars·3) % 7 + 2 (2..8 px: the gate exercises decode
    arithmetic, not IO volume), pixels from :data:`PLANT_MOD`'s
    formula — serialized per (n_chars DIV 7) MOD 22 into one of
    twenty-two variants — DIV 7
    first so the codec choice is independent of the (n_chars MOD
    7)-derived dims
    and every codec sees every image shape — uncompressed 24-bit BMP;
    truecolor PNG (rotating per-row filters 0..4, every unfilter
    path); palettized GIF89a (real LZW, variable-width code growth +
    sub-block reassembly); Adam7-interlaced truecolor PNG (7
    independently-filtered passes); paletted PNG (color type 3, PLTE);
    4-pass-interlaced GIF; 16-BIT truecolor PNG carrying the same
    sample values (<256, so the decoded uint16 array is value-equal to
    the uint8 planted array — the depth-16 byte layout and bpp-6
    filter lookback get gated without breaking format blindness);
    LOSSLESS JPEG (SOF3 predictor 4 — exact by construction, the one
    JPEG family whose decode can join a value-equality oracle);
    LOSSLESS-ARITHMETIC JPEG (SOF11 predictor 4 — the same exact
    prediction walk under the QM coder); HIERARCHICAL JPEG (Annex
    J: DHP + a two-level SOF3/SOF7 lossless pyramid through the
    normative EXP bilinear expansion — also exact); BI_RLE8 BMP
    (palettized run-length stream — all three RLE constructs on real
    data, exact); BI_BITFIELDS BMP (32 bpp under full-byte
    channel masks — exact mask extraction); BI_PNG BMP (a complete
    truecolor PNG stream embedded in the BMP pixel-data area, header
    dims cross-checked against the stream — exact); BI_JPEG BMP
    (an embedded SOF3 lossless JPEG stream, predictor 4 — exact);
    little-endian TIFF (LZW with the spec's early-change width rule +
    the horizontal-differencing predictor, multi-strip — exact);
    big-endian TIFF (uncompressed chunky strips, MM byte order —
    exact); JPEG-in-TIFF (new-style Compression 7 — SOF3
    lossless strips under the shared JPEGTables tag, exact);
    RLE bottom-up truecolor TGA (no front magic — dispatched on the
    TGA 2.0 footer signature, exact); 24-bit 3-plane PCX (scanline
    RLE, exact); QOI (running 64-slot index + diff/luma/run ops,
    exact); WebP-lossless (VP8L — canonical prefix codes,
    subtract-green transform + 4-bit color cache, exact); and
    ICO (doubled-height DIB entry behind a 1×1 decoy — largest-entry
    selection + BMP delegation, exact). A decoder is correct iff
    EVERY variant reproduces the identical planted values — which is
    exactly what lets one format-agnostic analytic oracle gate all of
    them."""

    def body(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from dstlr_spark.operators.jpeg import encode_jpeg_lossless
        from dstlr_spark.operators.jpeg_arith import (
            encode_jpeg_lossless_arith,
        )
        from dstlr_spark.operators.jpeg_hier import encode_jpeg_hier
        from dstlr_spark.operators.ico import encode_ico
        from dstlr_spark.operators.pcx import encode_pcx
        from dstlr_spark.operators.qoi import encode_qoi
        from dstlr_spark.operators.tga import encode_tga
        from dstlr_spark.operators.tiff import encode_tiff
        from dstlr_spark.operators.webp import encode_webp

        encoders = (
            encode_bmp,
            encode_png,
            _encode_gif_rgb,
            lambda a: encode_png(a, interlace=True),
            lambda a: encode_png_pal(*palettize_rgb(a)),
            lambda a: _encode_gif_rgb(a, interlace=True),
            lambda a: encode_png(a.astype(np.uint16)),
            lambda a: encode_jpeg_lossless(a, predictor=4),
            lambda a: encode_jpeg_lossless_arith(a, predictor=4),
            lambda a: encode_jpeg_hier(a, levels=2),
            lambda a: encode_bmp_rle(*palettize_rgb(a)),
            lambda a: encode_bmp_bitfields(
                a, (0xFF0000, 0xFF00, 0xFF), bpp=32
            ),
            lambda a: encode_bmp_embedded(
                encode_png(a), a.shape[1], a.shape[0], 5
            ),
            lambda a: encode_bmp_embedded(
                encode_jpeg_lossless(a, predictor=4),
                a.shape[1],
                a.shape[0],
                4,
            ),
            lambda a: encode_tiff(
                a, compression=5, predictor=2, rows_per_strip=3
            ),
            lambda a: encode_tiff(a, byte_order=">"),
            lambda a: encode_tiff(a, compression=7, jpeg_tables=True),
            lambda a: encode_tga(a, rle=True, top_down=False),
            lambda a: encode_pcx(rgb=a),
            encode_qoi,
            lambda a: encode_webp(a, subtract_green=True, cache_bits=4),
            encode_ico,
        )
        for pdf in batches:
            rows = []
            for doc_id, n_chars in zip(pdf["doc_id"], pdf["n_chars"]):
                n = int(n_chars)
                rgb = _planted_rgb(n % 7 + 2, (n * 3) % 7 + 2)
                rows.append(
                    dict(doc_id=doc_id, payload=encoders[(n // 7) % 22](rgb))
                )
            yield pd.DataFrame(rows) if rows else pd.DataFrame(
                {"doc_id": pd.Series(dtype="object"),
                 "payload": pd.Series(dtype="object")}
            )

    return (
        documents.where(F.col("text").isNotNull() & F.col("n_chars").isNotNull())
        .select(F.col("doc_id").cast("string").alias("doc_id"), "n_chars")
        .mapInPandas(body, "doc_id string, payload binary")
    )


def decode_image_np(media: DataFrame) -> DataFrame:
    """REAL pixel decode operator: (doc_id, payload) → (doc_id, width,
    height, pixels array<int>) — flattened row-major RGB. Arrow-batched
    mapInPandas over :func:`decode_rgb_bytes`; per-doc failure isolation
    (X2): an undecodable payload yields a null-dimension row instead of
    killing the batch."""

    def body(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    rgb = decode_rgb_bytes(bytes(payload))
                    # ndarray.tolist() emits Python ints at C speed —
                    # the per-pixel int() loop dominated large decodes
                    rows.append(
                        dict(doc_id=doc_id, width=rgb.shape[1],
                             height=rgb.shape[0],
                             pixels=rgb.reshape(-1).tolist())
                    )
                except (NotImplementedError, ValueError):
                    rows.append(
                        dict(doc_id=doc_id, width=None, height=None, pixels=None)
                    )
            yield pd.DataFrame(rows) if rows else pd.DataFrame(
                {c: pd.Series(dtype="object")
                 for c in ["doc_id", "width", "height", "pixels"]}
            )

    return media.mapInPandas(
        body, "doc_id string, width int, height int, pixels array<int>"
    )


PHASH_SIDE = 4  # aHash grid: SIDE² bits (16 here — gate-sized; prod uses 8²=64)


def phash_np(media: DataFrame, side: int = PHASH_SIDE) -> DataFrame:
    """Perceptual average-hash (aHash) over the DECODED image — the
    multimodal near-dup key exact byte hashing cannot provide: the
    same picture serialized as BMP vs PNG vs GIF has different bytes
    (different md5 — `mm_media_dedup` misses it) but the same decoded
    pixels, hence the same aHash. Spec, all exact integer arithmetic:

      thumb (X, Y)   = source ((X·w) DIV side, (Y·h) DIV side)
      gray           = (r + g + b) DIV 3
      mu             = (Σ gray) DIV side²
      bit(Y, X)      = [gray > mu], weight 2^(Y·side + X)

    (the :func:`resize_nearest` index math at a FIXED side — aspect is
    deliberately not preserved: aHash trades shape fidelity for a
    constant-width key). Arrow-batched mapInPandas; per-doc isolation
    (X2): undecodable payloads yield a null-hash row. Map-only — only
    (doc_id, 64-bit key) leaves the stage; grouping on the key is one
    hash aggregate, the `dedup_exact` shape."""

    def body(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        weights = 1 << np.arange(side * side, dtype=np.int64)
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    rgb = decode_rgb_bytes(bytes(payload))
                    h, w = rgb.shape[:2]
                    xs = (np.arange(side) * w) // side
                    ys = (np.arange(side) * h) // side
                    gray = rgb[np.ix_(ys, xs)].astype(np.int64).sum(axis=2) // 3
                    mu = int(gray.sum()) // (side * side)
                    bits = (gray > mu).reshape(-1)
                    rows.append(
                        dict(doc_id=doc_id, phash=int(weights[bits].sum()))
                    )
                except (NotImplementedError, ValueError):
                    rows.append(dict(doc_id=doc_id, phash=None))
            yield pd.DataFrame(rows) if rows else pd.DataFrame(
                {c: pd.Series(dtype="object") for c in ["doc_id", "phash"]}
            )

    return media.mapInPandas(body, "doc_id string, phash long")


def resize_image_np(media: DataFrame, max_side: int = 64) -> DataFrame:
    """REAL decode → nearest-neighbor thumbnail: (doc_id, width, height,
    pixels array<int>) of the RESIZED image (same failure isolation as
    :func:`decode_image_np`)."""

    def body(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    th = resize_nearest(decode_rgb_bytes(bytes(payload)), max_side)
                    rows.append(
                        dict(doc_id=doc_id, width=th.shape[1], height=th.shape[0],
                             pixels=th.reshape(-1).tolist())
                    )
                except (NotImplementedError, ValueError):
                    rows.append(
                        dict(doc_id=doc_id, width=None, height=None, pixels=None)
                    )
            yield pd.DataFrame(rows) if rows else pd.DataFrame(
                {c: pd.Series(dtype="object")
                 for c in ["doc_id", "width", "height", "pixels"]}
            )

    return media.mapInPandas(
        body, "doc_id string, width int, height int, pixels array<int>"
    )


# --------------------------------------------------------------------------
# Corpus normalization — the standard multimodal preprocessing steps
# (post-close continuation): every heterogeneous container → one
# canonical shape, exact integer semantics so the math is oracle-able.
# --------------------------------------------------------------------------


def normalize_audio(samples, rate: int, n_channels: int,
                    target_rate: int = 16_000):
    """Normalize one decoded clip to MONO @ ``target_rate`` — the
    canonical ASR/audio-LM preprocessing step — with exact integer
    semantics:

    - downmix: per-frame floor mean of the channels
      (``sum DIV n_channels`` on int64 — deterministic, no float);
    - resample: nearest-source-index map ``out[i] =
      mono[(i · rate) DIV target]`` with ``n_out = n · target DIV
      rate`` — the audio twin of :func:`resize_nearest`'s index rule
      (for integer decimation this IS take-every-k; proper band-limit
      filtering is a quality choice layered on top, not a correctness
      contract).

    Returns the normalized int64 sample array."""
    import numpy as np

    raw = np.asarray(samples)
    if np.issubdtype(raw.dtype, np.floating):
        # float-PCM containers (WAV fmt 3, AIFF fl32/fl64, AU 6/7,
        # CAF/W64 float) carry [-1, 1] samples: map to int16 full
        # scale (rint + clip) — a bare int64 cast would truncate the
        # whole clip to zeros and report silent-looking features
        raw = np.clip(np.rint(raw * 32767.0), -32768, 32767)
    s = raw.astype(np.int64)
    if n_channels <= 0 or s.size % n_channels:
        raise ValueError("samples not channel-aligned")
    frames = s.size // n_channels
    mono = (
        s.reshape(frames, n_channels).sum(axis=1) // n_channels
        if n_channels > 1
        else s
    )
    if rate == target_rate or frames == 0:
        return mono
    n_out = frames * target_rate // rate
    idx = (np.arange(n_out, dtype=np.int64) * rate) // target_rate
    return mono[idx]


def audio_normalize_np(media: DataFrame,
                       target_rate: int = 16_000) -> DataFrame:
    """REAL corpus normalization operator: decode ANY supported audio
    container (WAV/RF64/FLAC/AIFF/AU/CAF/W64 — :func:`decode_audio`),
    normalize to mono @ ``target_rate`` (:func:`normalize_audio`), and
    emit per-clip proof features — output sample count, exact checksum
    (sum), sum of squares, and peak — all integers. Arrow-batched
    mapInPandas with per-doc failure isolation (X2); map-only, samples
    never leave the stage."""

    def body(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        cols = ["doc_id", "n_samples", "sample_rate", "checksum", "sumsq",
                "peak"]
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    s, rate, ch = decode_audio(bytes(payload))
                    mono = normalize_audio(s, rate, ch, target_rate)
                    rows.append(
                        dict(
                            doc_id=doc_id,
                            n_samples=int(mono.size),
                            sample_rate=target_rate,
                            checksum=int(mono.sum()),
                            sumsq=int((mono * mono).sum()),
                            peak=int(np.abs(mono).max()) if mono.size else 0,
                        )
                    )
                except (NotImplementedError, ValueError):
                    rows.append({c: (doc_id if c == "doc_id" else None)
                                 for c in cols})
            yield pd.DataFrame(rows) if rows else pd.DataFrame(
                {c: pd.Series(dtype="object") for c in cols}
            )

    return media.mapInPandas(
        body,
        "doc_id string, n_samples long, sample_rate int, checksum long, "
        "sumsq long, peak long",
    )


def standardize_image(rgb, side: int):
    """Center-crop to square then nearest-resize to ``side``×``side`` —
    the canonical vision-encoder preprocessing shape. Exact: crop
    offsets are ``(dim − min_dim) DIV 2``; the resize is
    :func:`resize_nearest`'s index rule applied at fixed output dims
    (upscaling small images too, unlike the thumbnail cap)."""
    import numpy as np

    h, w, _ = rgb.shape
    m = min(h, w)
    y0, x0 = (h - m) // 2, (w - m) // 2
    sq = rgb[y0 : y0 + m, x0 : x0 + m]
    xs = (np.arange(side) * m) // side
    ys = (np.arange(side) * m) // side
    return sq[ys][:, xs]


def image_standardize_np(media: DataFrame, side: int = 224) -> DataFrame:
    """REAL vision-preprocessing operator: decode ANY supported image
    container, center-crop + nearest-resize to ``side``×``side``
    (:func:`standardize_image`), and emit proof features — output
    dims, full-pixel checksum, and the four corner pixels' red
    channels (orientation probes). Arrow-batched mapInPandas with
    per-doc isolation; map-only."""

    def body(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        cols = ["doc_id", "width", "height", "pixel_sum", "tl_r", "tr_r",
                "bl_r", "br_r"]
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    std = standardize_image(
                        decode_rgb_bytes(bytes(payload)), side
                    )
                    s64 = std.astype(np.int64)
                    rows.append(
                        dict(
                            doc_id=doc_id, width=side, height=side,
                            pixel_sum=int(s64.sum()),
                            tl_r=int(std[0, 0, 0]), tr_r=int(std[0, -1, 0]),
                            bl_r=int(std[-1, 0, 0]), br_r=int(std[-1, -1, 0]),
                        )
                    )
                except (NotImplementedError, ValueError):
                    rows.append({c: (doc_id if c == "doc_id" else None)
                                 for c in cols})
            yield pd.DataFrame(rows) if rows else pd.DataFrame(
                {c: pd.Series(dtype="object") for c in cols}
            )

    return media.mapInPandas(
        body,
        "doc_id string, width int, height int, pixel_sum long, tl_r int, "
        "tr_r int, bl_r int, br_r int",
    )
