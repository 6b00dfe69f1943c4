"""Multimodal plumbing: binary schema, header parse, stub gating."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from dstlr_spark.operators.multimodal import (
    extract_features,
    frame_sample,
    media_metadata,
    sniff_media_type,
    synth_media,
)


def _media(spark):
    docs = spark.createDataFrame(
        [("d1", "hello world", 11), ("d2", "x" * 600, 600)],
        "doc_id string, text string, n_chars long",
    )
    return synth_media(docs)


def test_header_parse_dims(spark):
    meta = {r["doc_id"]: r for r in media_metadata(_media(spark)).collect()}
    assert meta["d1"]["media_type"] == "image/png"
    assert meta["d1"]["width"] == 11 % 512 + 1
    assert meta["d1"]["height"] == (11 * 7) % 512 + 1
    assert meta["d1"]["n_bytes"] == 24 + 11
    assert meta["d2"]["width"] == 600 % 512 + 1


def test_native_sniff_matches_parser(spark):
    m = _media(spark)
    sniffed = m.select("doc_id", sniff_media_type(F.col("payload")).alias("t"))
    parsed = media_metadata(m).select("doc_id", F.col("media_type").alias("t"))
    assert sorted(map(tuple, sniffed.collect())) == sorted(map(tuple, parsed.collect()))


def test_decode_stub_gating(spark):
    """The plumbing payloads of synth_media (PNG magic + IHDR dims, no
    pixel data) are not decodable images: decode_image_np isolates
    each one as exactly one null row instead of failing the batch."""
    from dstlr_spark.operators.multimodal import decode_image_np

    rows = decode_image_np(_media(spark)).collect()
    assert sorted(r["doc_id"] for r in rows) == ["d1", "d2"]
    assert all(r["width"] is None and r["pixels"] is None for r in rows)


def test_feature_histogram(spark):
    """Byte-histogram features are real (no codec) and sum to n_bytes."""
    rows = {r["doc_id"]: r for r in extract_features(_media(spark)).collect()}
    for r in rows.values():
        assert len(r["features"]) == 16
        assert sum(r["features"]) == r["n_bytes"]


def test_resize_stub_gating(spark):
    """resize_image_np isolates undecodable payloads as null rows and
    fits every decodable thumbnail within max_side."""
    from dstlr_spark.operators.multimodal import (
        _planted_rgb,
        encode_bmp,
        resize_image_np,
    )

    media = _media(spark).unionByName(
        spark.createDataFrame(
            [("bmp", bytearray(encode_bmp(_planted_rgb(8, 5))))],
            "doc_id string, payload binary",
        )
    )
    rows = {r["doc_id"]: r for r in resize_image_np(media, max_side=4).collect()}
    assert rows["d1"]["width"] is None and rows["d2"]["pixels"] is None
    assert (rows["bmp"]["width"], rows["bmp"]["height"]) == (4, 2)


def test_frame_sample_stride(spark):
    rows = frame_sample(_media(spark), every_n_bytes=10).collect()
    d1 = sorted(
        (r["frame_idx"], r["byte_offset"]) for r in rows if r["doc_id"] == "d1"
    )
    assert d1 == [(0, 0), (1, 10), (2, 20), (3, 30)]  # 35 bytes → 4 frames


# --------------------------------------------------------------------------
# round 5: REAL pixel decode (pure-NumPy BMP/PPM) — no Spark needed
# --------------------------------------------------------------------------


def test_bmp_roundtrip_and_orientation():
    """encode_bmp → decode_rgb_bytes is the identity, including the
    bottom-up flip and BGR→RGB swap (an asymmetric image catches
    both), and rows pad to 4 bytes (w=3 → stride 12 ≠ 9)."""
    import numpy as np

    from dstlr_spark.operators.multimodal import decode_rgb_bytes, encode_bmp

    rng = np.random.default_rng(7)
    rgb = rng.integers(0, 256, size=(5, 3, 3), dtype=np.uint8)
    out = decode_rgb_bytes(encode_bmp(rgb))
    assert out.shape == (5, 3, 3) and (out == rgb).all()


def test_bmp_topdown_negative_height():
    """A top-down BMP (negative height) decodes without the flip."""
    import struct

    import numpy as np

    from dstlr_spark.operators.multimodal import decode_rgb_bytes, encode_bmp

    rgb = np.arange(2 * 2 * 3, dtype=np.uint8).reshape(2, 2, 3)
    b = bytearray(encode_bmp(rgb[::-1]))  # flip rows, then mark top-down
    b[22:26] = struct.pack("<i", -2)
    assert (decode_rgb_bytes(bytes(b)) == rgb[::-1][::-1]).all()


def _bmp_container(w, h, bpp, pixel_rows, palette=None, n_used=0):
    """Hand-rolled BITMAPINFOHEADER BMP: pixel_rows is the raw
    bottom-up row bytes (already padded to 4); palette is a list of
    (r, g, b) written as BGRX entries."""
    import struct

    pal = b"".join(bytes([b_, g, r, 0]) for r, g, b_ in (palette or []))
    off = 14 + 40 + len(pal)
    data = b"".join(pixel_rows)
    hdr = b"BM" + struct.pack("<IHHI", off + len(data), 0, 0, off)
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, bpp, 0, len(data), 0, 0, n_used, 0
    )
    return hdr + info + pal + data


def test_bmp_depths_32_16_paletted():
    """Every uncompressed BI_RGB depth decodes: 32 bpp (BGRX, pad byte
    ignored), 16 bpp (X1R5G5B5 with the (v<<3)|(v>>2) channel
    expansion), 8/4/1 bpp through the BGRX palette (4-byte row pad
    exercised throughout); out-of-table indices raise ValueError."""
    import struct

    import numpy as np
    import pytest

    from dstlr_spark.operators.multimodal import decode_rgb_bytes

    # 32 bpp, 1x2 bottom-up: bottom row first in the file
    rows = [bytes([10, 20, 30, 99]) , bytes([1, 2, 3, 0])]
    out = decode_rgb_bytes(_bmp_container(1, 2, 32, [rows[1], rows[0]]))
    assert (out == np.array([[[30, 20, 10]], [[3, 2, 1]]], np.uint8)).all()
    # 16 bpp: R=31 G=0 B=7 → bytes LE of (31<<10)|(7)
    v = (31 << 10) | 7
    row = struct.pack("<H", v) + b"\x00\x00"  # w=1 → pad to 4
    out = decode_rgb_bytes(_bmp_container(1, 1, 16, [row]))
    assert (out[0, 0] == [255, 0, (7 << 3) | (7 >> 2)]).all()
    # 8 bpp paletted, w=3 (stride pads 3 → 4)
    palette = [(255, 0, 0), (0, 255, 0), (0, 0, 255)]
    out = decode_rgb_bytes(
        _bmp_container(3, 1, 8, [bytes([2, 0, 1, 0])], palette)
    )
    assert (out == np.array([[[0, 0, 255], [255, 0, 0], [0, 255, 0]]])).all()
    # 4 bpp: indices 2,0,1 packed as nibbles 0x20 0x10
    out = decode_rgb_bytes(
        _bmp_container(3, 1, 4, [bytes([0x20, 0x10, 0, 0])], palette)
    )
    assert (out == np.array([[[0, 0, 255], [255, 0, 0], [0, 255, 0]]])).all()
    # 1 bpp: bits 1,0,1 → 0b10100000
    pal2 = [(9, 9, 9), (200, 100, 50)]
    out = decode_rgb_bytes(
        _bmp_container(3, 1, 1, [bytes([0b10100000, 0, 0, 0])], pal2)
    )
    assert (out == np.array([[[200, 100, 50], [9, 9, 9], [200, 100, 50]]])).all()
    # palette index beyond biClrUsed-limited table
    with pytest.raises(ValueError):
        decode_rgb_bytes(
            _bmp_container(1, 1, 8, [bytes([2, 0, 0, 0])], pal2, n_used=2)
        )
    # a BI_JPEG tag whose pixel area is NOT a JPEG stream is malformed
    # (ValueError, isolatable), not a stub — embedded codecs decode
    with pytest.raises(ValueError):
        bad = bytearray(_bmp_container(1, 1, 8, [bytes(4)], pal2))
        bad[30:34] = struct.pack("<I", 4)  # BI_JPEG
        decode_rgb_bytes(bytes(bad))
    # an unknown compression tag stays a loud stub
    with pytest.raises(NotImplementedError):
        bad = bytearray(_bmp_container(1, 1, 8, [bytes(4)], pal2))
        bad[30:34] = struct.pack("<I", 6)  # BI_ALPHABITFIELDS (CE only)
        decode_rgb_bytes(bytes(bad))


def test_bmp_embedded_jpeg_png():
    """BI_JPEG/BI_PNG decode natively by delegating to the package's
    own JPEG/PNG codecs: the pixel-data area carries one complete
    embedded stream (biBitCount 0, biSizeImage = stream length), and
    the header dims must agree with what the stream decodes. Planted
    round-trips are exact for BI_PNG (truecolor + 16-bit) and BI_JPEG
    (SOF3 lossless); trailing bytes after biSizeImage are ignored;
    magic/tag mismatch, dim disagreement, top-down height, and a
    truncated embedded stream all raise ValueError."""
    import struct

    import numpy as np
    import pytest

    from dstlr_spark.operators.jpeg import encode_jpeg_lossless
    from dstlr_spark.operators.multimodal import (
        _planted_rgb,
        decode_rgb_bytes,
        encode_bmp_embedded,
        encode_png,
    )

    rgb = _planted_rgb(6, 4)
    png = encode_png(rgb)
    jpg = encode_jpeg_lossless(rgb, predictor=4)
    assert (decode_rgb_bytes(encode_bmp_embedded(png, 6, 4, 5)) == rgb).all()
    assert (decode_rgb_bytes(encode_bmp_embedded(jpg, 6, 4, 4)) == rgb).all()
    # 16-bit embedded PNG keeps the uint16 contract through the wrapper
    png16 = encode_png(rgb.astype(np.uint16))
    out = decode_rgb_bytes(encode_bmp_embedded(png16, 6, 4, 5))
    assert out.dtype == np.uint16 and (out == rgb).all()
    # trailing junk after biSizeImage is outside the stream → ignored
    assert (
        decode_rgb_bytes(encode_bmp_embedded(png, 6, 4, 5) + b"\xab" * 9)
        == rgb
    ).all()
    # PNG stream under the BI_JPEG tag (and vice versa) is malformed
    with pytest.raises(ValueError):
        decode_rgb_bytes(encode_bmp_embedded(png, 6, 4, 4))
    with pytest.raises(ValueError):
        decode_rgb_bytes(encode_bmp_embedded(jpg, 6, 4, 5))
    # header dims must match the embedded stream
    with pytest.raises(ValueError):
        decode_rgb_bytes(encode_bmp_embedded(png, 4, 6, 5))
    # top-down DIBs are only legal under BI_RGB/BI_BITFIELDS
    bad = bytearray(encode_bmp_embedded(png, 6, 4, 5))
    bad[22:26] = struct.pack("<i", -4)
    with pytest.raises(ValueError):
        decode_rgb_bytes(bytes(bad))
    # a truncated embedded stream dies as ValueError, not a codec crash
    with pytest.raises(ValueError):
        decode_rgb_bytes(encode_bmp_embedded(png[: len(png) // 2], 6, 4, 5))
    with pytest.raises(ValueError):
        decode_rgb_bytes(encode_bmp_embedded(jpg[: len(jpg) // 2], 6, 4, 4))


def test_bmp_rle_and_bitfields():
    """BI_RLE8/BI_RLE4 and BI_BITFIELDS decode natively: fixture
    round-trips exercise encoded runs, absolute mode, and row ends; a
    hand stream pins the 00-escapes (delta skip leaves index 0, early
    EOL zero-fills the row, EOB ends the image); 565/8888/weird masks
    all extract with bit-replication expansion; malformed streams
    (row overflow, truncation, top-down RLE, bitfields at 24 bpp)
    raise ValueError."""
    import struct

    import numpy as np
    import pytest

    from dstlr_spark.operators.multimodal import (
        _bmp_rle_decode,
        _planted_rgb,
        decode_rgb_bytes,
        encode_bmp_bitfields,
        encode_bmp_rle,
    )

    rng = np.random.default_rng(7)
    idx = np.repeat(rng.integers(0, 12, (9, 7)), 5, axis=1).astype(
        np.uint8
    )[:, :31]
    idx[3] = rng.integers(0, 12, 31)  # heterogeneous → absolute mode
    pal = rng.integers(0, 256, (12, 3)).astype(np.uint8)
    assert (decode_rgb_bytes(encode_bmp_rle(idx, pal, bpp=8)) == pal[idx]).all()
    idx4 = (idx % 16).astype(np.uint8)
    assert (
        decode_rgb_bytes(encode_bmp_rle(idx4, pal, bpp=4)) == pal[idx4]
    ).all()

    # hand stream, 4x3 RLE8 in FILE order (row 0 = bottom): encoded
    # run of 2, delta skip (+1,+1), literal-free EOLs, absolute 3 on
    # the top row, EOB before the last row ends → zeros fill the rest
    stream = bytes(
        [2, 7]              # row0: idx 7,7
        + [0, 2, 1, 1]      # delta: skip to row1 x=3
        + [1, 5]            # row1: x=3 → 5
        + [0, 0]            # EOL → row2
        + [0, 3, 9, 8, 7, 0]  # absolute 3 (pad byte) on row2
        + [0, 1]            # EOB
    )
    got = _bmp_rle_decode(stream, 4, 3, 8)
    exp = np.array(
        [[7, 7, 0, 0], [0, 0, 0, 5], [9, 8, 7, 0]], np.uint8
    )
    assert (got == exp).all()
    with pytest.raises(ValueError):  # run overflows the row
        _bmp_rle_decode(bytes([200, 1, 0, 1]), 4, 3, 8)
    with pytest.raises(ValueError):  # absolute run truncated
        _bmp_rle_decode(bytes([0, 8, 1, 2]), 16, 3, 8)
    with pytest.raises(ValueError):  # no EOB
        _bmp_rle_decode(bytes([1, 1]), 4, 3, 8)
    # top-down RLE is malformed
    bad = bytearray(encode_bmp_rle(idx, pal, bpp=8))
    bad[22:26] = struct.pack("<i", -9)
    with pytest.raises(ValueError):
        decode_rgb_bytes(bytes(bad))

    rgb = _planted_rgb(13, 5)
    # 565: quantize-then-replicate, the X1R5G5B5 convention
    def q(x, wbits):
        y = (x >> (8 - wbits)).astype(np.uint32) << (8 - wbits)
        out, s = y.copy(), wbits
        while s < 8:
            out |= y >> s
            s += wbits
        return out.astype(np.uint8)

    got = decode_rgb_bytes(
        encode_bmp_bitfields(rgb, (0xF800, 0x07E0, 0x001F), bpp=16)
    )
    exp = np.stack(
        [q(rgb[:, :, 0], 5), q(rgb[:, :, 1], 6), q(rgb[:, :, 2], 5)], 2
    )
    assert (got == exp).all()
    # 32 bpp full-byte masks → lossless; 10-bit masks → lossless top-8
    for masks in (
        (0x00FF0000, 0x0000FF00, 0x000000FF),
        (0x3FF00000, 0x000FFC00, 0x000003FF),
    ):
        assert (
            decode_rgb_bytes(encode_bmp_bitfields(rgb, masks, bpp=32))
            == rgb
        ).all()
    # a zero mask yields a zero channel
    got = decode_rgb_bytes(
        encode_bmp_bitfields(rgb, (0xF800, 0, 0x001F), bpp=16)
    )
    assert (got[:, :, 1] == 0).all()
    # bitfields at 24 bpp is malformed
    bad = bytearray(encode_bmp_bitfields(rgb, (0xF800, 0x07E0, 0x1F)))
    bad[28:30] = struct.pack("<H", 24)
    with pytest.raises(ValueError):
        decode_rgb_bytes(bytes(bad))


def test_pgm_p5_gray_replicates():
    """Binary PGM (P5): gray samples replicate to RGB, 8- and exact
    16-bit, comments in the header honored."""
    import numpy as np

    from dstlr_spark.operators.multimodal import decode_rgb_bytes

    g = np.arange(6, dtype=np.uint8).reshape(2, 3)
    out = decode_rgb_bytes(b"P5 # c\n3 2 255\n" + g.tobytes())
    assert out.shape == (2, 3, 3) and (out == g[..., None]).all()
    g16 = np.array([[256, 65535]], np.uint16)
    out = decode_rgb_bytes(b"P5 2 1 65535\n" + g16.astype(">u2").tobytes())
    assert out.dtype == np.uint16 and (out == g16[..., None]).all()


def test_ppm_p6_with_comment():
    import numpy as np

    from dstlr_spark.operators.multimodal import decode_rgb_bytes

    rgb = np.arange(4 * 2 * 3, dtype=np.uint8).reshape(2, 4, 3)
    payload = b"P6\n# synthetic\n4 2\n255\n" + rgb.tobytes()
    assert (decode_rgb_bytes(payload) == rgb).all()


def test_unsupported_codecs_raise_not_implemented():
    import struct

    import pytest

    from dstlr_spark.operators.multimodal import decode_rgb_bytes

    # JPEG now routes to the real decoder (every SOF0-15 process in
    # its legal context): garbage after SOI is CORRUPT (ValueError);
    # a bare differential frame with no leading DHP — sequential
    # (SOF5) or progressive (SOF6) — is MALFORMED, not a stub
    with pytest.raises(ValueError):
        decode_rgb_bytes(b"\xff\xd8\xff" + b"\0" * 32)
    sof5 = (
        b"\xff\xd8\xff\xc5"
        + struct.pack(">H", 2 + 6 + 3)
        + struct.pack(">BHHB", 8, 8, 8, 1)
        + bytes([1, 0x11, 0])
    )
    with pytest.raises(ValueError):
        decode_rgb_bytes(sof5)
    with pytest.raises(ValueError):
        decode_rgb_bytes(sof5.replace(b"\xff\xc5", b"\xff\xc6"))
    # 8-bit paletted BMP decodes natively now — but a container whose
    # pixel offset leaves NO room for a palette is malformed; RLE8
    # decodes natively too (a zero-filled stream has no end-of-bitmap
    # → CORRUPT); an embedded codec (BI_JPEG) decodes natively —
    # a zero-filled pixel area fails its magic check (CORRUPT)
    hdr = (
        b"BM" + struct.pack("<IHHI", 100, 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 8, 0, 0, 0, 0, 0, 0)
    )
    with pytest.raises(ValueError):
        decode_rgb_bytes(hdr + b"\0" * 46)  # palette missing
    rle = (
        b"BM" + struct.pack("<IHHI", 100, 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 8, 1, 0, 0, 0, 0, 0)
    )
    with pytest.raises(ValueError):
        decode_rgb_bytes(rle + b"\0" * 46)
    bi_jpeg = (
        b"BM" + struct.pack("<IHHI", 100, 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 8, 4, 0, 0, 0, 0, 0)
    )
    with pytest.raises(ValueError):
        decode_rgb_bytes(bi_jpeg + b"\0" * 46)
    # PNG with garbage chunks is CORRUPT (the real parser runs), not a stub
    with pytest.raises(ValueError):
        decode_rgb_bytes(bytes.fromhex("89504E470D0A1A0A") + b"\0" * 32)


# --------------------------------------------------------------------------
# round 5 (late): REAL PNG decode — stdlib zlib + NumPy unfilter
# --------------------------------------------------------------------------


def test_png_roundtrip_every_filter():
    """encode_png → decode_rgb_bytes is the identity for each scanline
    filter 0..4 pinned corpus-wide AND for the default rotating choice,
    across widths that stress the left-neighbor lanes (w=1 has no left
    pixel; w=13 is odd; 64×33 crosses zlib block sizes)."""
    import numpy as np

    from dstlr_spark.operators.multimodal import decode_rgb_bytes, encode_png

    rng = np.random.default_rng(7)
    for w, h in [(1, 1), (2, 3), (13, 5), (64, 33)]:
        rgb = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        for filters in [None, *[[ft] * h for ft in range(5)]]:
            out = decode_rgb_bytes(encode_png(rgb, row_filters=filters))
            assert out.shape == rgb.shape and (out == rgb).all(), (w, h, filters)


def test_png_gray_and_rgba_decode():
    """Color type 0 expands gray → RGB; color type 6 drops alpha —
    both built by hand (chunk framing + CRC) so the decoder, not the
    encoder, is what's under test."""
    import struct
    import zlib

    import numpy as np

    from dstlr_spark.operators.multimodal import PNG_MAGIC, _png_chunk, decode_png

    rng = np.random.default_rng(3)

    g = rng.integers(0, 256, size=(4, 6), dtype=np.uint8)
    lines = b"".join(b"\x00" + g[y].tobytes() for y in range(4))
    png = (
        bytes.fromhex(PNG_MAGIC)
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 6, 4, 8, 0, 0, 0, 0))
        + _png_chunk(b"IDAT", zlib.compress(lines))
        + _png_chunk(b"IEND", b"")
    )
    out = decode_png(png)
    assert out.shape == (4, 6, 3)
    assert (out[..., 0] == g).all() and (out[..., 1] == g).all() and (
        out[..., 2] == g).all()

    a = rng.integers(0, 256, size=(3, 2, 4), dtype=np.uint8)
    lines = b"".join(b"\x00" + a[y].tobytes() for y in range(3))
    png = (
        bytes.fromhex(PNG_MAGIC)
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 3, 8, 6, 0, 0, 0))
        + _png_chunk(b"IDAT", zlib.compress(lines))
        + _png_chunk(b"IEND", b"")
    )
    assert (decode_png(png) == a[..., :3]).all()


def test_png_corrupt_and_unsupported():
    """Bad CRC / truncated stream → ValueError (isolatable corruption);
    sub-byte depths now DECODE (bit-packed scanlines — the hand-built
    2×2 depth-4 gray stream below pins the MSB-first unpack
    independently of the encoder). Plus a DECODER-ONLY Adam7 check: a
    2×2 interlaced stream built by hand (pass 1 → (0,0); pass 6 →
    (0,1); pass 7 → row 1), so the deinterlace grid is pinned
    independently of encode_png."""
    import struct
    import zlib

    import numpy as np
    import pytest

    from dstlr_spark.operators.multimodal import (
        PNG_MAGIC,
        _planted_rgb,
        _png_chunk,
        decode_png,
        encode_png,
    )

    good = encode_png(_planted_rgb(5, 4))
    bad = bytearray(good)
    bad[-5] ^= 0xFF  # flip a bit inside the IEND tag → CRC mismatch
    with pytest.raises(ValueError):
        decode_png(bytes(bad))
    with pytest.raises(ValueError):
        decode_png(good[: len(good) // 2])

    # hand-built 2×2 depth-4 gray: sub-byte depths raise the STUB
    # contract
    subbyte = (
        bytes.fromhex(PNG_MAGIC)
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 4, 0, 0, 0, 0))
        + _png_chunk(b"IDAT", zlib.compress(b"\x00\xab\x00\x3c"))
        + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(NotImplementedError, match="STUB"):
        decode_png(subbyte)
    # spec-INVALID depth/color combos are malformed headers (ValueError,
    # isolatable) — depth 4 truecolor and depth 2 gray+alpha don't exist
    for color, depth in ((2, 4), (4, 2), (6, 1), (3, 16)):
        bad_hdr = (
            bytes.fromhex(PNG_MAGIC)
            + _png_chunk(
                b"IHDR", struct.pack(">IIBBBBB", 2, 2, depth, color, 0, 0, 0)
            )
            + _png_chunk(b"IDAT", zlib.compress(b"\x00" * 4))
            + _png_chunk(b"IEND", b"")
        )
        with pytest.raises(ValueError):
            decode_png(bad_hdr)

    px = np.arange(12, dtype=np.uint8).reshape(2, 2, 3)
    stream = (
        b"\x00" + px[0, 0].tobytes()   # pass 1: (0,0)
        + b"\x00" + px[0, 1].tobytes()  # pass 6: (0,1)
        + b"\x00" + px[1].tobytes()     # pass 7: row 1
    )
    interlaced = (
        bytes.fromhex(PNG_MAGIC)
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 1))
        + _png_chunk(b"IDAT", zlib.compress(stream))
        + _png_chunk(b"IEND", b"")
    )
    assert (decode_png(interlaced) == px).all()
    # short one pass-7 byte → length mismatch, not a silent wrap
    with pytest.raises(ValueError):
        decode_png(
            bytes.fromhex(PNG_MAGIC)
            + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 1))
            + _png_chunk(b"IDAT", zlib.compress(stream[:-1]))
            + _png_chunk(b"IEND", b"")
        )


def test_png_subbyte_and_gray_alpha_roundtrip():
    """Gray+alpha (color 4, depths 8/16) hand-built streams decode with
    the alpha dropped straight; sub-byte (1/2/4-bit) gray and palette
    depths raise the STUB contract."""
    import struct
    import zlib

    from dstlr_spark.operators.multimodal import (
        PNG_MAGIC,
        _png_chunk,
        decode_png,
    )

    def png(w, h, depth, color, raw_rows):
        return (
            bytes.fromhex(PNG_MAGIC)
            + _png_chunk(
                b"IHDR", struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, 0)
            )
            + _png_chunk(
                b"IDAT", zlib.compress(b"".join(b"\x00" + r for r in raw_rows))
            )
            + _png_chunk(b"IEND", b"")
        )

    rng = np.random.default_rng(42)
    for depth, dt, be in ((8, np.uint8, "u1"), (16, np.uint16, ">u2")):
        g = rng.integers(0, 1 << depth, size=(5, 7)).astype(dt)
        a = rng.integers(0, 1 << depth, size=(5, 7)).astype(dt)
        ga = np.stack([g, a], axis=2).astype(be)
        out = decode_png(png(7, 5, depth, 4, [r.tobytes() for r in ga]))
        assert out.dtype == dt
        assert (out == np.repeat(g[..., None], 3, 2)).all()
    for depth in (1, 2, 4):
        for color in (0, 3):
            with pytest.raises(NotImplementedError, match="STUB"):
                decode_png(png(8, 1, depth, color, [bytes(depth)]))


def test_png_and_ppm_16bit_exact():
    """16-bit samples decode to EXACT uint16 values (never narrowed):
    truecolor PNG round-trips at depth 16 sequential + Adam7 (filter
    lookback widens to 6 bytes/pixel); gray-16 and RGBA-16 streams
    built by hand pin the decoder independently of the encoder; P6 PPM
    with maxval 65535 reads big-endian 2-byte samples; a 16-bit
    palette PNG (invalid per spec) raises ValueError; and the
    decode_image_np operator passes values > 255 through its
    array<int> contract untouched."""
    import struct
    import zlib

    import numpy as np
    import pytest

    from dstlr_spark.operators.multimodal import (
        PNG_MAGIC,
        _png_chunk,
        decode_png,
        decode_rgb_bytes,
        encode_png,
    )

    rng = np.random.default_rng(13)
    for h, w in [(1, 1), (3, 2), (7, 9), (33, 16)]:
        x16 = rng.integers(0, 65536, (h, w, 3)).astype(np.uint16)
        for il in (False, True):
            out = decode_png(encode_png(x16, interlace=il))
            assert out.dtype == np.uint16 and (out == x16).all(), (h, w, il)

    g = rng.integers(0, 65536, (3, 4)).astype(">u2")
    lines = b"".join(b"\x00" + g[y].tobytes() for y in range(3))
    png = (
        bytes.fromhex(PNG_MAGIC)
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 3, 16, 0, 0, 0, 0))
        + _png_chunk(b"IDAT", zlib.compress(lines))
        + _png_chunk(b"IEND", b"")
    )
    out = decode_png(png)
    assert out.dtype == np.uint16
    assert (out[..., 0] == g.astype(np.uint16)).all()
    assert (out[..., 1] == out[..., 0]).all() and (out[..., 2] == out[..., 0]).all()

    a = rng.integers(0, 65536, (2, 3, 4)).astype(">u2")
    lines = b"".join(b"\x00" + a[y].tobytes() for y in range(2))
    png = (
        bytes.fromhex(PNG_MAGIC)
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 2, 16, 6, 0, 0, 0))
        + _png_chunk(b"IDAT", zlib.compress(lines))
        + _png_chunk(b"IEND", b"")
    )
    assert (decode_png(png) == a.astype(np.uint16)[..., :3]).all()

    p = rng.integers(0, 65536, (5, 6, 3)).astype(np.uint16)
    out = decode_rgb_bytes(b"P6 6 5 65535\n" + p.astype(">u2").tobytes())
    assert out.dtype == np.uint16 and (out == p).all()

    with pytest.raises(ValueError):
        decode_png(
            bytes.fromhex(PNG_MAGIC)
            + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 16, 3, 0, 0, 0))
            + _png_chunk(b"IDAT", zlib.compress(b"\x00\x00\x00"))
            + _png_chunk(b"IEND", b"")
        )


def test_decode_image_np_16bit_passthrough(spark):
    from dstlr_spark.operators.multimodal import decode_image_np, encode_png
    import numpy as np

    x16 = (np.arange(12, dtype=np.uint16) * 5000 + 300).reshape(2, 2, 3)
    media = spark.createDataFrame(
        [("d", bytearray(encode_png(x16)))], "doc_id string, payload binary"
    )
    r = decode_image_np(media).collect()[0]
    assert (r.width, r.height) == (2, 2)
    assert r.pixels == x16.reshape(-1).tolist()
    assert max(r.pixels) > 255  # genuinely wide values survive array<int>


def test_wav_roundtrip_mono_and_stereo():
    """encode_wav → decode_wav is the identity for mono and
    interleaved stereo, preserving rate and channel count; an
    odd-length extra chunk before data exercises RIFF word-aligned
    skipping."""
    import struct

    import numpy as np

    from dstlr_spark.operators.multimodal import decode_wav, encode_wav

    rng = np.random.default_rng(5)
    mono = rng.integers(-32768, 32768, size=37, dtype=np.int16)
    s, rate, ch = decode_wav(encode_wav(mono, 8000))
    assert rate == 8000 and ch == 1 and (s == mono).all()

    stereo = rng.integers(-32768, 32768, size=24, dtype=np.int16)
    s, rate, ch = decode_wav(encode_wav(stereo, 44100, n_channels=2))
    assert rate == 44100 and ch == 2 and (s == stereo).all()

    # splice an odd-length LIST chunk between fmt and data: the walker
    # must skip its pad byte or the data chunk tag misaligns
    b = encode_wav(mono, 8000)
    i = b.index(b"data")
    spliced = b[:i] + b"LIST" + struct.pack("<I", 3) + b"odd\x00" + b[i:]
    s, rate, ch = decode_wav(spliced)
    assert (s == mono).all()


def test_wav_unsupported_and_corrupt():
    import struct

    import numpy as np
    import pytest

    from dstlr_spark.operators.multimodal import decode_wav, encode_wav

    good = bytearray(encode_wav(np.zeros(4, np.int16), 8000))
    fmt_off = good.index(b"fmt ") + 8
    bad = bytearray(good)
    bad[fmt_off : fmt_off + 2] = struct.pack("<H", 2)  # ADPCM: a real codec
    with pytest.raises(NotImplementedError):
        decode_wav(bytes(bad))
    bad = bytearray(good)
    bad[fmt_off : fmt_off + 2] = struct.pack("<H", 3)  # float at 16 bits
    with pytest.raises(NotImplementedError):
        decode_wav(bytes(bad))
    with pytest.raises(ValueError):
        decode_wav(b"RIFF\x00\x00\x00\x00WAVE")  # no fmt/data
    with pytest.raises(ValueError):
        decode_wav(bytes(good[: len(good) - 3]))  # truncated data chunk


def _riff_wav(fmt_tag, ch, rate, bits, data, ext_sub=None):
    """Hand-rolled RIFF/WAVE container for decode-surface tests
    (encode_wav only writes 16-bit PCM)."""
    import struct

    if ext_sub is None:
        fmt = struct.pack(
            "<HHIIHH", fmt_tag, ch, rate, rate * ch * bits // 8,
            ch * bits // 8, bits,
        )
    else:
        guid = (
            struct.pack("<H", ext_sub)
            + b"\x00\x00"
            + bytes.fromhex("000010008000" + "00aa00389b71")
        )
        fmt = struct.pack(
            "<HHIIHH", 0xFFFE, ch, rate, rate * ch * bits // 8,
            ch * bits // 8, bits,
        ) + struct.pack("<HHI", 22, bits, 0x3) + guid
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"\x00" if len(fmt) & 1 else b""
    chunks += b"data" + struct.pack("<I", len(data)) + data
    chunks += b"\x00" if len(data) & 1 else b""
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def test_wav_uncompressed_surface():
    """Every codec-free WAV form decodes: 8-bit offset-binary PCM
    (full-scale int16), 24-bit (sign-extended int32, alignment
    enforced), 32-bit int, IEEE float32/64, and extensible containers
    resolving their SubFormat GUID."""
    import numpy as np
    import pytest

    from dstlr_spark.operators.multimodal import decode_wav

    s, r, ch = decode_wav(
        _riff_wav(1, 1, 8000, 8, bytes([0, 128, 255, 1]))
    )
    assert (s == np.array([-32768, 0, 32512, -32512], np.int16)).all()
    vals = [0, 1, -1, 8388607, -8388608, 305419]
    raw = b"".join(int(v).to_bytes(3, "little", signed=True) for v in vals)
    s, r, ch = decode_wav(_riff_wav(1, 2, 44100, 24, raw))
    assert s.dtype == np.int32 and list(s) == vals and ch == 2
    with pytest.raises(ValueError):  # misaligned 24-bit data
        decode_wav(_riff_wav(1, 1, 8000, 24, b"\x00\x00"))
    v32 = np.array([0, 2**31 - 1, -(2**31), 7], "<i4")
    s, *_ = decode_wav(_riff_wav(1, 1, 48000, 32, v32.tobytes()))
    assert (s == v32).all()
    f32 = np.array([0.0, -1.5, 0.25], "<f4")
    s, *_ = decode_wav(_riff_wav(3, 1, 16000, 32, f32.tobytes()))
    assert s.dtype == np.float32 and (s == f32).all()
    f64 = np.array([1.0, -2.0], "<f8")
    s, *_ = decode_wav(_riff_wav(3, 1, 16000, 64, f64.tobytes()))
    assert s.dtype == np.float64 and (s == f64).all()
    v16 = np.array([5, -5, 1000], "<i2")
    s, r, ch = decode_wav(_riff_wav(None, 2, 22050, 16, v16.tobytes(), ext_sub=1))
    assert (s == v16).all() and ch == 2 and r == 22050
    s, *_ = decode_wav(_riff_wav(None, 1, 22050, 32, f32.tobytes(), ext_sub=3))
    assert s.dtype == np.float32


#: one tiny payload per decode mode that is no longer implemented,
#: generated once with the encoders that produced these modes before
#: their removal: JPEG SOF0 / SOF2 / SOF9 and a DCT hierarchy, WAV
#: format tags 2 (MS ADPCM), 0x11 (IMA ADPCM), 6 (A-law), 7 (µ-law),
#: AIFF-C and CAF ``ima4``, TIFF PackBits (32773), VP8L with a
#: predictor transform, and a two-frame animated GIF
_REMOVED_MODES = {
    "jpeg_sof0": ("image", bytes.fromhex(
        "ffd8ffdb00430001010101010101010101010101010101010101010101010101"
        "0101010101010101010101010101010101010101010101010101010101010101"
        "01010101010101ffc00011080002000203011100021100031100ffc4001f0000"
        "0000000000000c0000000000000000000102030405060708090a0bffc400b510"
        "00000000000000a200000000000000000102030405060708090a111213141516"
        "1718191a2122232425262728292a3132333435363738393a4142434445464748"
        "494a5152535455565758595a6162636465666768696a7172737475767778797a"
        "8182838485868788898a9192939495969798999aa1a2a3a4a5a6a7a8a9aab1b2"
        "b3b4b5b6b7b8b9bac1c2c3c4c5c6c7c8c9cad1d2d3d4d5d6d7d8d9dae1e2e3e4"
        "e5e6e7e8e9eaf1f2f3f4f5f6f7f8f9fa00f0ffda000c03010002000300003f00"
        "0a3d40981a81b0630262ee0407c014a9013334007ad00371400c7d07ffd9"
    )),
    "jpeg_sof2": ("image", bytes.fromhex(
        "ffd8ffdb00430001010101010101010101010101010101010101010101010101"
        "0101010101010101010101010101010101010101010101010101010101010101"
        "01010101010101ffc20011080002000203011100021100031100ffc4001f0000"
        "0000000000000c0000000000000000000102030405060708090a0bffc400b510"
        "00000000000000a200000000000000000102030405060708090a111213141516"
        "1718191a2122232425262728292a3132333435363738393a4142434445464748"
        "494a5152535455565758595a6162636465666768696a7172737475767778797a"
        "8182838485868788898a9192939495969798999aa1a2a3a4a5a6a7a8a9aab1b2"
        "b3b4b5b6b7b8b9bac1c2c3c4c5c6c7c8c9cad1d2d3d4d5d6d7d8d9dae1e2e3e4"
        "e5e6e7e8e9eaf1f2f3f4f5f6f7f8f9fa00f0ffda000c03010002000300000001"
        "093d02f014ff00ffda000c030100020003000000101fffda0008010100010501"
        "014090130b7fffda0008010100063f01014598083c0014a029911941ffda0008"
        "010100010510a02fffda0008010100063f108c1a503fffda0008010200010501"
        "a0ffda0008010200063f01a0ffda0008010200010510a0ffda0008010200063f"
        "10a0ffda0008010300010501a0ffda0008010300063f01a0ffda000801030001"
        "0510a0ffda0008010300063f10a0ffd9"
    )),
    "jpeg_sof9": ("image", bytes.fromhex(
        "ffd8ffdb00430001010101010101010101010101010101010101010101010101"
        "0101010101010101010101010101010101010101010101010101010101010101"
        "01010101010101ffc90011080002000203011100021100031100ffda000c0301"
        "0002000300003f00ff00f9e134657097a4d9a6cf2db4c58ba1833b6e628bc0ff"
        "d9"
    )),
    "jpeg_hier_dct": ("image", bytes.fromhex(
        "ffd8ffde0011080002000203011100021100031100ffdb004300010101010101"
        "0101010101010101010101010101010101010101010101010101010101010101"
        "0101010101010101010101010101010101010101010101010101ffc400230000"
        "000000000000100000000000000000000102030405060708090a0b0c0d0e0fff"
        "c400f51000000000000000e200000000000000000102030405060708090a0b0c"
        "0d0e1112131415161718191a1b1c1d1e2122232425262728292a2b2c2d2e3132"
        "333435363738393a3b3c3d3e4142434445464748494a4b4c4d4e515253545556"
        "5758595a5b5c5d5e6162636465666768696a6b6c6d6e7172737475767778797a"
        "7b7c7d7e8182838485868788898a8b8c8d8e9192939495969798999a9b9c9d9e"
        "a1a2a3a4a5a6a7a8a9aaabacadaeb1b2b3b4b5b6b7b8b9babbbcbdbec1c2c3c4"
        "c5c6c7c8c9cacbcccdced1d2d3d4d5d6d7d8d9dadbdcdddee1e2e3e4e5e6e7e8"
        "e9eaebecedeef1f2f3f4f5f6f7f8f9fafbfcfdfe00f0ffc00011080001000103"
        "011100021100031100ffda000c03010002000300003f000a2bf801b8e0063f83"
        "ffdf000311ffc50011080002000203011100021100031100ffda000c03010002"
        "000300003f00078c04c0d40d8418131f70205600a74809a3a005578003800383"
        "ffd9"
    )),
    "wav_ms_adpcm": ("audio", bytes.fromhex(
        "524946467a00000057415645666d74203200000002000100401f000077120000"
        "2700040020004200070000010000000200ff00000000c0004000f0000000cc01"
        "30ff880118ff6661637404000000080000006461746127000000002f00840300"
        "0087b0050000000000000000001e2f1f1f1f1f1f100000000000000000000000"
        "0000"
    )),
    "wav_ima_adpcm": ("audio", bytes.fromhex(
        "524946465400000057415645666d74201400000011000100401f00008b110000"
        "2000040002003900666163740400000008000000646174612000000000000000"
        "f7570e77858080808080808000088880008800880008080808888080"
    )),
    "wav_alaw": ("audio", bytes.fromhex(
        "524946462800000057415645666d74201000000006000100401f0000401f0000"
        "010008006461746104000000d5552aaa"
    )),
    "wav_ulaw": ("audio", bytes.fromhex(
        "524946462800000057415645666d74201000000007000100401f0000401f0000"
        "010008006461746104000000ff7f8000"
    )),
    "aifc_ima4": ("audio", bytes.fromhex(
        "464f524d00000062414946434656455200000004a2805140434f4d4d00000018"
        "0001000000080010400bfa00000000000000696d6134000053534e440000002a"
        "00000000000000000000707fe570570808080808080808808008088008800880"
        "80808080080808080808"
    )),
    "caf_ima4": ("audio", bytes.fromhex(
        "636166660001000064657363000000000000002040bf400000000000696d6134"
        "0000000000000022000000400000000100000000646174610000000000000026"
        "000000000000707fe5707b7f8a301b7c8a200a6a8a201b6a8a201b7b0a281a7b"
        "8a200a6a8a20"
    )),
    "tiff_packbits": ("image", bytes.fromhex(
        "49492a0008000000090000010300010000000200000001010300010000000200"
        "000002010300030000007a000000030103000100000005800000060103000100"
        "0000020000001101040002000000800000001501030001000000030000001601"
        "0300010000000100000017010400020000008800000000000000080008000800"
        "90000000970000000700000007000000050d1823101b2605141f2a17222d"
    )),
    "webp_predictor": ("image", bytes.fromhex(
        "5249464632000000574542505650384c260000002f0140000081882e44400041"
        "2a44040008a0008294850802288020c52202000020801115a0fe"
    )),
    "gif_two_frames": ("video", bytes.fromhex(
        "47494638396102000200f70000000000ffffff00000000000000000000000000"
        "0000000000000000000000000000000000000000000000000000000000000000"
        "0000000000000000000000000000000000000000000000000000000000000000"
        "0000000000000000000000000000000000000000000000000000000000000000"
        "0000000000000000000000000000000000000000000000000000000000000000"
        "0000000000000000000000000000000000000000000000000000000000000000"
        "0000000000000000000000000000000000000000000000000000000000000000"
        "0000000000000000000000000000000000000000000000000000000000000000"
        "0000000000000000000000000000000000000000000000000000000000000000"
        "0000000000000000000000000000000000000000000000000000000000000000"
        "0000000000000000000000000000000000000000000000000000000000000000"
        "0000000000000000000000000000000000000000000000000000000000000000"
        "0000000000000000000000000000000000000000000000000000000000000000"
        "0000000000000000000000000000000000000000000000000000000000000000"
        "0000000000000000000000000000000000000000000000000000000000000000"
        "0000000000000000000000000000000000000000000000000000000000000000"
        "0000000000000000000000000000000000000000000000000000000000000000"
        "0000000000000000000000000000000000000000000000000000000000000000"
        "0000000000000000000000000000000000000000000000000000000000000000"
        "0000000000000000000000000000000000000000000000000000000000000000"
        "0000000000000000000000000000000000000000000000000000000000000000"
        "0000000000000000000000000000000000000000000000000000000000000000"
        "0000000000000000000000000000000000000000000000000000000000000000"
        "0000000000000000000000000000000000000000000000000000000000000000"
        "0000000000000000000000000021f90400040000002c00000000020002000008"
        "060001080410100021f90400040000002c00000000020002000008060003080c"
        "1010003b"
    )),
}


def _removed_decoder(kind):
    from dstlr_spark.operators.multimodal import (
        decode_audio,
        decode_rgb_bytes,
        decode_video_luma,
    )

    return {"image": decode_rgb_bytes, "audio": decode_audio,
            "video": decode_video_luma}[kind]


@pytest.mark.parametrize("name", sorted(_REMOVED_MODES))
def test_removed_modes_raise_stub_contract(name):
    """Each removed mode raises the STUB contract — never a silent
    misdecode, never an exception the per-doc isolation misses."""
    kind, payload = _REMOVED_MODES[name]
    with pytest.raises(NotImplementedError, match="STUB"):
        _removed_decoder(kind)(payload)


def test_removed_modes_isolate_to_null_rows(spark):
    """The batch operators turn each removed mode into one
    null-dimension row and keep decoding the rest of the batch."""
    from dstlr_spark.operators.multimodal import (
        _planted_rgb,
        audio_features_np,
        decode_image_np,
        encode_bmp,
        encode_wav,
        encode_y4m,
        video_frame_features_np,
    )

    good = {
        "image": encode_bmp(_planted_rgb(3, 2)),
        "audio": encode_wav(np.arange(8, dtype=np.int16), 8000),
        "video": encode_y4m(np.zeros((2, 2, 2), np.uint8)),
    }
    ops = {"image": (decode_image_np, "width"),
           "audio": (audio_features_np, "sample_rate"),
           "video": (video_frame_features_np, "width")}
    for kind, (op, col) in ops.items():
        rows = [(n, bytearray(p)) for n, (k, p) in _REMOVED_MODES.items()
                if k == kind]
        rows.append(("good", bytearray(good[kind])))
        media = spark.createDataFrame(rows, "doc_id string, payload binary")
        out = {r["doc_id"]: r for r in op(media).collect()}
        assert set(out) == {n for n, _ in rows}, kind
        assert out.pop("good")[col] is not None, kind
        assert all(r[col] is None for r in out.values()), kind


def test_wav_g711_expansion():
    """G.711 A-law / µ-law WAV (tags 6/7) raise the STUB contract."""
    for name in ("wav_alaw", "wav_ulaw"):
        test_removed_modes_raise_stub_contract(name)


def test_wav_adpcm_matches_scalar_reference():
    """MS (tag 2) and IMA (tag 0x11) ADPCM WAV raise the STUB
    contract, EXTENSIBLE-wrapped included."""
    from dstlr_spark.operators.multimodal import decode_wav

    for name in ("wav_ms_adpcm", "wav_ima_adpcm"):
        test_removed_modes_raise_stub_contract(name)
    for tag in (2, 0x11):
        with pytest.raises(NotImplementedError, match="STUB"):
            decode_wav(_riff_wav(0xFFFE, 1, 8000, 4, bytes(8), ext_sub=tag))


def test_wav_adpcm_roundtrip_and_fact_trim():
    """A fact chunk is skipped like any unknown chunk: it neither trims
    PCM samples nor enables an ADPCM decode."""
    import struct

    from dstlr_spark.operators.multimodal import decode_wav, encode_wav

    s = np.arange(-4, 6, dtype=np.int16)
    wav = encode_wav(s, 8000)
    fact = b"fact" + struct.pack("<II", 4, 3)
    riff_size = struct.pack("<I", len(wav) - 8 + len(fact))
    with_fact = wav[:4] + riff_size + wav[8:36] + fact + wav[36:]
    got, rate, ch = decode_wav(with_fact)
    assert (rate, ch) == (8000, 1) and list(got) == list(s)
    with pytest.raises(NotImplementedError, match="STUB"):
        decode_wav(_riff_wav(0x11, 1, 8000, 4, bytes(8)))


def test_audio_features_match_samples(spark):
    """Feature operator values recomputed independently from the
    planted formula, plus null-row isolation for a non-PCM clip."""
    import numpy as np

    from dstlr_spark.operators.multimodal import (
        WAV_MOD,
        audio_features_np,
        synth_media_wav,
    )

    docs = spark.createDataFrame(
        [(str(i), "t", 10 + i) for i in range(6)],
        "doc_id string, text string, n_chars int",
    )
    media = synth_media_wav(docs)
    rows = {r.doc_id: r for r in audio_features_np(media).collect()}
    for i in range(6):
        n = 10 + i
        cnt, rate = n % 50 + 10, 8000 + (n % 2) * 8000
        v = (np.arange(cnt, dtype=np.int64) * 17 + n * 31) % WAV_MOD - 2048
        r = rows[str(i)]
        assert (r.n_samples, r.n_channels, r.sample_rate) == (cnt, 1, rate)
        assert r.duration_us == cnt * 1_000_000 // rate
        assert r.sumsq == int((v * v).sum())
        assert r.peak == int(np.abs(v).max())
        assert r.zero_crossings == int(((v[:-1] * v[1:]) < 0).sum())

    bad = spark.createDataFrame(
        [("x", bytearray(b"RIFF\x00\x00\x00\x00WAVE"))],
        "doc_id string, payload binary",
    )
    r = audio_features_np(bad).collect()[0]
    assert r.doc_id == "x" and r.n_samples is None and r.sumsq is None


def test_y4m_roundtrip_and_colorspaces():
    """encode_y4m → decode_y4m is the identity for mono and C444;
    a hand-built C420jpeg stream (quarter chroma, even dims) pins the
    chroma-skip arithmetic against the container spec."""
    import numpy as np

    from dstlr_spark.operators.multimodal import decode_y4m, encode_y4m

    rng = np.random.default_rng(9)
    fr = rng.integers(0, 256, size=(4, 3, 5), dtype=np.uint8)
    out, fps, cs = decode_y4m(encode_y4m(fr, fps=(30, 1)))
    assert (out == fr).all() and fps == (30, 1) and cs == "Cmono"
    out, _, cs = decode_y4m(encode_y4m(fr, colorspace="C444"))
    assert (out == fr).all() and cs == "C444"

    fr2 = rng.integers(0, 256, size=(2, 4, 6), dtype=np.uint8)
    raw = b"YUV4MPEG2 W6 H4 F25:1 Ip A1:1 C420jpeg\n" + b"".join(
        b"FRAME\n" + fr2[f].tobytes() + bytes(6) + bytes(6) for f in range(2)
    )
    out, _, cs = decode_y4m(raw)
    assert (out == fr2).all() and cs == "C420jpeg"


def test_y4m_corrupt_and_unsupported():
    import numpy as np
    import pytest

    from dstlr_spark.operators.multimodal import decode_y4m, encode_y4m

    good = encode_y4m(np.zeros((2, 2, 2), np.uint8))
    with pytest.raises(ValueError):
        decode_y4m(good[:-3])  # truncated frame payload
    with pytest.raises(ValueError):
        decode_y4m(b"AVI1 nope")
    with pytest.raises(NotImplementedError):  # mixed-mode interlace
        decode_y4m(b"YUV4MPEG2 W2 H2 F25:1 Im A1:1 Cmono\nFRAME\n" + bytes(4))
    with pytest.raises(ValueError):  # interlaced with odd height
        decode_y4m(b"YUV4MPEG2 W2 H3 F25:1 It A1:1 Cmono\nFRAME\n" + bytes(6))
    with pytest.raises(ValueError):  # C420 with odd width
        decode_y4m(b"YUV4MPEG2 W3 H2 F25:1 Ip C420\n")


def test_y4m_interlaced_field_split():
    """It/Ib streams split each stored frame into two half-height
    fields in temporal order (top = even lines per yuv4mpeg(5)); the
    returned fps doubles to the field rate; field pixels are exactly
    the woven frame's alternating lines."""
    import numpy as np

    from dstlr_spark.operators.multimodal import decode_y4m, encode_y4m

    fr = np.arange(2 * 4 * 3, dtype=np.uint8).reshape(2, 4, 3)
    for tag, first, second in (("It", 0, 1), ("Ib", 1, 0)):
        out, fps, cs = decode_y4m(
            encode_y4m(fr, fps=(25, 1), interlace=tag)
        )
        assert out.shape == (4, 2, 3) and fps == (50, 1)
        for f in range(2):
            assert (out[2 * f] == fr[f, first::2]).all(), tag
            assert (out[2 * f + 1] == fr[f, second::2]).all(), tag
    # C444 interlaced: chroma skip offsets unchanged (full stored frame)
    out, fps, _ = decode_y4m(
        encode_y4m(fr, colorspace="C444", interlace="Ib")
    )
    assert out.shape == (4, 2, 3) and fps == (50, 1)


def test_y4m_422_411_chroma_sizes():
    """C422/C411 streams: luma decodes identically; chroma planes are
    length-validated at half/quarter horizontal resolution (handcraft
    the containers — encode_y4m only writes Cmono/C444)."""
    import numpy as np

    from dstlr_spark.operators.multimodal import decode_y4m

    h, w = 2, 4
    y = np.arange(h * w, dtype=np.uint8).reshape(h, w)
    for cs, cw in (("C422", w // 2), ("C411", w // 4)):
        head = f"YUV4MPEG2 W{w} H{h} F25:1 Ip A1:1 {cs}\n".encode()
        frame = b"FRAME\n" + y.tobytes() + bytes(2 * cw * h)
        out, fps, got = decode_y4m(head + 2 * frame)
        assert got == cs and out.shape == (2, h, w)
        assert (out[0] == y).all() and (out[1] == y).all()
        # truncated chroma must not silently pass
        import pytest

        with pytest.raises(ValueError):
            decode_y4m(head + b"FRAME\n" + y.tobytes() + bytes(2 * cw * h - 1))
    import pytest

    with pytest.raises(ValueError):  # odd width under C422
        decode_y4m(b"YUV4MPEG2 W3 H2 F25:1 Ip C422\n")
    with pytest.raises(NotImplementedError):  # unknown colorspace tag
        decode_y4m(b"YUV4MPEG2 W4 H2 F25:1 Ip C420p11\n")


def test_y4m_wide_samples():
    """Wide-sample colorspaces decode to exact uint16: every chroma
    geometry (Cmono/C444/C422/C420) at 10 and 12 bits round-trips
    bit-exact through the fixture encoder; a sample beyond the tag's
    bit depth and a truncated wide frame raise ValueError."""
    import numpy as np
    import pytest

    from dstlr_spark.operators.multimodal import decode_y4m, encode_y4m

    rng = np.random.default_rng(19)
    for cs, depth in (
        ("Cmono10", 10),
        ("Cmono12", 12),
        ("C444p10", 10),
        ("C422p12", 12),
        ("C420p10", 10),
    ):
        fr = rng.integers(0, 1 << depth, (3, 4, 6)).astype(np.uint16)
        out, fps, got = decode_y4m(encode_y4m(fr, colorspace=cs))
        assert got == cs and out.dtype == np.uint16
        assert out.shape == (3, 4, 6) and (out == fr).all()
    # interlaced wide streams keep the field split + doubled rate
    out, fps, _ = decode_y4m(
        encode_y4m(fr, fps=(30, 1), colorspace="C420p10", interlace="It")
    )
    assert out.shape == (6, 2, 6) and fps == (60, 1)
    assert (out[0] == fr[0, 0::2]).all() and (out[1] == fr[0, 1::2]).all()
    # a sample beyond the tag's range is malformed
    hot = fr.copy()
    hot[0, 0, 0] = 1 << 12
    with pytest.raises(ValueError):
        decode_y4m(encode_y4m(hot, colorspace="C420p10"))
    good = encode_y4m(fr, colorspace="C444p10")
    with pytest.raises(ValueError):  # truncated wide payload
        decode_y4m(good[:-1])


def test_video_frame_features_sample_and_isolate(spark):
    """Every 2nd frame of the planted clip appears with its exact luma
    stats (recomputed independently); an undecodable payload degrades
    to one null row."""
    import numpy as np

    from dstlr_spark.operators.multimodal import (
        Y4M_MOD,
        synth_media_y4m,
        video_frame_features_np,
    )

    docs = spark.createDataFrame(
        [(str(i), "t", 20 + i) for i in range(5)],
        "doc_id string, text string, n_chars int",
    )
    rows = [
        r for r in video_frame_features_np(synth_media_y4m(docs)).collect()
    ]
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for i in range(5):
        n = 20 + i
        w, h, nf = n % 6 + 2, (n * 5) % 6 + 2, n % 6 + 2
        got = sorted(by_doc[str(i)], key=lambda r: r.frame_idx)
        assert [r.frame_idx for r in got] == list(range(0, nf, 2))
        for r in got:
            fs, ys, xs = np.mgrid[r.frame_idx : r.frame_idx + 1, 0:h, 0:w]
            y = (5 * xs + 3 * ys + 7 * fs + 11) % Y4M_MOD
            assert (r.width, r.height) == (w, h)
            assert r.y_sum == int(y.sum())
            assert r.y_min == int(y.min()) and r.y_max == int(y.max())

    bad = spark.createDataFrame(
        [("x", bytearray(b"YUV4MPEG2 W2 H2\nFRAME\n"))],
        "doc_id string, payload binary",
    )
    r = video_frame_features_np(bad).collect()
    assert len(r) == 1 and r[0].frame_idx is None and r[0].y_sum is None


def test_synth_media_mixed_decodes_to_planted(spark):
    """The twenty-two-variant gate corpus: every doc decodes to the
    planted array regardless of codec ((n_chars DIV 7) MOD 22 → BMP /
    PNG / GIF / Adam7 PNG / paletted PNG / interlaced GIF / 16-bit
    PNG / lossless JPEG / lossless-arithmetic JPEG / hierarchical
    JPEG / RLE8 BMP / bitfields BMP / BI_PNG BMP / BI_JPEG BMP /
    LZW-predictor TIFF / big-endian TIFF / JPEG-in-TIFF / RLE TGA /
    PCX / QOI / VP8L WebP / ICO), through
    the same Spark operator the driver gate runs. n_chars = 7·v +
    (v MOD 7) hits exactly variant v with v-dependent dims, so the
    22-doc corpus covers every encoder, and all the container
    magics appear."""
    from dstlr_spark.operators.multimodal import (
        PNG_MAGIC,
        _planted_rgb,
        decode_image_np,
        synth_media_mixed,
    )

    chars = {v: 7 * v + v % 7 for v in range(22)}
    docs = spark.createDataFrame(
        [(str(v), "t" * n, n) for v, n in chars.items()],
        "doc_id string, text string, n_chars int",
    )
    media = synth_media_mixed(docs).localCheckpoint()
    magics = {bytes(r.payload)[:6] for r in media.collect()}
    assert b"BM" in {m[:2] for m in magics}
    assert bytes.fromhex(PNG_MAGIC)[:6] in magics
    assert b"GIF89a" in magics
    assert b"\xff\xd8" in {m[:2] for m in magics}  # JPEG SOI
    assert {b"II*\x00", b"MM\x00*"} <= {m[:4] for m in magics}  # TIFF
    assert b"qoif" in {m[:4] for m in magics}  # QOI
    assert 0x0A in {m[0] for m in magics}  # PCX manufacturer byte
    assert any(m[:4] == b"RIFF" for m in magics)  # WebP VP8L
    rows = {r.doc_id: r for r in decode_image_np(media).collect()}
    assert len(rows) == 22
    for v, n in chars.items():
        assert (n // 7) % 22 == v  # the corpus really covers variant v
        planted = _planted_rgb(n % 7 + 2, (n * 3) % 7 + 2)
        r = rows[str(v)]
        assert (r.height, r.width) == planted.shape[:2]
        assert r.pixels == planted.reshape(-1).tolist()


def test_resize_nearest_matches_index_math():
    """Thumb pixel (X, Y) must sample source ((X·w) DIV tw, (Y·h) DIV th)
    — the exact rule the DuckDB oracle re-derives — and small images
    pass through untouched."""
    import numpy as np

    from dstlr_spark.operators.multimodal import resize_nearest

    rng = np.random.default_rng(11)
    rgb = rng.integers(0, 256, size=(6, 8, 3), dtype=np.uint8)
    th = resize_nearest(rgb, 4)
    assert th.shape == (3, 4, 3)
    for y in range(3):
        for x in range(4):
            assert (th[y, x] == rgb[(y * 6) // 3, (x * 8) // 4]).all()
    assert (resize_nearest(rgb, 8) == rgb).all()


def test_decode_image_np_isolates_bad_payloads(spark):
    """One decodable BMP + one compressed payload in a batch: the bad
    row degrades to null dims (X2 failure isolation), the good row
    decodes fully."""
    import numpy as np

    from dstlr_spark.operators.multimodal import decode_image_np, encode_bmp

    good = encode_bmp(np.zeros((2, 2, 3), dtype=np.uint8))
    bad = bytes.fromhex("89504E470D0A1A0A") + b"\0" * 16
    media = spark.createDataFrame(
        [("g", bytearray(good)), ("b", bytearray(bad))],
        "doc_id string, payload binary",
    )
    rows = {r.doc_id: r for r in decode_image_np(media).collect()}
    assert rows["g"].width == 2 and rows["g"].pixels == [0] * 12
    assert rows["b"].width is None and rows["b"].pixels is None


def test_decode_features_np_matches_materialized_decode(spark):
    """decode_image_np agrees value-for-value with the in-process
    decode_rgb_bytes it wraps — dims, checksum, first/last samples —
    plus the null-row failure isolation."""
    import numpy as np

    from dstlr_spark.operators.multimodal import (
        _planted_rgb,
        decode_image_np,
        decode_rgb_bytes,
        encode_bmp,
    )

    imgs = {f"d{i}": _planted_rgb(3 + i, 2 + 2 * i) for i in range(4)}
    rows = [(k, bytearray(encode_bmp(v))) for k, v in imgs.items()]
    rows.append(("bad", bytearray(b"\x89PNG\r\n\x1a\n" + b"\0" * 16)))
    media = spark.createDataFrame(rows, "doc_id string, payload binary")

    full = {r.doc_id: r for r in decode_image_np(media).collect()}
    for k, rgb in imgs.items():
        m = full[k]
        local = decode_rgb_bytes(encode_bmp(rgb))
        assert (m.width, m.height) == (rgb.shape[1], rgb.shape[0])
        assert m.pixels == local.reshape(-1).tolist()
        assert sum(m.pixels) == int(rgb.sum(dtype=np.int64))
    assert full["bad"].width is None and full["bad"].pixels is None


# --------------------------------------------------------------------------
# round 5 (late): property fuzz — codec round-trips hold for ARBITRARY
# content, not just the planted formulas (no Spark, pure codec layer)
# --------------------------------------------------------------------------

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@settings(max_examples=25, deadline=None)
@given(
    w=st.integers(1, 24),
    h=st.integers(1, 16),
    seed=st.integers(0, 2**31),
    data=st.data(),
)
def test_fuzz_png_roundtrip(w, h, seed, data):
    import numpy as np

    from dstlr_spark.operators.multimodal import (
        decode_rgb_bytes,
        encode_png,
        encode_png_pal,
    )

    rng = np.random.default_rng(seed)
    rgb = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    filters = data.draw(
        st.lists(st.integers(0, 4), min_size=h, max_size=h), label="filters"
    )
    interlace = data.draw(st.booleans(), label="interlace")
    out = decode_rgb_bytes(
        encode_png(rgb, row_filters=filters, interlace=interlace)
    )
    assert out.shape == rgb.shape and (out == rgb).all()
    # depth-16 twin through the same filter/interlace draw
    rgb16 = rng.integers(0, 65536, (h, w, 3)).astype(np.uint16)
    out = decode_rgb_bytes(
        encode_png(rgb16, row_filters=filters, interlace=interlace)
    )
    assert out.dtype == np.uint16 and (out == rgb16).all()
    # paletted twin (color type 3) through the same filter/interlace draw
    idx = rng.integers(0, 256, (h, w), dtype=np.uint8)
    pal = rng.integers(0, 256, (256, 3), dtype=np.uint8)
    out = decode_rgb_bytes(
        encode_png_pal(idx, pal, row_filters=filters, interlace=interlace)
    )
    assert (out == pal[idx]).all()


@settings(max_examples=25, deadline=None)
@given(
    n=st.integers(0, 500),
    rate=st.sampled_from([8000, 16000, 22050, 44100]),
    stereo=st.booleans(),
    seed=st.integers(0, 2**31),
)
def test_fuzz_wav_roundtrip(n, rate, stereo, seed):
    import numpy as np

    from dstlr_spark.operators.multimodal import decode_wav, encode_wav

    ch = 2 if stereo else 1
    s = np.random.default_rng(seed).integers(
        -32768, 32768, size=n * ch, dtype=np.int16
    )
    out, got_rate, got_ch = decode_wav(encode_wav(s, rate, n_channels=ch))
    assert got_rate == rate and got_ch == ch and (out == s).all()


@settings(max_examples=25, deadline=None)
@given(
    w=st.integers(1, 16),
    h=st.integers(1, 12),
    nf=st.integers(0, 6),
    c444=st.booleans(),
    seed=st.integers(0, 2**31),
)
def test_fuzz_y4m_roundtrip(w, h, nf, c444, seed):
    import numpy as np

    from dstlr_spark.operators.multimodal import decode_y4m, encode_y4m

    fr = np.random.default_rng(seed).integers(0, 256, (nf, h, w), dtype=np.uint8)
    cs = "C444" if c444 else "Cmono"
    out, fps, got_cs = decode_y4m(encode_y4m(fr, colorspace=cs))
    assert got_cs == cs and fps == (25, 1)
    assert out.shape == (nf, h, w) and (out == fr).all()


# --------------------------------------------------------------------------
# round 5 (late): REAL GIF decode — pure-Python variable-width LZW
# --------------------------------------------------------------------------


def test_gif_roundtrip_and_palette():
    """encode_gif → decode_rgb_bytes maps every index through the
    palette; 100×50 random indices force LZW width growth through
    9→12 bits and a 4096-entry table reset."""
    import numpy as np

    from dstlr_spark.operators.multimodal import decode_rgb_bytes, encode_gif

    rng = np.random.default_rng(2)
    for w, h in [(1, 1), (5, 3), (40, 40), (100, 50)]:
        idx = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
        pal = rng.integers(0, 256, size=(256, 3), dtype=np.uint8)
        out = decode_rgb_bytes(encode_gif(idx, pal))
        assert out.shape == (h, w, 3) and (out == pal[idx]).all(), (w, h)


def test_gif_skips_extension_blocks():
    """A graphic-control extension spliced before the image descriptor
    (the shape every animated/transparent GIF has) is walked over."""
    import numpy as np

    from dstlr_spark.operators.multimodal import decode_gif, encode_gif

    idx = np.arange(6, dtype=np.uint8).reshape(2, 3)
    pal = np.arange(256 * 3, dtype=np.uint16).reshape(256, 3) % 256
    g = encode_gif(idx, pal.astype(np.uint8))
    desc = 13 + 256 * 3  # header + logical screen descriptor + GCT
    assert g[desc : desc + 1] == b","
    gce = b"\x21\xf9\x04\x00\x00\x00\x00\x00"  # GCE + 4-byte block + term
    spliced = g[:desc] + gce + g[desc:]
    assert (decode_gif(spliced) == pal.astype(np.uint8)[idx]).all()


def test_gif_corrupt_and_interlaced():
    """Corruption → ValueError; interlace: a genuine interlaced encode
    round-trips, and DECODER-ONLY, flipping the interlace flag on a
    sequential 4-row stream must reorder rows by the inverse of the
    4-pass emission order (0,2,1,3 for h=4) — pinning the grid
    independently of the encoder."""
    import numpy as np
    import pytest

    from dstlr_spark.operators.multimodal import decode_gif, encode_gif

    g = encode_gif(np.zeros((2, 2), np.uint8), np.zeros((256, 3), np.uint8))
    with pytest.raises(ValueError):
        decode_gif(g[:-8])  # truncated LZW stream
    with pytest.raises(ValueError):
        decode_gif(b"NOTGIF")

    rng = np.random.default_rng(9)
    idx = rng.integers(0, 256, (11, 7), dtype=np.uint8)
    pal = rng.integers(0, 256, (256, 3), dtype=np.uint8)
    assert (decode_gif(encode_gif(idx, pal, interlace=True)) == pal[idx]).all()

    # regression pin (hypothesis-found): 17×15 of 148 colors, rng(0) —
    # the LZW code-width boundary (table 511 = 2^9−1) lands exactly on
    # the FINAL data code, where the decoder appends+widens but the
    # pre-fix encoder emitted EOI one bit narrower
    rng = np.random.default_rng(0)
    idx = rng.integers(0, 148, size=(17, 15), dtype=np.uint8)
    pal = rng.integers(0, 256, size=(256, 3), dtype=np.uint8)
    assert (decode_gif(encode_gif(idx, pal, interlace=True)) == pal[idx]).all()

    seq = np.arange(16, dtype=np.uint8).reshape(4, 4)
    b = bytearray(encode_gif(seq, pal))
    b[13 + 256 * 3 + 9] |= 0x40  # claim interlace on a sequential stream
    got = decode_gif(bytes(b))
    # stored rows are treated as emission order 0,2,1,3 → inverse map
    assert (got == pal[seq[[0, 2, 1, 3]]]).all()


def test_decoder_exception_contract_under_corruption():
    """100 TB isolation contract: every decoder raises ONLY ValueError
    or NotImplementedError on malformed input — never struct.error /
    IndexError / zlib.error — because the per-doc isolation wrappers
    catch exactly those two, and anything else kills the whole Arrow
    batch. Exercised by truncating each valid stream at EVERY byte
    offset and by seeded random mutations + magic-prefixed garbage.
    (Found for real: BMP struct.error on short headers, GIF IndexError
    at the LZW code-size byte.)"""
    import random

    import numpy as np

    from dstlr_spark.operators.multimodal import (
        _planted_rgb,
        decode_rgb_bytes,
        decode_wav,
        decode_y4m,
        encode_bmp,
        encode_gif,
        encode_png,
        encode_png_pal,
        encode_wav,
        encode_y4m,
        palettize_rgb,
    )

    rng = random.Random(1)
    nprng = np.random.default_rng(1)
    rgb = _planted_rgb(9, 7)
    idx, pal = palettize_rgb(rgb)
    streams = {
        "bmp": (decode_rgb_bytes, encode_bmp(rgb)),
        "png": (decode_rgb_bytes, encode_png(rgb)),
        "png_a7": (decode_rgb_bytes, encode_png(rgb, interlace=True)),
        "png_pal": (decode_rgb_bytes, encode_png_pal(idx, pal)),
        "png16": (decode_rgb_bytes, encode_png(rgb.astype(np.uint16))),
        "gif": (decode_rgb_bytes, encode_gif(idx, pal)),
        "gif_il": (decode_rgb_bytes, encode_gif(idx, pal, interlace=True)),
        "ppm": (decode_rgb_bytes, b"P6 9 7 255\n" + rgb.tobytes()),
        "wav": (decode_wav,
                encode_wav(nprng.integers(-99, 99, 64).astype(np.int16), 8000)),
        "y4m": (decode_y4m,
                encode_y4m(nprng.integers(0, 255, (2, 4, 4)).astype(np.uint8))),
    }
    # the JPEG family rides the same contract (Huffman and QM coder
    # lossless walks, the hierarchical marker walk)
    from dstlr_spark.operators.jpeg import encode_jpeg_lossless
    from dstlr_spark.operators.jpeg_arith import encode_jpeg_lossless_arith
    from dstlr_spark.operators.jpeg_hier import encode_jpeg_hier

    streams.update({
        "jpg_ls": (decode_rgb_bytes, encode_jpeg_lossless(rgb)),
        "jpg_ls16": (decode_rgb_bytes,
                     encode_jpeg_lossless(rgb.astype(np.uint16), predictor=7)),
        "jpg_lsa": (decode_rgb_bytes, encode_jpeg_lossless_arith(rgb)),
        "jpg_hier": (decode_rgb_bytes, encode_jpeg_hier(rgb, levels=2)),
        "jpg_hier3": (decode_rgb_bytes,
                      encode_jpeg_hier(rgb[..., 0], levels=3, predictor=1)),
        # new BMP depths and interlaced / C422 Y4M
        "bmp8": (decode_rgb_bytes, _bmp_container(
            3, 2, 8, [bytes([0, 1, 2, 0]), bytes([2, 1, 0, 0])],
            [(9, 9, 9), (1, 2, 3), (200, 100, 50)])),
        "bmp16": (decode_rgb_bytes, _bmp_container(
            2, 2, 16, [bytes([0x07, 0x7C]) * 2, bytes([0xE0, 0x03]) * 2])),
        "wav8": (decode_wav, _riff_wav(1, 1, 8000, 8, bytes(range(64)))),
        "y4m_it": (decode_y4m, encode_y4m(
            nprng.integers(0, 255, (2, 4, 4)).astype(np.uint8),
            interlace="It")),
        "y4m_422": (decode_y4m,
                    b"YUV4MPEG2 W4 H2 F25:1 Ip A1:1 C422\n"
                    + 2 * (b"FRAME\n" + bytes(4 * 2 + 2 * 2 * 2))),
    })
    # embedded-codec BMP wrappers (BI_PNG / BI_JPEG) ride the contract
    # too: corruption may land in the BMP header, the size field, or
    # anywhere inside the delegated stream
    from dstlr_spark.operators.multimodal import encode_bmp_embedded

    streams.update({
        "bmp_epng": (decode_rgb_bytes,
                     encode_bmp_embedded(encode_png(rgb), 9, 7, 5)),
        "bmp_ejpg": (decode_rgb_bytes,
                     encode_bmp_embedded(
                         encode_jpeg_lossless(rgb), 9, 7, 4)),
    })
    # FLAC rides the audio dispatch (tests/test_flac.py fuzzes the
    # codec interior; this pins the decode_audio routing layer)
    from dstlr_spark.operators.flac import encode_flac
    from dstlr_spark.operators.multimodal import decode_audio

    streams.update({
        "flac": (decode_audio, encode_flac(
            nprng.integers(-2000, 2000, 96), 8000, subframe="fixed2",
            blocksize=64)),
    })
    # TIFF rides the image dispatch (tests/test_tiff.py fuzzes the
    # codec interior; this pins the decode_rgb_bytes routing layer)
    from dstlr_spark.operators.tiff import encode_tiff

    streams.update({
        "tiff_lzw": (decode_rgb_bytes, encode_tiff(
            rgb, compression=5, predictor=2, rows_per_strip=3)),
        "tiff_mm": (decode_rgb_bytes, encode_tiff(rgb, byte_order=">")),
    })

    def check(dec, payload, ctx):
        try:
            dec(payload)
        except (ValueError, NotImplementedError):
            pass
        except Exception as e:  # noqa: BLE001 — the point of the test
            raise AssertionError(
                f"{ctx}: {type(e).__name__} escaped the contract: {e}"
            ) from e

    for name, (dec, b) in streams.items():
        for cut in range(len(b)):
            check(dec, b[:cut], f"{name} trunc@{cut}")
        for i in range(200):
            m = bytearray(b)
            for _ in range(rng.randint(1, 4)):
                m[rng.randrange(len(m))] = rng.randrange(256)
            check(dec, bytes(m), f"{name} mut#{i}")
        for i in range(100):
            g = b[:8] + bytes(rng.randrange(256) for _ in range(rng.randint(0, 120)))
            check(dec, g, f"{name} garbage#{i}")


@settings(max_examples=25, deadline=None)
@given(
    w=st.integers(1, 30),
    h=st.integers(1, 20),
    n_colors=st.integers(1, 256),
    seed=st.integers(0, 2**31),
)
def test_fuzz_gif_roundtrip(w, h, n_colors, seed):
    import numpy as np

    from dstlr_spark.operators.multimodal import decode_gif, encode_gif

    rng = np.random.default_rng(seed)
    idx = rng.integers(0, n_colors, size=(h, w), dtype=np.uint8)
    pal = rng.integers(0, 256, size=(256, 3), dtype=np.uint8)
    assert (decode_gif(encode_gif(idx, pal)) == pal[idx]).all()
    assert (decode_gif(encode_gif(idx, pal, interlace=True)) == pal[idx]).all()


def test_zero_dimension_headers_raise_value_error():
    """Structurally valid headers carrying zero/invalid dimensions or a
    zero sample rate are MALFORMED, not decodable: a 'successful'
    (h, 0, 3) or rate=0 decode pushes IndexError / ZeroDivisionError
    into the feature reducers, escaping the (NotImplementedError,
    ValueError) per-doc isolation and killing the whole Arrow batch."""
    import struct
    import zlib

    import numpy as np
    import pytest

    from dstlr_spark.operators.multimodal import (
        PNG_MAGIC,
        _png_chunk,
        decode_png,
        decode_rgb_bytes,
        decode_wav,
        encode_bmp,
        encode_wav,
    )

    # BMP: patch biWidth = 0 (54-byte header alone reproduces the crash)
    bmp = bytearray(encode_bmp(np.zeros((2, 2, 3), np.uint8)))
    bmp[18:22] = struct.pack("<i", 0)
    with pytest.raises(ValueError):
        decode_rgb_bytes(bytes(bmp))
    bmp[18:22] = struct.pack("<i", -3)  # negative width is also invalid
    with pytest.raises(ValueError):
        decode_rgb_bytes(bytes(bmp))

    # PPM: zero width
    with pytest.raises(ValueError):
        decode_rgb_bytes(b"P6 0 7 255\n")

    # PNG: zero width; and filter method != 0 (spec defines only 0)
    def png_with_ihdr(w, h, filt):
        ihdr = _png_chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, filt, 0))
        idat = _png_chunk(b"IDAT", zlib.compress(b"\x00" * (1 + 3 * max(w, 1) * max(h, 1))))
        return bytes.fromhex(PNG_MAGIC) + ihdr + idat + _png_chunk(b"IEND", b"")

    with pytest.raises(ValueError):
        decode_png(png_with_ihdr(0, 3, 0))
    with pytest.raises(ValueError):
        decode_png(png_with_ihdr(2, 2, 1))

    # GIF: image descriptor with width 0
    gif = (
        b"GIF89a" + struct.pack("<HHBBB", 2, 2, 0x80, 0, 0) + bytes(6)  # 2-entry GCT
        + b"\x2c" + struct.pack("<HHHHB", 0, 0, 0, 1, 0) + bytes(4)
    )
    with pytest.raises(ValueError):
        decode_rgb_bytes(gif)

    # WAV: fmt chunk with rate = 0 / channels = 0
    wav = bytearray(encode_wav(np.zeros(4, np.int16), 8000))
    assert wav[12:16] == b"fmt "
    wav[24:28] = struct.pack("<I", 0)
    with pytest.raises(ValueError):
        decode_wav(bytes(wav))
    wav[24:28] = struct.pack("<I", 8000)
    wav[22:24] = struct.pack("<H", 0)
    with pytest.raises(ValueError):
        decode_wav(bytes(wav))


def test_feature_wrappers_isolate_zero_dim_and_empty_payloads(spark):
    """The review-found batch killers route to null-feature rows: a
    zero-width BMP through decode_image_np, a rate-0 WAV through
    audio_features_np, and a header-only (zero-frame) Y4M through
    video_frame_features_np each yield exactly ONE null row — the doc
    neither kills its Arrow batch nor silently vanishes."""
    import struct

    import numpy as np

    from dstlr_spark.operators.multimodal import (
        audio_features_np,
        decode_image_np,
        encode_bmp,
        encode_wav,
        video_frame_features_np,
    )

    bmp = bytearray(encode_bmp(np.zeros((2, 2, 3), np.uint8)))
    bmp[18:22] = struct.pack("<i", 0)
    img = spark.createDataFrame(
        [("z", bytes(bmp))], "doc_id string, payload binary"
    )
    rows = decode_image_np(img).collect()
    assert len(rows) == 1 and rows[0].width is None

    wav = bytearray(encode_wav(np.zeros(4, np.int16), 8000))
    wav[24:28] = struct.pack("<I", 0)
    aud = spark.createDataFrame(
        [("z", bytes(wav))], "doc_id string, payload binary"
    )
    arows = audio_features_np(aud).collect()
    assert len(arows) == 1 and arows[0].sample_rate is None

    vid = spark.createDataFrame(
        [("z", b"YUV4MPEG2 W2 H2 F25:1 Ip Cmono\n")],
        "doc_id string, payload binary",
    )
    vrows = video_frame_features_np(vid).collect()
    assert len(vrows) == 1 and vrows[0].frame_idx is None


def test_sniff_covers_every_native_decode_format(spark):
    """sniff_media_type names every format the native decoders support
    — BMP/PPM/Y4M must not fall into the octet-stream bucket while
    decode_rgb_bytes / decode_y4m decode them natively."""
    import numpy as np

    from dstlr_spark.operators.multimodal import (
        encode_bmp,
        encode_y4m,
        sniff_media_type,
    )

    from dstlr_spark.operators.aiff import encode_aiff, encode_au
    from dstlr_spark.operators.avi import encode_avi
    from dstlr_spark.operators.caf import encode_caf, encode_rf64, encode_w64
    from dstlr_spark.operators.flac import encode_flac
    from dstlr_spark.operators.ico import encode_ico
    from dstlr_spark.operators.multimodal import encode_wav
    from dstlr_spark.operators.pcx import encode_pcx
    from dstlr_spark.operators.qoi import encode_qoi
    from dstlr_spark.operators.tiff import encode_tiff
    from dstlr_spark.operators.webp import encode_webp

    rgb = np.zeros((2, 2, 3), np.uint8)
    s = np.zeros(16, np.int16)
    fr = np.zeros((1, 2, 2, 3), np.uint8)
    rows = spark.createDataFrame(
        [
            ("bmp", bytes(encode_bmp(rgb))),
            ("ppm", b"P6 2 2 255\n" + rgb.tobytes()),
            ("pgm", b"P5 2 2 255\n" + rgb[..., 0].tobytes()),
            ("y4m", bytes(encode_y4m(np.zeros((1, 2, 2), np.uint8)))),
            ("tiff", bytes(encode_tiff(rgb))),
            ("qoi", bytes(encode_qoi(rgb))),
            ("pcx", bytes(encode_pcx(rgb=rgb))),
            ("ico", bytes(encode_ico(rgb))),
            ("webp", bytes(encode_webp(rgb))),
            ("wav", bytes(encode_wav(s, 8000))),
            ("rf64", bytes(encode_rf64(s, 8000))),
            ("flac", bytes(encode_flac(s, 8000))),
            ("aiff", bytes(encode_aiff(s, 8000))),
            ("au", bytes(encode_au(s, 8000))),
            ("caf", bytes(encode_caf(s, 8000))),
            ("w64", bytes(encode_w64(s, 8000))),
            ("avi", bytes(encode_avi(fr))),
            ("other", b"\x00\x01\x02\x03\x04\x05\x06\x07\x08\x09"),
        ],
        "doc_id string, payload binary",
    )
    got = {
        r.doc_id: r.t
        for r in rows.select(
            "doc_id", sniff_media_type(F.col("payload")).alias("t")
        ).collect()
    }
    assert got == {
        "bmp": "image/bmp",
        "ppm": "image/x-portable-pixmap",
        "pgm": "image/x-portable-pixmap",
        "y4m": "video/x-yuv4mpeg",
        "tiff": "image/tiff",
        "qoi": "image/qoi",
        "pcx": "image/x-pcx",
        "ico": "image/x-icon",
        "webp": "image/webp",
        "wav": "audio/wav",
        "rf64": "audio/wav",
        "flac": "audio/flac",
        "aiff": "audio/aiff",
        "au": "audio/basic",
        "caf": "audio/x-caf",
        "w64": "audio/wav",
        "avi": "video/x-msvideo",
        "other": "application/octet-stream",
    }


def test_phash_invariant_across_codecs_and_matches_spec(spark):
    """The same planted image encoded as BMP, sequential PNG, Adam7
    PNG, and GIF lands ONE identical aHash (different payload bytes —
    the cross-codec match exact md5 dedup misses), the hash equals an
    independent pure-Python recompute of the spec, and an undecodable
    payload rides the null-hash row instead of killing the batch."""
    import numpy as np

    from dstlr_spark.operators.multimodal import (
        PHASH_SIDE,
        _planted_rgb,
        encode_bmp,
        encode_gif,
        encode_png,
        palettize_rgb,
        phash_np,
    )

    from dstlr_spark.operators.jpeg import encode_jpeg_lossless

    rgb = _planted_rgb(7, 5)
    idx, pal = palettize_rgb(rgb)
    payloads = [
        ("bmp", bytes(encode_bmp(rgb))),
        ("png", bytes(encode_png(rgb))),
        ("png_a7", bytes(encode_png(rgb, interlace=True))),
        ("gif", bytes(encode_gif(idx, pal))),
        ("jls", bytes(encode_jpeg_lossless(rgb, predictor=7))),
        ("junk", b"\x00\x01\x02"),
    ]
    assert len({p for _, p in payloads}) == 6  # genuinely different bytes
    media = spark.createDataFrame(payloads, "doc_id string, payload binary")
    got = {r.doc_id: r.phash for r in phash_np(media).collect()}

    # independent recompute of the spec from the planted array
    side = PHASH_SIDE
    h, w = rgb.shape[:2]
    gray = [
        [sum(int(rgb[(ty * h) // side, (tx * w) // side, c]) for c in range(3)) // 3
         for tx in range(side)]
        for ty in range(side)
    ]
    mu = sum(sum(row) for row in gray) // (side * side)
    expect = sum(
        1 << (ty * side + tx)
        for ty in range(side)
        for tx in range(side)
        if gray[ty][tx] > mu
    )
    assert (
        got["bmp"] == got["png"] == got["png_a7"] == got["gif"]
        == got["jls"] == expect
    )
    assert got["junk"] is None


def test_audio_vad_segments_on_hand_clip(spark):
    """VAD spec pin: a hand clip with known voice/silence layout yields
    exactly the expected (start_frame, n_frames, energy) segments; a
    stereo clip de-interleaves and VADs on total cross-channel energy
    with frame boundaries in per-channel positions; an all-silent clip
    and a channel-misaligned clip ride the null-segment row."""
    import numpy as np

    from dstlr_spark.operators.multimodal import audio_vad_np, encode_wav

    # 50 samples, frame=10: frames 0-4. Voice in samples 0-9 (value 2)
    # and 25-34 (value 3): frame 0 voiced (E=40); frame 2 covers 20-29
    # → 5 samples of 3 (E=45); frame 3 covers 30-39 → 5 samples of 3
    # (E=45); frames 1 and 4 silent → segments [0,1) and [2,4).
    s = np.zeros(50, np.int16)
    s[0:10] = 2
    s[25:35] = 3
    # stereo: L voiced in instants 0-9 (value 1), R in 20-29 (value 3)
    # → 30 per-channel instants = 3 frames: E = 10·1², silence, 10·3²
    st = np.zeros((30, 2), np.int16)
    st[0:10, 0] = 1
    st[20:30, 1] = 3
    # ch=2 but 5 samples: not channel-aligned → malformed → null row
    misaligned = encode_wav(np.ones(6, np.int16), 8000, n_channels=2)
    misaligned = misaligned[:-2] + b""  # drop one int16 sample
    misaligned = bytearray(misaligned)
    import struct as _st

    dat = misaligned.index(b"data")
    misaligned[dat + 4 : dat + 8] = _st.pack(
        "<I", _st.unpack("<I", misaligned[dat + 4 : dat + 8])[0] - 2
    )
    media = spark.createDataFrame(
        [
            ("clip", encode_wav(s, 8000)),
            ("silent", encode_wav(np.zeros(30, np.int16), 8000)),
            ("stereo", encode_wav(st.reshape(-1), 8000, n_channels=2)),
            ("misaligned", bytes(misaligned)),
        ],
        "doc_id string, payload binary",
    )
    rows = audio_vad_np(media).collect()
    segs = sorted(
        [(r.seg_idx, r.start_frame, r.n_frames, r.energy)
         for r in rows if r.doc_id == "clip"]
    )
    assert segs == [(0, 0, 1, 40), (1, 2, 2, 90)]
    segs = sorted(
        [(r.seg_idx, r.start_frame, r.n_frames, r.energy)
         for r in rows if r.doc_id == "stereo"]
    )
    assert segs == [(0, 0, 1, 10), (1, 2, 1, 90)]
    for d in ("silent", "misaligned"):
        null_rows = [r for r in rows if r.doc_id == d]
        assert len(null_rows) == 1 and null_rows[0].seg_idx is None


def test_video_shots_on_hand_clip(spark):
    """Shot-detection spec pin: a hand clip whose luma is constant for
    frames 0-2, jumps for 3-4, and jumps again for 5 yields exactly
    three shots with the right extents and exact luma sums; a
    header-only clip rides the null-shot row."""
    import numpy as np

    from dstlr_spark.operators.multimodal import encode_y4m, video_shots_np

    fr = np.zeros((6, 2, 2), np.uint8)
    fr[0:3] = 10
    fr[3:5] = 40
    fr[5:] = 90
    media = spark.createDataFrame(
        [
            ("clip", encode_y4m(fr)),
            ("empty", b"YUV4MPEG2 W2 H2 F25:1 Ip Cmono\n"),
        ],
        "doc_id string, payload binary",
    )
    rows = video_shots_np(media).collect()
    shots = sorted(
        (r.shot_idx, r.start_frame, r.n_frames, r.y_sum)
        for r in rows
        if r.doc_id == "clip"
    )
    assert shots == [(0, 0, 3, 120), (1, 3, 2, 320), (2, 5, 1, 360)]
    nulls = [r for r in rows if r.doc_id == "empty"]
    assert len(nulls) == 1 and nulls[0].shot_idx is None


def test_bmp_core_header_decodes():
    """OS/2 BITMAPCOREHEADER (12-byte header, uint16 dims, 3-byte BGR
    palette entries, always bottom-up BI_RGB) decodes natively at
    paletted and 24-bit depths; core-header 16 bpp and unknown header
    sizes are malformed (ValueError)."""
    import struct

    import numpy as np
    import pytest

    from dstlr_spark.operators.multimodal import decode_rgb_bytes

    pal = [(10, 20, 30), (200, 100, 50), (0, 255, 0)]
    pal_bytes = b"".join(bytes((bb, g, r)) for r, g, bb in pal)
    rows = [bytes([2, 0, 1, 0]), bytes([1, 1, 2, 0])]  # bottom-up, pad 4
    off = 14 + 12 + len(pal_bytes)
    hdr = (
        b"BM" + struct.pack("<IHHI", off + 8, 0, 0, off)
        + struct.pack("<IHHHH", 12, 3, 2, 1, 8)
    )
    img = decode_rgb_bytes(hdr + pal_bytes + b"".join(rows))
    exp = np.array(
        [[pal[1], pal[1], pal[2]], [pal[2], pal[0], pal[1]]], np.uint8
    )
    assert (img == exp).all()

    off = 14 + 12
    hdr = (
        b"BM" + struct.pack("<IHHI", off + 8, 0, 0, off)
        + struct.pack("<IHHHH", 12, 2, 1, 1, 24)
    )
    img = decode_rgb_bytes(hdr + bytes([1, 2, 3, 4, 5, 6, 0, 0]))
    assert (img == np.array([[[3, 2, 1], [6, 5, 4]]], np.uint8)).all()

    hdr = (
        b"BM" + struct.pack("<IHHI", 40, 0, 0, 26)
        + struct.pack("<IHHHH", 12, 1, 1, 1, 16)
    )
    with pytest.raises(ValueError):
        decode_rgb_bytes(hdr + bytes(8))
    hdr = (
        b"BM" + struct.pack("<IHHI", 60, 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 20, 1, 1, 1, 8, 0, 0, 0, 0, 0, 0)
    )
    with pytest.raises(ValueError):
        decode_rgb_bytes(hdr + bytes(8))


def test_gif_animation_compositing():
    """decode_gif returns an animated GIF's first frame at its own
    dims; the video path (decode_video_luma) raises the STUB
    contract instead of compositing frames."""
    from dstlr_spark.operators.multimodal import decode_gif

    _kind, payload = _REMOVED_MODES["gif_two_frames"]
    first = decode_gif(payload)
    assert first.shape == (2, 2, 3) and not first.any()
    test_removed_modes_raise_stub_contract("gif_two_frames")


def test_wav_adpcm_review_regressions():
    """ADPCM streams with a malformed block geometry still raise the
    STUB contract (the format tag decides before any block walk)."""
    from dstlr_spark.operators.multimodal import decode_wav

    for tag in (2, 0x11):
        for data in (b"", bytes(3), bytes(300)):
            with pytest.raises(NotImplementedError, match="STUB"):
                decode_wav(_riff_wav(tag, 2, 8000, 4, data))


def test_video_operators_accept_animated_gif(spark):
    """Animated GIFs are isolated by both video operators: one null
    row each, the batch survives."""
    from dstlr_spark.operators.multimodal import (
        video_frame_features_np,
        video_shots_np,
    )

    _kind, payload = _REMOVED_MODES["gif_two_frames"]
    media = spark.createDataFrame(
        [("gif", bytearray(payload))], "doc_id string, payload binary"
    )
    (row,) = video_frame_features_np(media).collect()
    assert row["frame_idx"] is None
    rows = video_shots_np(media).collect()
    assert len(rows) == 1 and rows[0]["n_frames"] is None
