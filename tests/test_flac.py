"""FLAC codec: exact round-trips over every decode path, spec pins,
and the malformed-input contract (SURVEY §2.12 multimodal family —
the lossless-audio sibling of the lossless-JPEG gate story)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from dstlr_spark.operators.flac import (
    _crc8,
    _crc16,
    decode_flac,
    encode_flac,
)


def _planted(n, seed=3, lo=-2048, hi=2048):
    return np.random.default_rng(seed).integers(lo, hi, n).astype(np.int64)


def test_roundtrip_every_subframe_type():
    """Constant, verbatim, all five fixed orders, and quantized LPC
    restore the planted samples bit-for-bit across frame boundaries
    (blocksize 128 over 777 samples → 7 frames incl. a short tail)."""
    s = _planted(777)
    for sub in ["verbatim", "fixed0", "fixed1", "fixed2", "fixed3",
                "fixed4", "lpc"]:
        out, rate, ch = decode_flac(encode_flac(s, 8000, subframe=sub,
                                                blocksize=128))
        assert rate == 8000 and ch == 1 and (out == s).all(), sub
    c = np.full(100, -7)
    out, _, _ = decode_flac(encode_flac(c, 16000, subframe="constant"))
    assert (out == c).all()


def test_roundtrip_stereo_decorrelation_modes():
    """Independent, left/side, right/side, and mid/side channel
    assignments all reconstruct exactly — including the mid/side
    floor-division + parity-bit reconstruction on odd sums and
    negative samples (the mode real encoders pick most)."""
    st_ = _planted(600, seed=5, lo=-2000, hi=2000).reshape(300, 2)
    st_[0] = (3, 0)
    st_[1] = (-3, 0)  # odd-sum + negative floor-shift corners
    for m in ["indep", "ls", "rs", "ms"]:
        out, rate, ch = decode_flac(
            encode_flac(st_.reshape(-1), 44100, n_channels=2,
                        subframe="fixed2", stereo_mode=m, blocksize=100)
        )
        assert ch == 2 and (out.reshape(-1, 2) == st_).all(), m


def test_roundtrip_partitions_escape_wasted_bits():
    """Rice partition orders and the raw-bits escape partitions decode
    exactly; wasted-bits subframes raise the STUB contract."""
    s = _planted(512)
    for po in (0, 1, 2, 4):
        b = encode_flac(s, 8000, subframe="fixed2", blocksize=256,
                        partition_order=po)
        assert (decode_flac(b)[0] == s).all(), po
    b = encode_flac(s, 8000, subframe="fixed1", blocksize=256, escape=True)
    assert (decode_flac(b)[0] == s).all()
    # a wasted-bits flag in any subframe header raises the STUB
    # contract: set it in the first subframe (byte-aligned right after
    # the frame header's CRC-8; the frame follows fLaC + STREAMINFO)
    for sub in ("fixed2", "verbatim", "lpc"):
        b = bytearray(encode_flac(s[:256], 8000, subframe=sub))
        k = next(k for k in range(4, 16) if _crc8(bytes(b[42 : 42 + k])) == b[42 + k])
        assert b[42 + k + 1] & 1 == 0
        b[42 + k + 1] |= 1
        with pytest.raises(NotImplementedError, match="STUB"):
            decode_flac(bytes(b))


def test_bit_depths_and_rates():
    """8/12/16/20/24-bit sample sizes round-trip at their full signed
    range edges; the 16-bit frame-trailer blocksize and STREAMINFO
    sample-rate plumbing carry odd rates exactly."""
    for bps in (8, 12, 16, 20, 24):
        lo, hi = -(1 << (bps - 1)), (1 << (bps - 1)) - 1
        s = _planted(300, seed=bps, lo=lo, hi=hi + 1)
        s[0], s[1] = lo, hi
        out, rate, _ = decode_flac(
            encode_flac(s, 11025, bps=bps, subframe="fixed2")
        )
        assert rate == 11025 and (out == s).all(), bps


def test_crc_tables_match_spec_vectors():
    """CRC-8 (poly 0x07) and CRC-16 (poly 0x8005), init 0, against
    independently computed reference values."""

    def crc8_ref(data):
        c = 0
        for x in data:
            c ^= x
            for _ in range(8):
                c = ((c << 1) ^ 0x07) & 0xFF if c & 0x80 else (c << 1) & 0xFF
        return c

    def crc16_ref(data):
        c = 0
        for x in data:
            c ^= x << 8
            for _ in range(8):
                c = (
                    ((c << 1) ^ 0x8005) & 0xFFFF
                    if c & 0x8000
                    else (c << 1) & 0xFFFF
                )
        return c

    for v in (b"", b"\x00", b"123456789", bytes(range(100))):
        assert _crc8(v) == crc8_ref(v)
        assert _crc16(v) == crc16_ref(v)


def test_malformed_streams_raise_value_error():
    """Magic, metadata, STREAMINFO, CRC, and structural violations all
    raise ValueError (the Arrow per-doc isolation contract)."""
    s = _planted(64)
    good = encode_flac(s, 8000, subframe="fixed2")
    with pytest.raises(ValueError):
        decode_flac(b"NOTFLAC!")
    with pytest.raises(ValueError):
        decode_flac(b"fLaC")  # no metadata at all
    with pytest.raises(ValueError):
        decode_flac(good[:20])  # truncated STREAMINFO
    # corrupt one audio byte → a CRC (or structural) failure, never a
    # silent wrong decode
    bad = bytearray(good)
    bad[-3] ^= 0x40
    with pytest.raises(ValueError):
        decode_flac(bytes(bad))
    # STREAMINFO total-samples disagreement is loud
    bad = bytearray(good)
    # total-samples lives in the low 36 bits of STREAMINFO[10:18]
    bad[25] ^= 0x01
    with pytest.raises(ValueError):
        decode_flac(bytes(bad))
    # rate 0 ("unknown") would divide-by-zero every duration reducer
    zr = bytearray(good)
    zr[18] = zr[19] = 0
    zr[20] &= 0x0F  # 20-bit rate field → 0
    with pytest.raises(ValueError):
        decode_flac(bytes(zr))


def test_corruption_contract_truncation_and_mutation():
    """The multimodal isolation contract on the FLAC path: truncation
    at EVERY byte offset and seeded random mutations raise only
    ValueError/NotImplementedError — never IndexError or a silent
    success with wrong values (CRCs make mutations loud)."""
    import random

    rng = random.Random(7)
    s = _planted(120)
    for kwargs in (
        dict(subframe="fixed2"),
        dict(subframe="lpc", partition_order=1),
        dict(subframe="verbatim"),
    ):
        b = encode_flac(s, 8000, blocksize=64, **kwargs)
        for cut in range(len(b)):
            try:
                decode_flac(b[:cut])
            except (ValueError, NotImplementedError):
                pass
        for _ in range(300):
            m = bytearray(b)
            for _ in range(rng.randint(1, 4)):
                m[rng.randrange(len(m))] = rng.randrange(256)
            try:
                out, _, _ = decode_flac(bytes(m))
            except (ValueError, NotImplementedError):
                continue
            # a surviving mutation must have hit a dont-care byte
            # (padding/MD5/min-max framesize) — values must be intact
            assert (out == s).all()


@settings(max_examples=30, deadline=None)
@given(
    n=st.integers(1, 400),
    blocksize=st.integers(1, 96),
    seed=st.integers(0, 2**31),
    sub=st.sampled_from(["verbatim", "fixed1", "fixed2", "fixed3", "lpc"]),
)
def test_fuzz_flac_roundtrip(n, blocksize, seed, sub):
    s = np.random.default_rng(seed).integers(-30000, 30000, n).astype(np.int64)
    out, rate, ch = decode_flac(
        encode_flac(s, 48000, subframe=sub, blocksize=blocksize)
    )
    assert rate == 48000 and ch == 1 and (out == s).all()


def test_audio_dispatch_flac_equals_wav():
    """decode_audio routes FLAC and WAV to value-identical samples —
    the codec-blind contract the three-variant gate corpus rests on."""
    from dstlr_spark.operators.multimodal import decode_audio, encode_wav

    s = _planted(200, lo=-30000, hi=30000).astype(np.int16)
    w, rw, cw = decode_audio(encode_wav(s, 16000))
    f, rf, cf = decode_audio(
        encode_flac(s.astype(np.int64), 16000, subframe="fixed2")
    )
    assert (rw, cw) == (rf, cf) == (16000, 1)
    assert (w.astype(np.int64) == f.astype(np.int64)).all()
    with pytest.raises(NotImplementedError):
        decode_audio(b"\xff\xfb\x90\x00" + bytes(32))  # MP3 frame sync
