"""Final-session container closes: AIFF/AIFF-C + Sun AU audio, TGA /
PCX / QOI images, and the AVI video container (DIB + MJPEG frames).

Same gate model as tests/test_flac.py / test_tiff.py: round-trip
matrices over every decode path, hand-pinned byte streams where the
spec has a classic pitfall (the 80-bit extended-float sample rate,
PCX RLE escape bytes, the QOI hash), corruption contract (truncation
at every offset + seeded mutation — only ValueError /
NotImplementedError may escape), and hypothesis round-trip fuzz.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from dstlr_spark.operators.aiff import (
    AIFC_VERSION_1,
    _pack_f80,
    _pascal_even,
    _unpack_f80,
    decode_aiff,
    decode_au,
    encode_aiff,
    encode_au,
)
from dstlr_spark.operators.avi import decode_avi_frames, encode_avi
from dstlr_spark.operators.pcx import decode_pcx, encode_pcx
from dstlr_spark.operators.qoi import decode_qoi, encode_qoi
from dstlr_spark.operators.tga import decode_tga, encode_tga


# ------------------------------------------------------------------ AIFF/AU


def test_f80_sample_rate_pin():
    """The 80-bit extended-float encoding of 44100 Hz is the classic
    published AIFF header constant 0x400E_AC44…: pinning the exact
    bytes cross-validates our formula against every AIFF ever written
    by Apple's toolchain (not just our own round-trip)."""
    assert _pack_f80(44100) == bytes.fromhex("400eac4400000000" + "0000")
    assert _pack_f80(8000) == bytes.fromhex("400bfa0000000000" + "0000")
    assert _pack_f80(48000) == bytes.fromhex("400ebb8000000000" + "0000")
    for rate in (1, 7, 8000, 11025, 16000, 22050, 44100, 96000, 192000):
        assert _unpack_f80(_pack_f80(rate)) == rate
    # non-integer mantissa rounds to nearest
    assert _unpack_f80(bytes.fromhex("400eac44" + "80" + "00" * 5)) == 44101
    for bad in (b"\xc0\x0e" + b"\x00" * 8,  # negative
                b"\x7f\xff" + b"\x80" + b"\x00" * 7,  # inf/nan
                b"\x00" * 10):  # zero
        with pytest.raises(ValueError):
            _unpack_f80(bad)


def test_aiff_roundtrip_matrix():
    """16-bit AIFF and AIFF-C sowt round-trip mono and stereo; other
    sample widths and the raw / NONE-8-bit forms raise the STUB
    contract."""
    rng = np.random.default_rng(5)
    s16 = rng.integers(-32768, 32768, 240).astype(np.int16)
    for comp in (None, "sowt"):
        for ch in (1, 2):
            d, r, c = decode_aiff(encode_aiff(s16, 22050, ch, compression=comp))
            assert (r, c) == (22050, ch)
            assert np.array_equal(d, s16)
    for comp, bits in ((b"NONE", 8), (b"NONE", 24), (b"twos", 32),
                       (b"sowt", 24), (b"raw ", 8)):
        with pytest.raises(NotImplementedError, match="STUB"):
            decode_aiff(_aifc(comp, _pascal_even(b""), bytes(12), 1, bits))


def _aifc(comp: bytes, comm_tail: bytes, ssnd_data: bytes, frames: int,
          bits: int = 16, channels: int = 1, rate: int = 8000) -> bytes:
    comm = (
        struct.pack(">hIh", channels, frames, bits)
        + _pack_f80(rate)
        + comp
        + comm_tail
    )
    chunks = b"FVER" + struct.pack(">II", 4, AIFC_VERSION_1)
    chunks += b"COMM" + struct.pack(">I", len(comm)) + comm
    if len(comm) & 1:
        chunks += b"\x00"
    ssnd = struct.pack(">II", 0, 0) + ssnd_data
    chunks += b"SSND" + struct.pack(">I", len(ssnd)) + ssnd
    if len(ssnd) & 1:
        chunks += b"\x00"
    return b"FORM" + struct.pack(">I", 4 + len(chunks)) + b"AIFC" + chunks


def test_aifc_g711_and_float_paths():
    """Big-endian float AIFC decodes exactly; G.711 and transform
    codecs raise the STUB contract."""
    for comp in (b"ulaw", b"ULAW", b"alaw", b"ALAW", b"MAC3"):
        with pytest.raises(NotImplementedError, match="STUB"):
            decode_aiff(_aifc(comp, _pascal_even(b""), bytes(64), 64, 8))
    f = np.array([0.5, -0.25, 1.0, -1.0], np.float32)
    d, _, _ = decode_aiff(
        _aifc(b"fl32", _pascal_even(b""), f.astype(">f4").tobytes(), 4, 32)
    )
    assert np.array_equal(d, f)


def test_aiff_ssnd_offset_and_frame_trim():
    """SSND offset skips alignment padding; COMM numSampleFrames trims
    trailing slack; promising MORE frames than SSND carries is
    malformed."""
    s = np.arange(-8, 8, dtype=np.int16)
    comm = struct.pack(">hIh", 1, 12, 16) + _pack_f80(8000)
    ssnd = struct.pack(">II", 6, 0) + b"\xEE" * 6 + s.astype(">i2").tobytes()
    blob = (
        b"FORM"
        + struct.pack(">I", 4 + 8 + len(comm) + 8 + len(ssnd))
        + b"AIFF"
        + b"COMM" + struct.pack(">I", len(comm)) + comm
        + b"SSND" + struct.pack(">I", len(ssnd)) + ssnd
    )
    d, _, _ = decode_aiff(blob)
    assert np.array_equal(d, s[:12])
    comm_over = struct.pack(">hIh", 1, 99, 16) + _pack_f80(8000)
    blob_over = (
        b"FORM"
        + struct.pack(">I", 4 + 8 + len(comm_over) + 8 + len(ssnd))
        + b"AIFF"
        + b"COMM" + struct.pack(">I", len(comm_over)) + comm_over
        + b"SSND" + struct.pack(">I", len(ssnd)) + ssnd
    )
    with pytest.raises(ValueError):
        decode_aiff(blob_over)


def test_au_roundtrip_and_g711():
    """16-bit linear AU round-trips (annotation skipped via hdr_size,
    unknown data size = -1); µ-law, A-law, 8/24/32-bit linear and
    G.721 raise the STUB contract."""
    rng = np.random.default_rng(9)
    s16 = rng.integers(-32768, 32768, 100).astype(np.int16)
    d, r, c = decode_au(encode_au(s16, 16000, 2))
    assert (r, c) == (16000, 2) and np.array_equal(d, s16)
    blob = encode_au(s16, 16000, 1, annotation=b"meta")
    assert decode_au(blob)[0].size == 100
    unk = blob[:8] + struct.pack(">I", 0xFFFFFFFF) + blob[12:]
    assert np.array_equal(decode_au(unk)[0], s16)
    for encoding in (1, 2, 4, 5, 23, 27):
        with pytest.raises(NotImplementedError, match="STUB"):
            decode_au(
                struct.pack(">4sIIIII", b".snd", 24, 4, encoding, 8000, 1)
                + bytes(4)
            )


def test_audio_dispatch_aiff_au_equal_wav():
    """The container-blind contract that puts AIFF/AU in the gate
    corpus: the same planted samples decode identically through all
    dispatch arms."""
    from dstlr_spark.operators.multimodal import decode_audio, encode_wav

    s = ((np.arange(60, dtype=np.int64) * 977 + 31) % 4097 - 2048).astype(
        np.int16
    )
    ref = decode_audio(encode_wav(s, 16000))
    for blob in (
        encode_aiff(s, 16000),
        encode_aiff(s, 16000, compression="sowt"),
        encode_au(s, 16000),
    ):
        d, r, c = decode_audio(blob)
        assert (r, c) == (ref[1], ref[2])
        assert np.array_equal(d, ref[0])


# ------------------------------------------------------------------ TGA


def test_tga_roundtrip_matrix():
    rng = np.random.default_rng(2)
    img = rng.integers(0, 256, (7, 9, 3)).astype(np.uint8)
    img[:, :4] = img[0, 0]  # runs for the RLE arm
    for rle in (False, True):
        for top_down in (True, False):
            for depth in (24, 32):
                got = decode_tga(
                    encode_tga(img, rle=rle, top_down=top_down, depth=depth)
                )
                assert np.array_equal(got, img), (rle, top_down, depth)
    for img_type in (1, 9):  # colormapped, raw and RLE
        with pytest.raises(NotImplementedError, match="STUB"):
            decode_tga(_tga_hand(img_type, 8, 0x20, bytes(2), 2, 1,
                                 cm=bytes(6), cm_fields=(1, 0, 2, 24)))


def _tga_hand(img_type, depth, desc, pixel_bytes, w, h, cm=b"",
              cm_fields=(0, 0, 0, 0)) -> bytes:
    hdr = struct.pack(
        "<BBBHHBHHHHBB", 0, cm_fields[0], img_type, cm_fields[1],
        cm_fields[2], cm_fields[3], 0, 0, w, h, depth, desc,
    )
    footer = struct.pack("<II", 0, 0) + b"TRUEVISION-XFILE.\x00"
    return hdr + cm + pixel_bytes + footer


def test_tga_hand_streams_gray_16bit_right_to_left():
    # grayscale (type 3), top-down
    g = np.array([[1, 2, 3], [4, 5, 6]], np.uint8)
    got = decode_tga(_tga_hand(3, 8, 0x20, g.tobytes(), 3, 2))
    assert np.array_equal(got, np.repeat(g[..., None], 3, -1))
    # 16-bit A1R5G5B5 pixels raise the STUB contract
    px = struct.pack("<HHH", 0x7C00, 0x03E0, 0x001F)
    with pytest.raises(NotImplementedError, match="STUB"):
        decode_tga(_tga_hand(2, 16, 0x20, px, 3, 1))
    # right-to-left bit (descriptor bit 4) mirrors columns
    bgr = bytes([10, 20, 30, 40, 50, 60])  # two BGR pixels
    got = decode_tga(_tga_hand(2, 24, 0x30, bgr, 2, 1))
    assert got.tolist() == [[[60, 50, 40], [30, 20, 10]]]
    # a colormap on a truecolor image is skipped by length
    cm = bytes([0, 0, 255, 255, 0, 0])
    got = decode_tga(
        _tga_hand(2, 24, 0x20, bgr, 2, 1, cm=cm, cm_fields=(1, 4, 2, 24))
    )
    assert got.tolist() == [[[30, 20, 10], [60, 50, 40]]]
    # legacy interleave bits are a loud stub
    with pytest.raises(NotImplementedError):
        decode_tga(_tga_hand(2, 24, 0x40, bytes(3), 1, 1))


# ------------------------------------------------------------------ PCX


def test_pcx_roundtrip_matrix():
    rng = np.random.default_rng(4)
    img = rng.integers(0, 256, (5, 7, 3)).astype(np.uint8)
    img[:, :3] = img[0, 0]
    assert np.array_equal(decode_pcx(encode_pcx(rgb=img)), img)
    pal = rng.integers(0, 256, (256, 3)).astype(np.uint8)
    idx = rng.integers(0, 256, (5, 7)).astype(np.uint8)
    assert np.array_equal(decode_pcx(encode_pcx(palette=pal, indices=idx)),
                          pal[idx])
    bl = rng.integers(0, 2, (5, 11)).astype(np.uint8)
    assert np.array_equal(
        decode_pcx(encode_pcx(bilevel=bl)),
        np.repeat((bl * 255)[..., None], 3, -1),
    )


def test_pcx_rle_escape_pin():
    """The classic PCX pitfall: a LITERAL byte ≥ 0xC0 must be written
    as a run of one (0xC1, v) — a naive encoder that emits it bare
    turns it into a run control byte on decode."""
    img = np.full((1, 2, 3), 0xC5, np.uint8)  # every channel ≥ 0xC0
    blob = encode_pcx(rgb=img)
    assert np.array_equal(decode_pcx(blob), img)
    # hand stream: row of 5 × 0x0A then literal 0x10 (bpl 6, 1 plane)
    hdr = bytearray(128)
    struct.pack_into("<BBBBHHHHHH", hdr, 0, 0x0A, 5, 1, 8, 0, 0, 4, 0, 72, 72)
    hdr[65] = 1
    struct.pack_into("<H", hdr, 66, 6)
    pal = b"\x0c" + bytes(
        b for i in range(256) for b in (i, 255 - i, i ^ 0x5A)
    )
    blob = bytes(hdr) + bytes([0xC5, 0x0A, 0x10]) + pal
    got = decode_pcx(blob)
    exp_idx = [0x0A] * 5
    assert got.tolist() == [[[i, 255 - i, i ^ 0x5A] for i in exp_idx]]
    # run crossing a scanline row is malformed
    hdr2 = bytearray(hdr)
    struct.pack_into("<HH", hdr2, 8, 5, 1)  # xmax=5, ymax=1 → w=6, h=2
    bad = bytes(hdr2) + bytes([0xC0 | 12, 0x0A]) + pal
    with pytest.raises(ValueError):
        decode_pcx(bad)


# ------------------------------------------------------------------ QOI


def test_qoi_hand_stream_all_ops():
    """Hand-assembled op stream decoding pinned against hand-computed
    pixels — an independent derivation of the op semantics and the
    (3r+5g+7b+11a) % 64 hash from the one the encoder uses."""
    ops = bytearray()
    ops += bytes([0xFE, 100, 150, 200])        # RGB → (100,150,200)
    ops += bytes([0xC0 | 2])                   # RUN 3 → same ×3
    ops += bytes([0x40 | (3 << 4) | (2 << 2) | 0])  # DIFF +1,0,-2
    ops += bytes([0x80 | (10 + 32), ((3 + 8) << 4) | (8 - 8)])  # LUMA
    h = (100 * 3 + 150 * 5 + 200 * 7 + 255 * 11) % 64
    ops += bytes([h])                          # INDEX → first pixel
    ops += bytes([0xFF, 1, 2, 3, 4])           # RGBA (alpha dropped)
    blob = (
        b"qoif" + struct.pack(">II", 8, 1) + bytes([4, 0])
        + bytes(ops) + b"\x00" * 7 + b"\x01"
    )
    got = decode_qoi(blob)
    p0 = [100, 150, 200]
    p4 = [101, 150, 198]           # DIFF deltas (+1, +0, -2)
    p5 = [p4[0] + 10 + 3, p4[1] + 10, p4[2] + 10 - 8]  # LUMA dg=10
    assert got.tolist() == [[p0, p0, p0, p0, p4, p5, p0, [1, 2, 3]]]


@settings(max_examples=30, deadline=None)
@given(w=st.integers(1, 24), h=st.integers(1, 16), seed=st.integers(0, 2**31),
       palette_size=st.integers(2, 256))
def test_fuzz_image_containers_roundtrip(w, h, seed, palette_size):
    rng = np.random.default_rng(seed)
    # low-cardinality images maximize run/index/diff op coverage
    pal = rng.integers(0, 256, (palette_size, 3)).astype(np.uint8)
    img = pal[rng.integers(0, palette_size, (h, w))]
    assert np.array_equal(decode_qoi(encode_qoi(img)), img)
    assert np.array_equal(decode_pcx(encode_pcx(rgb=img)), img)
    for rle in (False, True):
        assert np.array_equal(
            decode_tga(encode_tga(img, rle=rle, top_down=False)), img
        )


# ------------------------------------------------------------------ AVI


def test_avi_roundtrip_matrix():
    from dstlr_spark.operators.jpeg import encode_jpeg_lossless

    rng = np.random.default_rng(6)
    for (n, h, w) in ((1, 1, 1), (3, 4, 6), (2, 7, 5)):
        fr = rng.integers(0, 256, (n, h, w, 3)).astype(np.uint8)
        got, fps = decode_avi_frames(encode_avi(fr, fps=(30, 1)))
        assert fps == (30, 1) and np.array_equal(got, fr)
        got, _ = decode_avi_frames(
            encode_avi(fr, codec="MJPG",
                       jpeg_encoder=lambda a: encode_jpeg_lossless(a))
        )
        assert np.array_equal(got, fr)
        pal = rng.integers(0, 256, (256, 3)).astype(np.uint8)
        idx = rng.integers(0, 256, (n, h, w)).astype(np.uint8)
        got, _ = decode_avi_frames(encode_avi(idx, codec="DIB8", palette=pal))
        assert np.array_equal(got, pal[idx])


def test_avi_interleave_rec_lists_and_audio_chunks():
    """Real AVIs interleave `01wb` audio chunks and wrap frame groups
    in LIST `rec ` — both must be walked/skipped transparently."""
    fr = np.arange(2 * 2 * 3 * 3, dtype=np.uint8).reshape(3, 2, 2, 3)
    blob = encode_avi(fr)
    # splice: wrap each 00db chunk in a rec list and append audio
    movi_at = blob.find(b"movi")
    assert movi_at > 0
    pre = blob[: movi_at + 4]
    body = blob[movi_at + 4 :]
    idx_at = body.find(b"idx1")
    chunks, rest = body[:idx_at], body[idx_at:]
    out, pos = b"", 0
    while pos + 8 <= len(chunks):
        tag, ln = struct.unpack("<4sI", chunks[pos : pos + 8])
        span = chunks[pos : pos + 8 + ln + (ln & 1)]
        wb = b"01wb" + struct.pack("<I", 4) + b"\xAA" * 4
        rec = b"LIST" + struct.pack("<I", 4 + len(span) + len(wb)) + b"rec " \
            + span + wb
        out += rec
        pos += 8 + ln + (ln & 1)
    movi_hdr_at = blob.rfind(b"LIST", 0, movi_at)
    new_movi = b"LIST" + struct.pack("<I", 4 + len(out)) + b"movi" + out
    spliced = blob[:movi_hdr_at] + new_movi + rest
    # RIFF size must cover the splice
    spliced = spliced[:4] + struct.pack("<I", len(spliced) - 8) + spliced[8:]
    got, _ = decode_avi_frames(spliced)
    assert np.array_equal(got, fr)


def test_avi_top_down_negative_height():
    fr = np.arange(12, dtype=np.uint8).reshape(1, 2, 2, 3)
    blob = encode_avi(fr)
    # flip strf biHeight to -2 → frames are stored top-down; the
    # encoder wrote bottom-up rows, so decode must mirror vertically
    at = blob.find(b"strf") + 8 + 8
    flipped = blob[:at] + struct.pack("<i", -2) + blob[at + 4 :]
    got, _ = decode_avi_frames(flipped)
    assert np.array_equal(got, fr[:, ::-1])


def test_avi_stub_and_malformed():
    fr = np.zeros((1, 2, 2, 3), np.uint8)
    blob = encode_avi(fr)
    at = blob.find(b"strf") + 8 + 16
    cvid = blob[:at] + b"cvid" + blob[at + 4 :]
    with pytest.raises(NotImplementedError):
        decode_avi_frames(cvid)
    with pytest.raises(ValueError):
        decode_avi_frames(b"RIFF" + struct.pack("<I", 4) + b"WAVE")
    with pytest.raises(ValueError):  # movi with zero video frames
        no_frames = encode_avi(fr)
        cut = no_frames.replace(b"00db", b"09db")  # orphan stream id
        decode_avi_frames(cut)


def test_video_dispatch_avi_equals_y4m():
    """Container-blind video contract: the same planted luma decodes
    identically through Y4M, AVI-DIB (gray-replicated — BT.601
    weights sum to 1000, so luma(g,g,g) == g exactly), and
    AVI-MJPEG-lossless."""
    from dstlr_spark.operators.jpeg import encode_jpeg_lossless
    from dstlr_spark.operators.multimodal import decode_video_luma, encode_y4m

    fs, ys, xs = np.mgrid[0:3, 0:4, 0:5]
    y = ((5 * xs + 3 * ys + 7 * fs + 11) % 251).astype(np.uint8)
    ref = decode_video_luma(encode_y4m(y))
    rgb = np.repeat(y[..., None], 3, axis=-1)
    assert np.array_equal(decode_video_luma(encode_avi(rgb)), ref)
    assert np.array_equal(
        decode_video_luma(
            encode_avi(rgb, codec="MJPG",
                       jpeg_encoder=lambda a: encode_jpeg_lossless(a))
        ),
        ref,
    )


def test_image_dispatch_tga_pcx_qoi():
    """decode_rgb_bytes routes the three new formats and stays exact
    vs the BMP arm on the same planted image."""
    from dstlr_spark.operators.multimodal import (
        _planted_rgb,
        decode_rgb_bytes,
        encode_bmp,
    )

    rgb = _planted_rgb(6, 5)
    ref = decode_rgb_bytes(encode_bmp(rgb))
    for blob in (
        encode_tga(rgb, rle=True, top_down=False),
        encode_pcx(rgb=rgb),
        encode_qoi(rgb),
    ):
        assert np.array_equal(decode_rgb_bytes(blob), ref)


def test_corruption_contract_new_containers():
    """Truncation at every offset + seeded mutations: only ValueError
    / NotImplementedError may escape (the Arrow per-doc isolation
    catches exactly those two)."""
    import random

    from dstlr_spark.operators.jpeg import encode_jpeg_lossless
    from dstlr_spark.operators.multimodal import decode_audio, decode_rgb_bytes
    from dstlr_spark.operators.multimodal import decode_video_luma

    rng = random.Random(77)
    nprng = np.random.default_rng(77)
    rgb = nprng.integers(0, 256, (5, 6, 3)).astype(np.uint8)
    s = nprng.integers(-999, 999, 40).astype(np.int16)
    fr = nprng.integers(0, 256, (2, 3, 4, 3)).astype(np.uint8)
    pal = nprng.integers(0, 256, (256, 3)).astype(np.uint8)
    idx = nprng.integers(0, 256, (4, 5)).astype(np.uint8)
    streams = {
        "tga": (decode_rgb_bytes, encode_tga(rgb, rle=True, top_down=False)),
        "tga32": (decode_rgb_bytes, encode_tga(rgb, depth=32)),
        "pcx": (decode_rgb_bytes, encode_pcx(rgb=rgb)),
        "pcx_pal": (decode_rgb_bytes, encode_pcx(palette=pal, indices=idx)),
        "qoi": (decode_rgb_bytes, encode_qoi(rgb)),
        "aiff": (decode_audio, encode_aiff(s, 8000)),
        "aifc_sowt": (decode_audio, encode_aiff(s, 8000, compression="sowt")),
        "au": (decode_audio, encode_au(s, 8000)),
        "avi_dib": (decode_video_luma, encode_avi(fr)),
        "avi_mjpg": (decode_video_luma,
                     encode_avi(fr, codec="MJPG",
                                jpeg_encoder=lambda a:
                                encode_jpeg_lossless(a))),
    }

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
        for i in range(150):
            m = bytearray(b)
            for _ in range(rng.randint(1, 4)):
                m[rng.randrange(len(m))] = rng.randrange(256)
            check(dec, bytes(m), f"{name} mut#{i}")


@settings(max_examples=25, deadline=None)
@given(n=st.integers(1, 90), rate=st.sampled_from([8000, 16000, 44100]),
       seed=st.integers(0, 2**31), ch=st.integers(1, 2))
def test_fuzz_audio_containers_roundtrip(n, rate, seed, ch):
    rng = np.random.default_rng(seed)
    s = rng.integers(-32768, 32768, n * ch).astype(np.int16)
    for blob in (encode_aiff(s, rate, ch),
                 encode_aiff(s, rate, ch, compression="sowt"),
                 encode_au(s, rate, ch)):
        d, r, c = (lambda t: t)(  # unpack
            __import__("dstlr_spark.operators.aiff", fromlist=["x"]).decode_aiff(
                blob
            )
            if blob[:4] == b"FORM"
            else __import__(
                "dstlr_spark.operators.aiff", fromlist=["x"]
            ).decode_au(blob)
        )
        assert (r, c) == (rate, ch)
        assert np.array_equal(d, s)


# ---------------------------------------------------------- CAF/W64/RF64/ICO


def test_caf_w64_roundtrip_and_stubs():
    from dstlr_spark.operators.caf import (
        decode_caf,
        decode_w64,
        encode_caf,
        encode_w64,
    )

    rng = np.random.default_rng(12)
    s = rng.integers(-32768, 32768, 200).astype(np.int16)
    for ch in (1, 2):
        for le in (False, True):
            d, r, c = decode_caf(encode_caf(s, 22050, ch, little_endian=le))
            assert (r, c) == (22050, ch) and np.array_equal(d, s)
        d, r, c = decode_w64(encode_w64(s, 44100, ch))
        assert (r, c) == (44100, ch) and np.array_equal(d, s)
    blob = encode_caf(s, 8000)
    aac = blob.replace(b"lpcm", b"aac ")
    with pytest.raises(NotImplementedError):
        decode_caf(aac)
    # open-ended data chunk (size -1) decodes to stream end
    at = blob.find(b"data")
    open_ended = blob[: at + 4] + struct.pack(">q", -1) + blob[at + 12 :]
    d, _, _ = decode_caf(open_ended)
    assert np.array_equal(d, s)


def test_rf64_ds64_sentinel_sizes():
    """RF64/BW64: the 32-bit data size is 0xFFFFFFFF and the real
    64-bit size lives in ds64 — decode must substitute it."""
    from dstlr_spark.operators.caf import encode_rf64
    from dstlr_spark.operators.multimodal import decode_audio, decode_wav

    rng = np.random.default_rng(13)
    s = rng.integers(-32768, 32768, 321).astype(np.int16)
    blob = encode_rf64(s, 16000)
    assert blob[:4] == b"RF64"
    assert struct.unpack("<I", blob[4:8])[0] == 0xFFFFFFFF
    d, r, c = decode_wav(blob)
    assert (r, c) == (16000, 1) and np.array_equal(d, s)
    # BW64 magic rides the same path
    bw64 = b"BW64" + blob[4:]
    d, _, _ = decode_audio(bw64)
    assert np.array_equal(d, s)
    # ds64 in a plain RIFF is malformed; sentinel without ds64 too
    with pytest.raises(ValueError):
        decode_wav(b"RIFF" + blob[4:])


def test_ico_delegation_and_largest_entry():
    from dstlr_spark.operators.ico import decode_ico, encode_ico
    from dstlr_spark.operators.multimodal import decode_rgb_bytes

    rng = np.random.default_rng(14)
    for (h, w) in ((1, 1), (5, 7), (16, 9), (32, 32)):
        img = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
        for png in (False, True):
            blob = encode_ico(img, png=png)
            assert np.array_equal(decode_ico(blob), img), (h, w, png)
            # dispatch through the shared entry point
            assert np.array_equal(decode_rgb_bytes(blob), img)
    # the decoy 1x1 entry must NOT win the largest-entry selection
    img = rng.integers(0, 256, (4, 6, 3)).astype(np.uint8)
    blob = encode_ico(img, extra_small_entry=True)
    assert decode_ico(blob).shape == (4, 6, 3)
    with pytest.raises(ValueError):
        decode_ico(struct.pack("<HHH", 0, 3, 1))  # bad type
    with pytest.raises(ValueError):
        decode_ico(struct.pack("<HHH", 0, 1, 0))  # zero entries


def test_audio_dispatch_caf_w64_rf64_equal_wav():
    from dstlr_spark.operators.caf import encode_caf, encode_rf64, encode_w64
    from dstlr_spark.operators.multimodal import decode_audio, encode_wav

    s = ((np.arange(60, dtype=np.int64) * 977 + 31) % 4097 - 2048).astype(
        np.int16
    )
    ref = decode_audio(encode_wav(s, 16000))
    for blob in (encode_caf(s, 16000), encode_w64(s, 16000),
                 encode_rf64(s, 16000)):
        d, r, c = decode_audio(blob)
        assert (r, c) == (ref[1], ref[2])
        assert np.array_equal(d, ref[0])


def test_corruption_contract_caf_w64_rf64_ico():
    import random

    from dstlr_spark.operators.caf import encode_caf, encode_rf64, encode_w64
    from dstlr_spark.operators.ico import encode_ico
    from dstlr_spark.operators.multimodal import decode_audio, decode_rgb_bytes

    rng = random.Random(99)
    nprng = np.random.default_rng(99)
    s = nprng.integers(-999, 999, 40).astype(np.int16)
    img = nprng.integers(0, 256, (5, 6, 3)).astype(np.uint8)
    streams = {
        "caf": (decode_audio, encode_caf(s, 8000)),
        "w64": (decode_audio, encode_w64(s, 8000)),
        "rf64": (decode_audio, encode_rf64(s, 8000)),
        "ico_dib": (decode_rgb_bytes, encode_ico(img)),
        "ico_png": (decode_rgb_bytes, encode_ico(img, png=True)),
    }
    for name, (dec, b) in streams.items():
        for cut in range(len(b)):
            try:
                dec(b[:cut])
            except (ValueError, NotImplementedError):
                pass
        for i in range(150):
            m = bytearray(b)
            for _ in range(rng.randint(1, 4)):
                m[rng.randrange(len(m))] = rng.randrange(256)
            try:
                dec(bytes(m))
            except (ValueError, NotImplementedError):
                pass


# ------------------------------------------------------- normalization ops


def test_normalize_audio_exact_semantics():
    from dstlr_spark.operators.multimodal import normalize_audio

    # stereo downmix: floor mean per frame
    s = np.array([10, 20, -7, -8, 3, 4], np.int64)  # 3 frames x 2 ch
    mono = normalize_audio(s, 16000, 2, 16000)
    assert mono.tolist() == [15, -8, 3]  # floor((-7-8)/2) = -8
    # 2:1 decimation == take every 2nd sample
    s = np.arange(100, dtype=np.int64)
    out = normalize_audio(s, 32000, 1, 16000)
    assert out.tolist() == list(range(0, 100, 2))
    # non-integer ratio: nearest-source-index rule
    s = np.arange(441, dtype=np.int64)
    out = normalize_audio(s, 44100, 1, 16000)
    assert out.size == 441 * 16000 // 44100
    i = np.arange(out.size, dtype=np.int64)
    assert np.array_equal(out, (i * 44100) // 16000)
    # upsample: index rule repeats sources
    out = normalize_audio(np.array([5, 9], np.int64), 8000, 1, 16000)
    assert out.tolist() == [5, 5, 9, 9]


def test_standardize_image_exact_semantics():
    from dstlr_spark.operators.multimodal import standardize_image

    rng = np.random.default_rng(15)
    img = rng.integers(0, 256, (10, 16, 3)).astype(np.uint8)
    std = standardize_image(img, 4)
    # crop: x0 = (16-10)//2 = 3, square = img[:, 3:13]
    sq = img[:, 3:13]
    xs = (np.arange(4) * 10) // 4
    assert np.array_equal(std, sq[xs][:, xs])
    # upscaling a small image reaches the fixed dims
    small = rng.integers(0, 256, (2, 3, 3)).astype(np.uint8)
    std = standardize_image(small, 6)
    assert std.shape == (6, 6, 3)


def test_normalization_operators_cross_container(spark):
    """The canonical-corpus contract: the SAME clip/image shipped in
    different containers normalizes to identical proof features; an
    undecodable payload degrades to one null row."""
    from dstlr_spark.operators.aiff import encode_aiff
    from dstlr_spark.operators.caf import encode_caf, encode_w64
    from dstlr_spark.operators.multimodal import (
        audio_normalize_np,
        encode_bmp,
        encode_wav,
        image_standardize_np,
    )
    from dstlr_spark.operators.qoi import encode_qoi
    from dstlr_spark.operators.tga import encode_tga

    rng = np.random.default_rng(16)
    s = rng.integers(-32768, 32768, 320).astype(np.int16)  # stereo 160fr
    clips = [("wav", encode_wav(s, 44100, 2)),
             ("aiff", encode_aiff(s, 44100, 2)),
             ("caf", encode_caf(s, 44100, 2)),
             ("w64", encode_w64(s, 44100, 2)),
             ("bad", b"\x00gar\xffbage")]
    media = spark.createDataFrame(
        [(n, bytearray(p)) for n, p in clips],
        "doc_id string, payload binary",
    )
    rows = {r.doc_id: r for r in audio_normalize_np(media).collect()}
    ref = rows["wav"]
    assert ref.sample_rate == 16000 and ref.n_samples == 160 * 16000 // 44100
    for n in ("aiff", "caf", "w64"):
        assert (rows[n].checksum, rows[n].sumsq, rows[n].peak) == (
            ref.checksum, ref.sumsq, ref.peak), n
    assert rows["bad"].n_samples is None

    img = rng.integers(0, 256, (9, 13, 3)).astype(np.uint8)
    imgs = [("bmp", encode_bmp(img)),
            ("tga", encode_tga(img, rle=True, top_down=False)),
            ("qoi", encode_qoi(img))]
    media = spark.createDataFrame(
        [(n, bytearray(p)) for n, p in imgs],
        "doc_id string, payload binary",
    )
    rows = {r.doc_id: r for r in image_standardize_np(media, side=4).collect()}
    ref = rows["bmp"]
    assert (ref.width, ref.height) == (4, 4)
    for n in ("tga", "qoi"):
        got = rows[n]
        assert (got.pixel_sum, got.tl_r, got.tr_r, got.bl_r, got.br_r) == (
            ref.pixel_sum, ref.tl_r, ref.tr_r, ref.bl_r, ref.br_r), n


def test_review_regressions():
    """Pins for the session code-review findings."""
    from dstlr_spark.operators.caf import decode_caf, encode_caf
    from dstlr_spark.operators.multimodal import sniff_media_type

    # f80 exponent edge: shift == 0 must not hit a negative shift count
    with pytest.raises(ValueError, match="out of (audio )?range"):
        _unpack_f80(_pack_f80(2**63))
    # fractional CAF rates are legal Float64 — round, don't reject
    blob = encode_caf(np.zeros(4, np.int16), 22255)
    frac = blob.replace(struct.pack(">d", 22255.0),
                        struct.pack(">d", 22254.54545))
    _, rate, _ = decode_caf(frac)
    assert rate == 22255
    # AVI 8-bpp out-of-palette index → ValueError, never IndexError
    pal = np.zeros((4, 3), np.uint8)
    idx = np.full((1, 2, 2), 5, np.uint8)
    blob = encode_avi(idx, codec="DIB8", palette=pal[:4])
    # shrink the declared palette below the index values
    at = blob.find(b"strf") + 8 + 32
    small = blob[:at] + struct.pack("<I", 4) + blob[at + 4 :]
    with pytest.raises(ValueError):
        decode_avi_frames(small)
    # a newline-led text blob must not sniff as PCX
    import pyspark.sql.functions as F
    from dstlr_spark.session import get_spark

    spark = get_spark("sniff-regression")
    rows = spark.createDataFrame(
        [("nl", b"\n the quick brown fox"),
         ("pcx", bytes(encode_pcx(rgb=np.zeros((2, 2, 3), np.uint8))))],
        "doc_id string, payload binary",
    )
    got = {r.doc_id: r.t for r in rows.select(
        "doc_id", sniff_media_type(F.col("payload")).alias("t")).collect()}
    assert got == {"nl": "application/octet-stream", "pcx": "image/x-pcx"}


def test_review_regressions_round2():
    """Pins for the second review pass."""
    from dstlr_spark.operators.multimodal import (
        decode_rgb_bytes,
        normalize_audio,
    )
    # a colormapped TGA whose image-ID length is 0x0A must not
    # misroute to the PCX arm (footer beats the PCX heuristic): it
    # reaches the TGA decoder, whose colormap STUB names it
    blob = bytearray(_tga_hand(1, 8, 0, bytes(64), 8, 8, cm=bytes(120),
                               cm_fields=(1, 0, 40, 24)))
    blob[0] = 0x0A  # id_len = 10
    blob[18:18] = b"\xEE" * 10  # the image-ID field itself
    assert len(blob) >= 128  # inside the PCX heuristic's length bar
    with pytest.raises(NotImplementedError, match="STUB: TGA image type 1"):
        decode_rgb_bytes(bytes(blob))
    # float-PCM clips map [-1,1] -> int16 full scale, not zeros
    f = np.array([0.5, -1.0, 0.0, 1.0], np.float32)
    out = normalize_audio(f, 16000, 1, 16000)
    assert out.tolist() == [16384, -32767, 0, 32767]
    # round-half-even: 0.50003.. of full scale
    assert normalize_audio(np.array([1.5 / 32767], np.float64),
                           16000, 1, 16000).tolist() == [2]


# ------------------------------------------------------------------ ima4


def test_aifc_ima4_matches_scalar_reference():
    """AIFC ima4 (QuickTime IMA ADPCM) raises the STUB contract."""
    with pytest.raises(NotImplementedError, match="STUB"):
        decode_aiff(_aifc(b"ima4", _pascal_even(b""), bytes(34), 64))


def test_aifc_ima4_roundtrip_trim_and_corruption():
    """ima4 raises the STUB contract whatever its packet geometry, and
    the fixture encoder refuses to write it."""
    for data, frames in ((bytes(34), 64), (bytes(33), 64), (bytes(68), 65)):
        with pytest.raises(NotImplementedError, match="STUB"):
            decode_aiff(_aifc(b"ima4", _pascal_even(b""), data, frames))
    with pytest.raises(ValueError):
        encode_aiff(np.zeros(64, np.int16), 8000, compression="ima4")


def test_caf_ima4_and_empty_ima4():
    """CAF ima4 raises the STUB contract through decode_caf and the
    decode_audio dispatch alike."""
    from dstlr_spark.operators.caf import decode_caf
    from dstlr_spark.operators.multimodal import decode_audio

    desc = struct.pack(">d4sIIIII", 16000.0, b"ima4", 0, 34, 64, 1, 0)
    blob = b"caff" + struct.pack(">HH", 1, 0)
    blob += b"desc" + struct.pack(">q", len(desc)) + desc
    blob += b"data" + struct.pack(">q", 4 + 34) + bytes(4 + 34)
    for decode in (decode_caf, decode_audio):
        with pytest.raises(NotImplementedError, match="STUB"):
            decode(blob)


def test_fuzz_ima4_roundtrip():
    """ima4 AIFC at any channel count raises the STUB contract."""
    for ch in (1, 2, 3):
        with pytest.raises(NotImplementedError, match="STUB"):
            decode_aiff(
                _aifc(b"ima4", _pascal_even(b""), bytes(34 * ch), 64,
                      channels=ch)
            )
