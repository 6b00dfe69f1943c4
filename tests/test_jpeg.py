"""Lossless JPEG codec gate (dstlr_spark/operators/jpeg.py,
jpeg_arith.py, jpeg_hier.py).

The three decoded processes — SOF3 lossless, SOF11 lossless
arithmetic and Annex-J lossless hierarchies — are exact, so
round-trip equality is the oracle (no tolerance bands), backed by
hand-built streams so the decoder is not graded by its own encoder
alone, and the package-wide exception contract (malformed →
ValueError, unimplemented modes → NotImplementedError). Every other
T.81 process (DCT, subsampled / multi-scan / 4-component lossless,
DAC, restart intervals) is out of scope: the tests named after those
modes pin that each one raises the STUB contract instead of
misdecoding."""

import struct

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from dstlr_spark.operators.jpeg import decode_jpeg, encode_jpeg_lossless
from dstlr_spark.operators.jpeg_arith import encode_jpeg_lossless_arith
from dstlr_spark.operators.jpeg_hier import encode_jpeg_hier


def _seg(marker: int, body: bytes) -> bytes:
    return bytes([0xFF, marker]) + struct.pack(">H", 2 + len(body)) + body


def _frame(marker: int, prec: int = 8, ncomp: int = 1, hv: int = 0x11) -> bytes:
    """A SOF-shaped segment (SOFn or DHP) for an 8x8 frame; ``hv`` is
    the first component's sampling byte."""
    body = struct.pack(">BHHB", prec, 8, 8, ncomp)
    for c in range(ncomp):
        body += bytes([c + 1, hv if c == 0 else 0x11, 0])
    return _seg(marker, body)


def _stub(*segments: bytes) -> None:
    """SOI + segments + EOI must raise the STUB contract."""
    with pytest.raises(NotImplementedError, match="STUB"):
        decode_jpeg(b"\xff\xd8" + b"".join(segments) + b"\xff\xd9")


def _insert_before(stream: bytes, marker: bytes, seg: bytes) -> bytes:
    at = stream.find(marker)
    return stream[:at] + seg + stream[at:]


_DCT = (0xC0, 0xC1, 0xC2, 0xC9, 0xCA)


def test_gray_constant_blocks_exact():
    """Baseline (SOF0) gray DCT is out of scope."""
    _stub(_frame(0xC0))


def test_gray_random_offby_one_bound():
    """Extended sequential (SOF1) DCT is out of scope."""
    _stub(_frame(0xC1))


@pytest.mark.parametrize("subsample", ["444", "420"])
def test_rgb_solid_colors_match_analytic(subsample):
    """YCbCr DCT frames are out of scope at any chroma sampling."""
    _stub(_frame(0xC0, ncomp=3, hv=0x22 if subsample == "420" else 0x11))


def test_rgb_random_tolerance_and_420_shape():
    _stub(_frame(0xC0, ncomp=3, hv=0x22))


def test_restart_markers_do_not_change_pixels():
    """A non-zero DRI raises the STUB contract; a zero DRI (restarts
    off) decodes exactly; an RSTn without DRI is malformed."""
    rng = np.random.default_rng(13)
    img = rng.integers(0, 256, size=(16, 16), dtype=np.uint8)
    good = encode_jpeg_lossless(img)
    with pytest.raises(NotImplementedError, match="STUB"):
        decode_jpeg(_insert_before(good, b"\xff\xda", _seg(0xDD, b"\x00\x07")))
    off = _insert_before(good, b"\xff\xda", _seg(0xDD, b"\x00\x00"))
    assert (decode_jpeg(off)[..., 0] == img).all()
    with pytest.raises(ValueError):
        decode_jpeg(good[:-6] + b"\xff\xd0" + good[-6:])
    with pytest.raises(ValueError):
        decode_jpeg(_insert_before(good, b"\xff\xda", b"\xff\xdd\x00\x03\x00"))


def test_decoder_only_dc_stream():
    _stub(_frame(0xC0), _seg(0xDA, bytes([1, 1, 0, 0, 0, 0])))


def test_progressive_equals_baseline_exactly():
    """Progressive (SOF2) DCT is out of scope."""
    _stub(_frame(0xC2))


def test_progressive_scan_scripts_and_restarts():
    _stub(_seg(0xDD, b"\x00\x00"), _frame(0xC2, ncomp=3))


def test_progressive_partial_and_invalid_scans():
    _stub(_frame(0xC2), _seg(0xDA, bytes([1, 1, 0, 0, 0, 0x01])))


def test_malformed_and_stub_contract():
    """Package-wide exception contract: malformed → ValueError,
    unimplemented JPEG modes → NotImplementedError — never
    struct.error/KeyError/IndexError escaping into an Arrow batch."""
    rng = np.random.default_rng(15)
    img = rng.integers(0, 256, size=(16, 16), dtype=np.uint8)
    good = encode_jpeg_lossless(img)
    with pytest.raises(ValueError):
        decode_jpeg(good[: len(good) // 2])  # truncated entropy data
    with pytest.raises(ValueError):
        decode_jpeg(b"\xff\xd8\xff" + b"\0" * 32)  # garbage marker
    with pytest.raises(ValueError):
        decode_jpeg(b"PK\x03\x04")  # not a JPEG at all
    sof_at = good.find(b"\xff\xc3")
    for marker in (0xCD, 0xCE):  # differential frame without a DHP
        bad = bytearray(good)
        bad[sof_at + 1] = marker
        with pytest.raises(ValueError):
            decode_jpeg(bytes(bad))
    for marker in _DCT:
        bad = bytearray(good)
        bad[sof_at + 1] = marker
        with pytest.raises(NotImplementedError, match="STUB"):
            decode_jpeg(bytes(bad))
    bad = bytearray(good)
    bad[sof_at + 4] = 17  # lossless precision above 16
    with pytest.raises(ValueError):
        decode_jpeg(bytes(bad))
    # scan referencing a Huffman table that was never defined
    with pytest.raises(ValueError):
        decode_jpeg(good.replace(b"\xff\xc4", b"\xff\xfe", 1))


def test_dispatch_and_operator_isolation(spark):
    """decode_rgb_bytes routes FFD8 payloads to the JPEG path, and the
    decode_image_np operator isolates one corrupt and one DCT JPEG per
    batch (null-dimension rows) without killing their neighbors."""
    from dstlr_spark.operators.multimodal import decode_image_np, decode_rgb_bytes

    img = np.repeat(np.repeat(
        np.array([[40, 200], [90, 130]], np.uint8), 8, 0), 8, 1)
    payload = encode_jpeg_lossless(img)
    assert (decode_rgb_bytes(payload) == np.repeat(img[..., None], 3, 2)).all()

    media = spark.createDataFrame(
        [("a", bytearray(payload)),
         ("b", bytearray(b"\xff\xd8\xff" + b"\0" * 8)),
         ("c", bytearray(b"\xff\xd8" + _frame(0xC0) + b"\xff\xd9"))],
        "doc_id string, payload binary",
    )
    rows = {r["doc_id"]: r for r in decode_image_np(media).collect()}
    assert rows["a"]["width"] == 16 and rows["a"]["height"] == 16
    assert sum(rows["a"]["pixels"]) == int(img.astype(np.int64).sum()) * 3
    for doc in ("b", "c"):
        assert rows[doc]["width"] is None and rows[doc]["pixels"] is None


@settings(max_examples=20, deadline=None)
@given(
    marker=st.sampled_from(_DCT),
    prec=st.sampled_from([8, 12]),
    ncomp=st.integers(1, 4),
    hv=st.sampled_from([0x11, 0x21, 0x22]),
)
def test_fuzz_progressive_equals_baseline(marker, prec, ncomp, hv):
    """Every DCT frame shape raises the STUB contract at its SOF."""
    _stub(_frame(marker, prec=prec, ncomp=ncomp, hv=hv))


# --------------------------------------------------------------------------
# SOF3 lossless (T.81 Annex H) — the one JPEG mode with EXACT decode,
# so round-trip equality is the oracle (no tolerance bands)
# --------------------------------------------------------------------------


def test_lossless_roundtrip_all_predictors():
    """decode(encode_lossless(img, pred)) == img exactly for every
    H.1.2.1 predictor, gray and RGB, on dimensions that exercise the
    first-row/first-column boundary rules."""
    from dstlr_spark.operators.jpeg import encode_jpeg_lossless

    rng = np.random.default_rng(7)
    for pred in range(1, 8):
        img = rng.integers(0, 256, size=(13, 17), dtype=np.uint8)
        out = decode_jpeg(encode_jpeg_lossless(img, predictor=pred))
        assert out.shape == (13, 17, 3)
        assert (out == np.repeat(img[..., None], 3, 2)).all(), pred
    rgb = rng.integers(0, 256, size=(9, 11, 3), dtype=np.uint8)
    assert (decode_jpeg(encode_jpeg_lossless(rgb, predictor=4)) == rgb).all()
    # 1-pixel and 1-row/1-column degenerate shapes
    for shape in [(1, 1), (1, 9), (9, 1)]:
        img = rng.integers(0, 256, size=shape, dtype=np.uint8)
        assert (
            decode_jpeg(encode_jpeg_lossless(img, predictor=4))[..., 0] == img
        ).all()


def test_lossless_16bit_point_transform_and_restarts():
    """16-bit precision decodes to exact uint16; modulo-2^16
    difference wrap (the d == -32768 ≡ +32768 SSSS=16 case) survives
    extremes; restart intervals raise the STUB contract."""
    rng = np.random.default_rng(11)
    img16 = rng.integers(0, 65536, size=(7, 5), dtype=np.uint16)
    out = decode_jpeg(encode_jpeg_lossless(img16, predictor=7))
    assert out.dtype == np.uint16
    assert (out[..., 0] == img16).all()
    # extreme alternation forces ±32768-class differences
    ext = np.zeros((4, 4), dtype=np.uint16)
    ext[::2, ::2] = 65535
    ext[1::2, 1::2] = 65535
    assert (
        decode_jpeg(encode_jpeg_lossless(ext, predictor=1))[..., 0] == ext
    ).all()
    _stub(_seg(0xDD, b"\x00\x25"), _frame(0xC3, prec=16))


@settings(max_examples=20, deadline=None)
@given(
    w=st.integers(1, 20),
    h=st.integers(1, 16),
    seed=st.integers(0, 2**31),
    color=st.booleans(),
    pred=st.integers(1, 7),
    deep=st.booleans(),
)
def test_fuzz_lossless_exact(w, h, seed, color, pred, deep):
    rng = np.random.default_rng(seed)
    shape = (h, w, 3) if color else (h, w)
    if deep:
        img = rng.integers(0, 65536, size=shape, dtype=np.uint16)
    else:
        img = rng.integers(0, 256, size=shape, dtype=np.uint8)
    out = decode_jpeg(encode_jpeg_lossless(img, predictor=pred))
    got = out if color else out[..., 0]
    assert (got == img).all()


def test_lossless_subsampled_roundtrip():
    """Subsampled lossless frames raise the STUB contract."""
    _stub(_frame(0xC3, ncomp=3, hv=0x22))


def test_lossless_subsampled_groups_16bit_and_legacy():
    _stub(_frame(0xC3, prec=16, ncomp=3, hv=0x21))


def test_fuzz_lossless_subsampled_exact():
    for hv in (0x12, 0x21, 0x22, 0x41):
        _stub(_frame(0xC3, ncomp=3, hv=hv))


def test_lossless_subsampled_arith_equals_huffman():
    _stub(_frame(0xCB, ncomp=3, hv=0x22))


def test_lossless_malformed_contract():
    """Lossless scan-header violations are ValueError (malformed), the
    remaining SOF modes stay NotImplementedError, and decode_rgb_bytes
    dispatches SOF3 payloads through the exact path."""
    from dstlr_spark.operators.multimodal import decode_rgb_bytes

    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, size=(6, 6), dtype=np.uint8)
    good = encode_jpeg_lossless(img, predictor=5)
    assert (decode_rgb_bytes(good)[..., 0] == img).all()
    sos_at = good.find(b"\xff\xda")
    bad = bytearray(good)
    bad[sos_at + 7] = 0  # Ss (predictor) = 0: invalid for lossless
    with pytest.raises(ValueError):
        decode_jpeg(bytes(bad))
    bad = bytearray(good)
    bad[sos_at + 8] = 5  # Se must be 0 in a lossless scan
    with pytest.raises(ValueError):
        decode_jpeg(bytes(bad))
    bad = bytearray(good)
    bad[sos_at + 9] = 8  # Pt >= precision
    with pytest.raises(ValueError):
        decode_jpeg(bytes(bad))
    with pytest.raises(ValueError):
        decode_jpeg(good[: len(good) - 8])  # truncated entropy data
    sof_at = good.find(b"\xff\xc3")
    bad = bytearray(good)
    # SOF7's mode is now implemented (jpeg_hier), so a differential
    # frame with no leading DHP is MALFORMED, not unsupported
    bad[sof_at + 1] = 0xC7
    with pytest.raises(ValueError):
        decode_jpeg(bytes(bad))


# --------------------------------------------------------------------------
# SOF11 lossless arithmetic (QM coder) — exact, and equal to the SOF3
# twin's decode
# --------------------------------------------------------------------------


def test_qm_coder_roundtrip_fuzz():
    """The raw QM coder round-trips arbitrary decision sequences over
    adversarial context schedules — including all-same-bit runs (deep
    MPS chains), alternating bits (switch churn), and many contexts
    interleaved (carry/stacked-0xFF paths)."""
    import random

    from dstlr_spark.operators.jpeg_arith import (
        _ArithDecoder,
        _ArithEncoder,
    )

    rng = random.Random(17)
    schedules = []
    for n, nctx, p1 in [(1, 1, 0.5), (50, 1, 0.0), (50, 1, 1.0),
                        (500, 4, 0.5), (2000, 16, 0.9),
                        (2000, 16, 0.02), (5000, 64, 0.3)]:
        schedules.append(
            [(rng.randrange(nctx), 1 if rng.random() < p1 else 0)
             for _ in range(n)]
        )
    # worst-case alternation on one context
    schedules.append([(0, i & 1) for i in range(3000)])
    for sched in schedules:
        nctx = max(c for c, _ in sched) + 1
        enc = _ArithEncoder()
        stats = bytearray(nctx)
        for c, bit in sched:
            enc.encode(stats, c, bit)
        data = enc.finish()
        # decoder reads the UNSTUFFED byte stream
        dec = _ArithDecoder(data.replace(b"\xff\x00", b"\xff"))
        stats = bytearray(nctx)
        got = [dec.decode(stats, c) for c, _ in sched]
        assert got == [b for _, b in sched]


def test_arith_equals_baseline_suite():
    """Sequential arithmetic (SOF9) DCT is out of scope."""
    _stub(_frame(0xC9, ncomp=3))


def test_arith_dac_conditioning():
    """A DAC segment raises the STUB contract (only the default
    conditioning decodes)."""
    img = np.arange(64, dtype=np.uint8).reshape(8, 8)
    good = encode_jpeg_lossless_arith(img)
    with pytest.raises(NotImplementedError, match="STUB"):
        decode_jpeg(_insert_before(good, b"\xff\xda", _seg(0xCC, b"\x00\x52")))
    assert (decode_jpeg(good)[..., 0] == img).all()


def test_arith_malformed_and_stub_contract():
    _stub(_frame(0xC9, prec=12))


def test_fuzz_arith_equals_baseline():
    for ncomp in (1, 2, 3, 4):
        _stub(_frame(0xC9, ncomp=ncomp))


def test_progressive_arith_equals_baseline_suite():
    """Progressive arithmetic (SOF10) DCT is out of scope."""
    _stub(_frame(0xCA, ncomp=3))


def test_progressive_arith_malformed_contract():
    _stub(_frame(0xCA), _seg(0xDA, bytes([1, 1, 0, 1, 5, 0])))


def test_fuzz_progressive_arith_equals_baseline():
    for ncomp in (1, 3):
        _stub(_frame(0xCA, ncomp=ncomp, hv=0x22))


def test_lossless_arith_roundtrip_all_predictors():
    """decode(encode_lossless_arith(img, pred)) == img EXACTLY for
    every H.1.2.1 predictor, gray and RGB, degenerate shapes included
    — and equals the SOF3 Huffman twin's decode (same prediction
    semantics, different entropy layer)."""
    rng = np.random.default_rng(41)
    for pred in range(1, 8):
        img = rng.integers(0, 256, size=(13, 17), dtype=np.uint8)
        out = decode_jpeg(encode_jpeg_lossless_arith(img, predictor=pred))
        assert out.shape == (13, 17, 3)
        assert (out == np.repeat(img[..., None], 3, 2)).all(), pred
    rgb = rng.integers(0, 256, size=(9, 11, 3), dtype=np.uint8)
    assert (
        decode_jpeg(encode_jpeg_lossless_arith(rgb, predictor=4)) == rgb
    ).all()
    assert (
        decode_jpeg(encode_jpeg_lossless_arith(rgb, predictor=4))
        == decode_jpeg(encode_jpeg_lossless(rgb, predictor=4))
    ).all()
    for shape in [(1, 1), (1, 9), (9, 1)]:
        img = rng.integers(0, 256, size=shape, dtype=np.uint8)
        assert (
            decode_jpeg(encode_jpeg_lossless_arith(img))[..., 0] == img
        ).all()
    # arithmetic coding beats the fixed Huffman table on random content
    big = rng.integers(0, 256, size=(48, 48, 3), dtype=np.uint8)
    assert len(encode_jpeg_lossless_arith(big)) < len(
        encode_jpeg_lossless(big)
    )


def test_lossless_arith_16bit_pt_restarts_dac():
    """16-bit precision (incl. the ±32768-class mod-2^16 differences
    extreme alternation forces) is exact; restart intervals and DAC
    conditioning raise the STUB contract."""
    rng = np.random.default_rng(43)
    img16 = rng.integers(0, 65536, size=(6, 9), dtype=np.uint16)
    out = decode_jpeg(encode_jpeg_lossless_arith(img16))
    assert out.dtype == np.uint16
    assert (out[..., 0] == img16).all()
    # extreme alternation: ±32768-class differences every sample
    alt = np.zeros((4, 8), np.uint16)
    alt[:, 1::2] = 65535
    assert (
        decode_jpeg(encode_jpeg_lossless_arith(alt, predictor=1))[..., 0]
        == alt
    ).all()
    _stub(_frame(0xCB), _seg(0xDD, b"\x00\x02"))
    _stub(_seg(0xCC, b"\x00\x52"), _frame(0xCB))


def test_lossless_arith_malformed_contract():
    rng = np.random.default_rng(47)
    img = rng.integers(0, 256, size=(8, 8), dtype=np.uint8)
    good = encode_jpeg_lossless_arith(img)
    sos_at = good.find(b"\xff\xda")
    bad = bytearray(good)
    bad[sos_at + 7] = 0  # predictor 0 invalid
    with pytest.raises(ValueError):
        decode_jpeg(bytes(bad))
    bad = bytearray(good)
    bad[sos_at + 9] = 8  # point transform >= precision
    with pytest.raises(ValueError):
        decode_jpeg(bytes(bad))
    # an RSTn marker inside the entropy data without a DRI segment
    with pytest.raises(ValueError):
        decode_jpeg(good[:-4] + b"\xff\xd0" + good[-4:])
    with pytest.raises(ValueError):
        encode_jpeg_lossless_arith(img, predictor=9)


@settings(max_examples=15, deadline=None)
@given(
    w=st.integers(1, 20),
    h=st.integers(1, 16),
    seed=st.integers(0, 2**31),
    color=st.booleans(),
    pred=st.integers(1, 7),
    deep=st.booleans(),
)
def test_fuzz_lossless_arith_exact(w, h, seed, color, pred, deep):
    rng = np.random.default_rng(seed)
    shape = (h, w, 3) if color else (h, w)
    dt = np.uint16 if deep else np.uint8
    img = rng.integers(0, 65536 if deep else 256, size=shape, dtype=dt)
    out = decode_jpeg(encode_jpeg_lossless_arith(img, predictor=pred))
    got = out if color else out[..., 0]
    assert got.dtype == dt
    assert (got == img).all()


# --------------------------------------------------------------------------
# Annex-J lossless hierarchies
# --------------------------------------------------------------------------


def test_hierarchical_lossless_exact_roundtrip():
    """Annex-J pyramid: DHP + SOF3 first frame + EXP/SOF7 differential
    frames reconstruct the planted array bit-for-bit at every level
    count, gray and RGB, even and odd dims, 8- and 16-bit."""
    rng = np.random.default_rng(41)
    for shape in [(8, 8), (9, 13), (1, 7), (16, 16, 3), (11, 5, 3)]:
        img = rng.integers(0, 256, size=shape, dtype=np.uint8)
        for levels in (1, 2, 3):
            if (1 << (levels - 1)) > max(img.shape[:2]):
                continue
            out = decode_jpeg(encode_jpeg_hier(img, levels=levels))
            exp = img if img.ndim == 3 else np.repeat(img[..., None], 3, 2)
            assert out.dtype == np.uint8
            assert (out == exp).all(), (shape, levels)
    img16 = rng.integers(0, 65536, size=(10, 14), dtype=np.uint16)
    out = decode_jpeg(encode_jpeg_hier(img16, levels=3))
    assert out.dtype == np.uint16
    assert (out[..., 0] == img16).all()


def test_hierarchical_predictors_and_restarts():
    """Every predictor reconstructs exactly; a restart interval
    inside a hierarchy raises the STUB contract."""
    rng = np.random.default_rng(43)
    g = rng.integers(0, 256, size=(9, 9), dtype=np.uint8)
    for pred in range(1, 8):
        out = decode_jpeg(encode_jpeg_hier(g, levels=2, predictor=pred))
        assert (out[..., 0] == g).all(), pred
    good = encode_jpeg_hier(g, levels=2)
    with pytest.raises(NotImplementedError, match="STUB"):
        decode_jpeg(_insert_before(good, b"\xff\xc3", _seg(0xDD, b"\x00\x07")))


def test_hierarchical_exception_contract():
    """Malformed hierarchy → ValueError in every corner of the marker
    walk (the pinned package contract); out-of-scope frame kinds →
    NotImplementedError."""
    rng = np.random.default_rng(47)
    img = rng.integers(0, 256, size=(8, 8), dtype=np.uint8)
    good = encode_jpeg_hier(img, levels=2)

    # bare SOF7 / SOF6 without DHP: malformed, not a stub
    for marker in (0xC7, 0xC6):
        with pytest.raises(ValueError):
            decode_jpeg(b"\xff\xd8" + _frame(marker))

    # truncated EXP payload
    bad = good.replace(b"\xff\xdf\x00\x03\x11", b"\xff\xdf\x00\x02")
    with pytest.raises(ValueError):
        decode_jpeg(bad)

    # differential frame whose dims do not match the expanded reference
    sof7_at = good.find(b"\xff\xc7")
    bad = bytearray(good)
    bad[sof7_at + 6] += 1  # bump frame height low byte
    with pytest.raises(ValueError):
        decode_jpeg(bytes(bad))

    # sequential-DCT differential relabel: out of scope
    bad = bytearray(good)
    bad[sof7_at + 1] = 0xC5
    with pytest.raises(NotImplementedError, match="STUB"):
        decode_jpeg(bytes(bad))

    # second non-differential frame where the differential should be
    bad = bytearray(good)
    bad[sof7_at + 1] = 0xC3
    with pytest.raises(ValueError):
        decode_jpeg(bytes(bad))

    # truncated entropy data in the differential scan
    with pytest.raises(ValueError):
        decode_jpeg(good[:-8] + b"\xff\xd9")


@settings(max_examples=20, deadline=None)
@given(
    w=st.integers(1, 20),
    h=st.integers(1, 16),
    seed=st.integers(0, 2**31),
    color=st.booleans(),
    pred=st.integers(1, 7),
    deep=st.booleans(),
    levels=st.integers(1, 4),
)
def test_fuzz_hierarchical_exact(w, h, seed, color, pred, deep, levels):
    if (1 << (levels - 1)) > max(h, w):
        levels = 1
    rng = np.random.default_rng(seed)
    shape = (h, w, 3) if color else (h, w)
    dt = np.uint16 if deep else np.uint8
    img = rng.integers(0, 65536 if deep else 256, size=shape, dtype=dt)
    out = decode_jpeg(encode_jpeg_hier(img, levels=levels, predictor=pred))
    got = out if color else out[..., 0]
    assert got.dtype == dt
    assert (got == img).all()


def test_hierarchical_arith_exact():
    """Arithmetic-coded frames inside a hierarchy are out of scope."""
    for marker in (0xCB, 0xCF):
        _stub(_frame(0xDE), _frame(marker))


def test_12bit_dct_decode():
    _stub(_frame(0xC1, prec=12))


def test_12bit_arithmetic_equals_huffman():
    _stub(_frame(0xC9, prec=12, ncomp=3))


def test_multiscan_sequential_equals_interleaved():
    _stub(_frame(0xC0, ncomp=3), _seg(0xDA, bytes([1, 1, 0, 0, 63, 0])))


def test_multiscan_malformed_contract():
    _stub(_frame(0xC1, ncomp=3), _seg(0xDA, bytes([2, 1, 0, 2, 0, 0, 63, 0])))


def test_cmyk_and_ycck_decode():
    """Adobe CMYK / YCCK DCT frames are out of scope."""
    adobe = _seg(0xEE, b"Adobe\x00\x64\x00\x00\x00\x00\x02")
    _stub(adobe, _frame(0xC0, ncomp=4))


def test_4comp_all_modes_agree():
    """4-component frames raise the STUB contract in every process."""
    for marker in (0xC3, 0xCB) + _DCT:
        _stub(_frame(marker, ncomp=4))
    _stub(_frame(0xDE, ncomp=4))


def test_lossless_multiscan_exact():
    """Multi-scan (non-interleaved) lossless frames are out of scope."""
    dht = _seg(0xC4, bytes([0x00]) + bytes(7) + bytes([17]) + bytes(8) + bytes(range(17)))
    _stub(_frame(0xC3, ncomp=3), dht, _seg(0xDA, bytes([1, 1, 0, 4, 0, 0])))


def test_arith_multiscan_equals_huffman():
    _stub(_frame(0xC9, ncomp=3), _seg(0xDA, bytes([1, 1, 0, 0, 63, 0])))


def test_arith_lossless_multiscan_exact():
    _stub(_frame(0xCB, ncomp=3), _seg(0xDA, bytes([2, 1, 0, 2, 0, 4, 0, 0])))


def test_hierarchical_cmyk_exact():
    _stub(_frame(0xDE, ncomp=4), _frame(0xC3, ncomp=4))


def test_hierarchical_dct_exact_gates():
    """DCT frames inside a hierarchy are out of scope."""
    for marker in (0xC0, 0xC1, 0xC9):
        _stub(_frame(0xDE), _frame(marker))


def test_hierarchical_dct_contract():
    img = np.arange(64, dtype=np.uint8).reshape(8, 8)
    good = encode_jpeg_hier(img, levels=2)
    for marker in (0xC5, 0xCD):
        bad = bytearray(good)
        bad[good.find(b"\xff\xc7") + 1] = marker
        with pytest.raises(NotImplementedError, match="STUB"):
            decode_jpeg(bytes(bad))


def test_hierarchical_progressive_exact_gates():
    """Progressive frames inside a hierarchy are out of scope."""
    for marker in (0xC2, 0xCA):
        _stub(_frame(0xDE), _frame(marker))


def test_fuzz_hierarchical_progressive_exact():
    img = np.arange(64, dtype=np.uint8).reshape(8, 8)
    good = encode_jpeg_hier(img, levels=2)
    for marker in (0xC6, 0xCE):
        bad = bytearray(good)
        bad[good.find(b"\xff\xc7") + 1] = marker
        with pytest.raises(NotImplementedError, match="STUB"):
            decode_jpeg(bytes(bad))


def test_fuzz_hierarchical_dct_lossless_close():
    _stub(_frame(0xDE, ncomp=3), _frame(0xC0, ncomp=3))


def test_two_component_frames_every_mode():
    """T.81-legal 2-component frames decode under the gray+aux-drop
    convention (component 0 replicates to RGB, the auxiliary plane is
    dropped — the PNG gray+alpha convention): lossless is EXACT at 8
    and 16 bits under both entropy layers; DCT raises the STUB
    contract. A 5-component frame is malformed (ValueError)."""
    rng = np.random.default_rng(5)
    img2 = rng.integers(0, 256, (17, 13, 2)).astype(np.uint8)
    exp = np.repeat(img2[..., :1], 3, axis=2)
    for pred in (1, 4, 7):
        assert (
            decode_jpeg(encode_jpeg_lossless(img2, predictor=pred)) == exp
        ).all()
    assert (decode_jpeg(encode_jpeg_lossless_arith(img2)) == exp).all()
    img16 = rng.integers(0, 65536, (9, 11, 2)).astype(np.uint16)
    got = decode_jpeg(encode_jpeg_lossless(img16, predictor=7))
    assert got.dtype == np.uint16
    assert (got == np.repeat(img16[..., :1], 3, axis=2)).all()
    for marker in _DCT:
        _stub(_frame(marker, ncomp=2))
    with pytest.raises(ValueError):
        decode_jpeg(b"\xff\xd8" + _frame(0xC3, ncomp=5))


def test_two_component_hierarchical_exact():
    """2-component frames inside an Annex-J lossless hierarchy decode
    exactly under the gray+aux-drop convention, multi-level pyramids
    included."""
    rng = np.random.default_rng(3)
    img2 = rng.integers(0, 256, (12, 10, 2)).astype(np.uint8)
    exp = np.repeat(img2[..., :1], 3, axis=2)
    for levels in (1, 2, 3):
        assert (decode_jpeg(encode_jpeg_hier(img2, levels=levels)) == exp).all()
