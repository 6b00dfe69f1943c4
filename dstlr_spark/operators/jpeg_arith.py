"""Lossless arithmetic-coded JPEG (SOF11): the QM coder + T.81 H.1.2.

The SOF3 prediction walk of :mod:`dstlr_spark.operators.jpeg` with
the entropy layer swapped for the QM coder. Both directions live here:

- :class:`_ArithDecoder` / :class:`_ArithEncoder` — the QM binary
  arithmetic coder (T.81 Annex D): 16-bit probability interval with
  conditional MPS/LPS exchange, renormalization-driven probability
  estimation over the 113-state table, byte output with carry
  propagation over stacked 0xFF bytes (3 spacer bits, D.1.6) and the
  most-trailing-zeros flush (D.1.8), 0xFF00 byte stuffing.
- the lossless statistical model (T.81 H.1.2): each sample difference
  conditioned on the 5×5 classification of its left and upper
  neighbors' gradient categories, magnitude categories and bit
  patterns over the X/M context runs, under the default conditioning
  (L=0, U=1). A DAC segment raises the STUB contract (jpeg.py).

The state-transition table is T.81 Table D.3 as reproduced in public
QM-coder implementations. CONFORMANCE CAVEAT (honest): this sandbox
has no external JPEG codec, so cross-implementation interop cannot be
executed here; what IS machine-checked is (a) coder round-trip over
arbitrary decision sequences and adversarial context schedules, and
(b) end-to-end pixel EQUALITY between the SOF11 and SOF3 decodes of
the same image (tests/test_jpeg.py). The reference engine itself
(src/main/scala/io/dstlr) has no media path — this is §2.12 mandate
surface.

Scale shape: pure codec layer — runs inside the Arrow-batched
``decode_image_np`` stage, map-only, per-document; nothing here
shuffles.
"""

from __future__ import annotations

import struct

#: T.81 Table D.3 — Qe value, Next_Index_MPS, Next_Index_LPS,
#: Switch_MPS — plus the non-adaptive "fixed 0.5" bin at index 113
#: (self-transitions, no switch) used for AC sign decisions.
_QE = (
    (0x5A1D, 1, 1, 1), (0x2586, 2, 14, 0), (0x1114, 3, 16, 0),
    (0x080B, 4, 18, 0), (0x03D8, 5, 20, 0), (0x01DA, 6, 23, 0),
    (0x00E5, 7, 25, 0), (0x006F, 8, 28, 0), (0x0036, 9, 30, 0),
    (0x001A, 10, 33, 0), (0x000D, 11, 35, 0), (0x0006, 12, 9, 0),
    (0x0003, 13, 10, 0), (0x0001, 13, 12, 0), (0x5A7F, 15, 15, 1),
    (0x3F25, 16, 36, 0), (0x2CF2, 17, 38, 0), (0x207C, 18, 39, 0),
    (0x17B9, 19, 40, 0), (0x1182, 20, 42, 0), (0x0CEF, 21, 43, 0),
    (0x09A1, 22, 45, 0), (0x072F, 23, 46, 0), (0x055C, 24, 48, 0),
    (0x0406, 25, 49, 0), (0x0303, 26, 51, 0), (0x0240, 27, 52, 0),
    (0x01B1, 28, 54, 0), (0x0144, 29, 56, 0), (0x00F5, 30, 57, 0),
    (0x00B7, 31, 59, 0), (0x008A, 32, 60, 0), (0x0068, 33, 62, 0),
    (0x004E, 34, 63, 0), (0x003B, 35, 32, 0), (0x002C, 9, 33, 0),
    (0x5AE1, 37, 37, 1), (0x484C, 38, 64, 0), (0x3A0D, 39, 65, 0),
    (0x2EF1, 40, 67, 0), (0x261F, 41, 68, 0), (0x1F33, 42, 69, 0),
    (0x19A8, 43, 70, 0), (0x1518, 44, 72, 0), (0x1177, 45, 73, 0),
    (0x0E74, 46, 74, 0), (0x0BFB, 47, 75, 0), (0x09F8, 48, 77, 0),
    (0x0861, 49, 78, 0), (0x0706, 50, 79, 0), (0x05CD, 51, 48, 0),
    (0x04DE, 52, 50, 0), (0x040F, 53, 50, 0), (0x0363, 54, 51, 0),
    (0x02D4, 55, 52, 0), (0x025C, 56, 53, 0), (0x01F8, 57, 54, 0),
    (0x01A4, 58, 55, 0), (0x0160, 59, 56, 0), (0x0125, 60, 57, 0),
    (0x00F6, 61, 58, 0), (0x00CB, 62, 59, 0), (0x00AB, 63, 61, 0),
    (0x008F, 32, 61, 0), (0x5B12, 65, 65, 1), (0x4D04, 66, 80, 0),
    (0x412C, 67, 81, 0), (0x37D8, 68, 82, 0), (0x2FE8, 69, 83, 0),
    (0x293C, 70, 84, 0), (0x2379, 71, 86, 0), (0x1EDF, 72, 87, 0),
    (0x1AA9, 73, 87, 0), (0x174E, 74, 72, 0), (0x1424, 75, 72, 0),
    (0x119C, 76, 74, 0), (0x0F6B, 77, 74, 0), (0x0D51, 78, 75, 0),
    (0x0BB6, 79, 77, 0), (0x0A40, 48, 77, 0), (0x5832, 81, 80, 1),
    (0x4D1C, 82, 88, 0), (0x438E, 83, 89, 0), (0x3BDD, 84, 90, 0),
    (0x34EE, 85, 91, 0), (0x2EAE, 86, 92, 0), (0x299A, 87, 93, 0),
    (0x2516, 71, 86, 0), (0x5570, 89, 88, 1), (0x4CA9, 90, 95, 0),
    (0x44D9, 91, 96, 0), (0x3E22, 92, 97, 0), (0x3824, 93, 99, 0),
    (0x32B4, 94, 99, 0), (0x2E17, 86, 93, 0), (0x56A8, 96, 95, 1),
    (0x4F46, 97, 101, 0), (0x47E5, 98, 102, 0), (0x41CF, 99, 103, 0),
    (0x3C3D, 100, 104, 0), (0x375E, 93, 99, 0), (0x5231, 102, 105, 0),
    (0x4C0F, 103, 106, 0), (0x4639, 104, 107, 0), (0x415E, 99, 103, 0),
    (0x5627, 106, 105, 1), (0x50E7, 107, 108, 0), (0x4B85, 103, 109, 0),
    (0x5597, 109, 110, 0), (0x504F, 107, 111, 0), (0x5A10, 111, 110, 1),
    (0x5522, 109, 112, 0), (0x59EB, 111, 112, 1), (0x5A1D, 113, 113, 0),
)

class _ArithDecoder:
    """QM decoder over one pre-unstuffed entropy segment. Bytes past
    the segment end feed as zeros (T.81's marker-stuffing convention:
    the flush may drop trailing 0x00 bytes, so running off the end is
    normal, and decoding structure — not byte exhaustion — bounds the
    walk). ``stats`` entries pack (MPS << 7) | state_index, exactly
    one byte per context bin."""

    __slots__ = ("d", "pos", "acc", "nbits", "c", "a")

    def __init__(self, data: bytes):
        self.d = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0
        self.c = self._bits(16)
        self.a = 0x10000

    def _bits(self, k: int) -> int:
        while self.nbits < k:
            byte = self.d[self.pos] if self.pos < len(self.d) else 0
            self.pos += 1
            self.acc = (self.acc << 8) | byte
            self.nbits += 8
        self.nbits -= k
        v = self.acc >> self.nbits
        self.acc &= (1 << self.nbits) - 1
        return v

    def decode(self, stats: bytearray, i: int) -> int:
        sv = stats[i]
        qe, nmps, nlps, sw = _QE[sv & 0x7F]
        mps = sv >> 7
        a = self.a - qe
        if self.c < a:
            if a >= 0x8000:  # MPS without renormalization
                self.a = a
                return mps
            # bottom interval + renorm: conditional exchange decides
            if a < qe:
                bit = 1 - mps
                if sw:
                    mps ^= 1
                stats[i] = (mps << 7) | nlps
            else:
                bit = mps
                stats[i] = (mps << 7) | nmps
        else:
            # top interval (width qe)
            self.c -= a
            if a < qe:
                bit = mps
                stats[i] = (mps << 7) | nmps
            else:
                bit = 1 - mps
                if sw:
                    mps ^= 1
                stats[i] = (mps << 7) | nlps
            a = qe
        c = self.c
        while a < 0x8000:
            a <<= 1
            c = (c << 1) | self._bits(1)
        self.a = a
        self.c = c
        return bit


class _ArithEncoder:
    """QM encoder: mirror of :class:`_ArithDecoder`. Byte output with
    carry propagation (buffer + stacked-0xFF + deferred-zero
    bookkeeping, T.81 D.1.6 — the 3 spacer bits in C guarantee a
    post-carry byte is never 0xFF) and 0xFF00 stuffing at emit time."""

    __slots__ = ("a", "c", "ct", "buffer", "sc", "zc", "out")

    def __init__(self):
        self.a = 0x10000
        self.c = 0
        self.ct = 11
        self.buffer = -1  # no byte pending yet
        self.sc = 0  # stacked 0xFF bytes awaiting carry resolution
        self.zc = 0  # deferred 0x00 bytes (dropped if the stream ends)
        self.out = bytearray()

    def _emit(self, v: int) -> None:
        self.out.append(v)
        if v == 0xFF:
            self.out.append(0x00)  # byte stuffing

    def _emit_zeros(self) -> None:
        if self.zc:
            self.out += b"\x00" * self.zc
            self.zc = 0

    def _byte_out(self) -> None:
        temp = self.c >> 19
        if temp > 0xFF:
            # carry: bump the pending byte, stacked FFs become zeros
            if self.buffer >= 0:
                self._emit_zeros()
                self._emit(self.buffer + 1)
            self.zc += self.sc
            self.sc = 0
            self.buffer = temp & 0xFF
        elif temp == 0xFF:
            self.sc += 1  # may still be carried over
        else:
            if self.buffer == 0:
                self.zc += 1
            elif self.buffer >= 0:
                self._emit_zeros()
                self._emit(self.buffer)
            if self.sc:
                self._emit_zeros()
                for _ in range(self.sc):
                    self._emit(0xFF)
                self.sc = 0
            self.buffer = temp
        self.c &= 0x7FFFF
        self.ct = 8

    def encode(self, stats: bytearray, i: int, bit: int) -> None:
        sv = stats[i]
        qe, nmps, nlps, sw = _QE[sv & 0x7F]
        mps = sv >> 7
        self.a -= qe
        if bit == mps:
            if self.a >= 0x8000:
                return  # no renormalization, no state change
            if self.a < qe:  # conditional exchange: MPS takes the top
                self.c += self.a
                self.a = qe
            stats[i] = (mps << 7) | nmps
        else:
            if self.a >= qe:  # normal LPS: top interval
                self.c += self.a
                self.a = qe
            # else conditional exchange: LPS keeps the bottom interval
            if sw:
                mps ^= 1
            stats[i] = (mps << 7) | nlps
        while True:
            self.a <<= 1
            self.c <<= 1
            self.ct -= 1
            if self.ct == 0:
                self._byte_out()
            if self.a >= 0x8000:
                break

    def finish(self) -> bytes:
        """T.81 D.1.8: point C at the value in the final interval with
        the most trailing zeros, flush, drop disposable trailing
        zeros."""
        temp = (self.a - 1 + self.c) & 0xFFFF0000
        self.c = temp + 0x8000 if temp < self.c else temp
        self.c <<= self.ct
        if self.c & 0xF8000000:
            # final carry over the pending byte + stacked FFs
            if self.buffer >= 0:
                self._emit_zeros()
                self._emit(self.buffer + 1)
            self.zc += self.sc
            self.sc = 0
        else:
            if self.buffer == 0:
                self.zc += 1
            elif self.buffer >= 0:
                self._emit_zeros()
                self._emit(self.buffer)
            if self.sc:
                self._emit_zeros()
                for _ in range(self.sc):
                    self._emit(0xFF)
                self.sc = 0
        # final two bytes only when non-zero (trailing zeros and the
        # deferred-zero run are disposable — the decoder zero-fills)
        if self.c & 0x7FFF800:
            self._emit_zeros()
            self._emit((self.c >> 19) & 0xFF)
            if self.c & 0x7F800:
                self._emit((self.c >> 11) & 0xFF)
        return bytes(self.out)


# --------------------------------------------------------------------------
# Lossless arithmetic (SOF11): Annex-H prediction over the QM coder
# --------------------------------------------------------------------------

#: lossless statistics area (T.81 H.1.2): 25 gradient-conditioned
#: context groups × 4 decision bins (S0/SS/SP/SN) = bins 0-99, then
#: TWO magnitude runs of 29 bins each (X1-X15 + the per-category
#: shared-M bins at +14), selected by whether the vertical gradient
#: Db classifies as large — 158 bins total.
_LL_STAT_BINS = 158
_LL_X_BASE = (100, 129)


def _decode_ll_diff(dec, stats, cat_a, cat_b):
    """One lossless difference off the decoder, conditioned on the
    (left, above) gradient categories; returns (diff, category)."""
    s0 = 4 * (cat_b * 5 + cat_a)
    if dec.decode(stats, s0) == 0:
        return 0, 0
    sign = dec.decode(stats, s0 + 1)
    st = s0 + 2 + sign
    m = dec.decode(stats, st)
    if m:
        st = _LL_X_BASE[1 if cat_b >= 3 else 0]
        while dec.decode(stats, st):
            m <<= 1
            if m == 0x8000:
                raise ValueError("JPEG arithmetic lossless magnitude overflow")
            st += 1
    # default conditioning (L=0, U=1): magnitude class m ≤ 1 is small
    cat = (1 if m <= 1 else 3) + sign
    v = m
    st += 14
    while m > 1:
        m >>= 1
        if dec.decode(stats, st):
            v |= m
    v += 1
    return (-v if sign else v), cat


def _encode_ll_diff(enc, stats, cat_a, cat_b, diff):
    """Twin of :func:`_decode_ll_diff`; returns the coded diff's
    category for the caller's gradient bookkeeping."""
    s0 = 4 * (cat_b * 5 + cat_a)
    if diff == 0:
        enc.encode(stats, s0, 0)
        return 0
    enc.encode(stats, s0, 1)
    sign = 1 if diff < 0 else 0
    v = -diff if sign else diff
    enc.encode(stats, s0 + 1, sign)
    st = s0 + 2 + sign
    m = 0
    v -= 1
    if v:
        enc.encode(stats, st, 1)
        m = 1
        v2 = v
        st = _LL_X_BASE[1 if cat_b >= 3 else 0]
        while v2 > 1:
            v2 >>= 1
            enc.encode(stats, st, 1)
            m <<= 1
            st += 1
    enc.encode(stats, st, 0)
    # default conditioning (L=0, U=1): magnitude class m ≤ 1 is small
    cat = (1 if m <= 1 else 3) + sign
    st += 14
    mm = m
    while mm > 1:
        mm >>= 1
        enc.encode(stats, st, 1 if (mm & v) else 0)
    return cat


def decode_lossless_scan_arith(b, pos, frame, scan, prec, predictor, pt):
    """SOF11 lossless-arithmetic scan: the SOF3 prediction walk
    (identical predictors, modulo-2^16 arithmetic and boundary rules
    — see ``jpeg._decode_lossless_scan``) with the entropy layer
    swapped for the QM coder under the T.81 H.1.2 statistical model:
    each difference rides the F.1.4.4.1 decision tree conditioned on
    the 5×5 classification of the two neighbor gradients Da (left) and
    Db (above), with the magnitude-run bins split on Db-large, under
    the default conditioning (L=0, U=1). Gradients outside the scan
    classify as zero. Exact by construction, so round-trip equality —
    not tolerance — is the gate."""
    from dstlr_spark.operators.jpeg import (
        _entropy_segments,
        _ll_predict,
        _ll_to_rgb,
    )

    h, w, comps = frame
    segs, _end = _entropy_segments(b, pos)
    if len(segs) > 1:
        raise ValueError("JPEG RST marker without a DRI segment")
    default = 1 << (prec - pt - 1)
    nc = len(comps)
    planes = [[[0] * w for _ in range(h)] for _ in range(nc)]
    dec = _ArithDecoder(segs[0][0])
    stats = {td: bytearray(_LL_STAT_BINS) for _, td, _ in scan}
    cat_above = [[0] * w for _ in range(nc)]  # per-column Db categories
    for m in range(h * w):
        r, c = divmod(m, w)
        if c == 0:
            cat_left = [0] * nc  # Da category (left neighbor, this row)
        for ci in range(nc):
            cb = cat_above[ci][c]
            d, cat = _decode_ll_diff(dec, stats[scan[ci][1]], cat_left[ci], cb)
            p = planes[ci]
            px = _ll_predict(p, r, c, predictor, default, m == 0)
            p[r][c] = (px + d) & 0xFFFF
            cat_above[ci][c] = cat
            cat_left[ci] = cat
    return _ll_to_rgb(planes, prec, pt)


def encode_jpeg_lossless_arith(img, predictor=4) -> bytes:
    """Encode a REAL lossless-arithmetic JPEG (SOF11) — the
    fixture-side twin of :func:`decode_lossless_scan_arith`, sharing
    ``jpeg.encode_jpeg_lossless``'s prediction semantics exactly, so
    the round trip is exact bit for bit (and equals the SOF3 decode of
    the same image). uint8 input encodes at 8-bit precision, uint16 at
    16-bit. Every component shares statistics table 0; gradient
    categories are tracked exactly as the decoder twin does."""
    from dstlr_spark.operators.jpeg import (
        _emit_sos,
        _ll_planes,
        _ll_predict,
        _sof,
    )

    if not 1 <= predictor <= 7:
        raise ValueError(f"predictor {predictor} out of range")
    prec, h, w, comp_ids, planes = _ll_planes(img)
    out = bytearray(b"\xff\xd8") + _sof(0xCB, prec, h, w, comp_ids)
    out += _emit_sos(comp_ids, predictor)
    default = 1 << (prec - 1)
    nc = len(planes)
    enc = _ArithEncoder()
    stats = bytearray(_LL_STAT_BINS)
    cat_above = [[0] * w for _ in range(nc)]
    for m in range(h * w):
        r, c = divmod(m, w)
        if c == 0:
            cat_left = [0] * nc
        for ci, p in enumerate(planes):
            px = _ll_predict(p, r, c, predictor, default, m == 0)
            d = ((p[r][c] - px + 32768) & 0xFFFF) - 32768
            if d == -32768:
                d = 32768  # ≡ +32768 mod 2^16 (the SOF3 SSSS=16 case)
            cat = _encode_ll_diff(enc, stats, cat_left[ci], cat_above[ci][c], d)
            cat_above[ci][c] = cat
            cat_left[ci] = cat
    out += enc.finish()
    out += b"\xff\xd9"
    return bytes(out)
