"""Lossless JPEG (ITU-T T.81 Annex H) codec — pure Python + NumPy.

The JPEG arm of :func:`dstlr_spark.operators.multimodal.
decode_rgb_bytes` (reference parity anchor: the reference pipeline
treats media bytes as opaque payloads — SURVEY §2.12 makes decode a
first-class curation operator). Decoder scope is exactly what the
``mm_media_decode`` corpus ships:

- SOF3 LOSSLESS: Huffman-coded sample differences (SSSS categories
  0-16), all seven predictors, 2-16 bit precision (8-bit → uint8,
  deeper → exact uint16), point transform, one interleaved scan of
  1x1-sampled components (gray, gray + aux, RGB);
- SOF11 LOSSLESS ARITHMETIC (the same prediction walk under the QM
  coder, default conditioning) via :mod:`dstlr_spark.operators.
  jpeg_arith`;
- HIERARCHICAL (Annex J) lossless pyramids — DHP/EXP markers, SOF3
  first frame, SOF7 differential frames — via :mod:`dstlr_spark.
  operators.jpeg_hier` (dispatched on DHP below).

All three are exact, so all three join the planted-pixel gate corpus.
Everything else raises ``NotImplementedError("STUB: …")``: the DCT
processes (SOF0/1/2/9/10, and DCT frames inside a hierarchy),
subsampled, 4-component and multi-scan lossless frames, DAC
conditioning and restart intervals. A MALFORMED stream (truncated
entropy data, bad marker, invalid Huffman code, inconsistent
dimensions) raises ``ValueError`` so the per-doc isolation wrapper in
``decode_image_np`` can skip it — the exception contract every
decoder in this package pins (tests/test_multimodal.py).
"""

from __future__ import annotations

import struct


def _entropy_segments(b: bytes, pos: int):
    """Pre-scan the entropy-coded data from SOS: unstuff 0xFF00 and
    split at RSTn markers — one pass, so the bit reader below never
    has to test for stuffing per byte. Returns ([(data, closing_rst)],
    end) where closing_rst is the 0–7 index of the RSTn that ENDED the
    segment (None for the final segment, which ends at a real marker /
    stream end) and ``end`` is the offset of that terminating marker
    (so a progressive caller can keep walking the marker stream)."""
    segs = []
    cur = bytearray()
    i, n = pos, len(b)
    while i < n:
        c = b[i]
        if c != 0xFF:
            cur.append(c)
            i += 1
            continue
        if i + 1 >= n:
            break
        m = b[i + 1]
        if m == 0x00:  # stuffed data byte
            cur.append(0xFF)
            i += 2
            continue
        if 0xD0 <= m <= 0xD7:
            segs.append((bytes(cur), m - 0xD0))
            cur = bytearray()
            i += 2
            continue
        break  # real marker ends the scan
    segs.append((bytes(cur), None))
    return segs, i


class _BitReader:
    """MSB-first bit reader over one pre-unstuffed entropy segment:
    an integer accumulator refilled a byte at a time, 1s-padding past
    the segment end (T.81 F.2.2.5) bounded at 7 CONSUMED pad bits —
    more means the stream is truncated, not padded."""

    __slots__ = ("d", "pos", "acc", "n", "fake")

    def __init__(self, data: bytes):
        self.d = data
        self.pos = 0
        self.acc = 0
        self.n = 0
        self.fake = 0  # pad bits appended past the data end

    def _fill(self, need: int) -> None:
        while self.n < need:
            if self.pos < len(self.d):
                self.acc = (self.acc << 8) | self.d[self.pos]
                self.pos += 1
            else:
                self.acc = (self.acc << 8) | 0xFF
                self.fake += 8
            self.n += 8

    def _check(self) -> None:
        # consumed = bits ever loaded − bits still buffered; > 7 pad
        # bits consumed can never happen in a well-formed stream
        if self.pos * 8 + self.fake - self.n > len(self.d) * 8 + 7:
            raise ValueError("JPEG entropy stream truncated")

    def receive(self, nb: int) -> int:
        if not nb:
            return 0
        self._fill(nb)
        self.n -= nb
        v = (self.acc >> self.n) & ((1 << nb) - 1)
        self.acc &= (1 << self.n) - 1
        self._check()
        return v


def _build_huffman(counts: bytes, symbols: bytes):
    """(BITS, HUFFVAL) → canonical decode tables (T.81 Annex C): a
    256-entry fast path resolving every code of ≤8 bits in one index,
    plus the {(length, code): symbol} map for longer codes. Rejects
    over-subscribed length counts."""
    table: dict[tuple[int, int], int] = {}
    fast: list = [None] * 256
    code = 0
    k = 0
    for length in range(1, 17):
        cnt = counts[length - 1]
        if code + cnt > (1 << length):
            raise ValueError("JPEG Huffman table over-subscribed")
        for _ in range(cnt):
            sym = symbols[k]
            table[(length, code)] = sym
            if length <= 8:
                lo = code << (8 - length)
                for f in range(lo, lo + (1 << (8 - length))):
                    fast[f] = (sym, length)
            code += 1
            k += 1
        code <<= 1
    return fast, table


def _huff_decode(br: _BitReader, tbl) -> int:
    fast, table = tbl
    br._fill(8)
    hit = fast[(br.acc >> (br.n - 8)) & 0xFF]
    if hit is not None:
        sym, ln = hit
        br.n -= ln
        br.acc &= (1 << br.n) - 1
        br._check()
        return sym
    br._fill(16)
    window = (br.acc >> (br.n - 16)) & 0xFFFF
    for length in range(9, 17):
        sym = table.get((length, window >> (16 - length)))
        if sym is not None:
            br.n -= length
            br.acc &= (1 << br.n) - 1
            br._check()
            return sym
    raise ValueError("JPEG invalid Huffman code")


def _extend(v: int, t: int) -> int:
    """T.81 F.2.2.1 EXTEND: map t received magnitude bits to a signed
    coefficient value."""
    if t == 0:
        return 0
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def decode_jpeg(b: bytes):
    """Decode one lossless JPEG payload → (h, w, 3) RGB (uint8, or
    exact uint16 above 8-bit precision).

    Grayscale decodes to replicated RGB (the :func:`decode_rgb_bytes`
    contract every codec here shares). See the module docstring for
    scope, the STUB modes and the exception contract.
    """
    if b[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG stream (missing SOI)")
    htables: dict[tuple[int, int], tuple] = {}
    frame = None  # (h, w, [(comp_id, H, V, tq), ...])
    arith = False
    precision = 8
    pos = 2
    n = len(b)
    while True:
        if pos + 2 > n:
            raise ValueError("JPEG truncated before EOI")
        if b[pos] != 0xFF:
            raise ValueError(f"JPEG expected marker at {pos}, got {b[pos]:#x}")
        marker = b[pos + 1]
        pos += 2
        if marker == 0xD8 or 0xD0 <= marker <= 0xD7:  # SOI / stray RST
            continue
        if marker == 0xD9:
            raise ValueError("JPEG EOI before any scan")
        if pos + 2 > n:
            raise ValueError("JPEG truncated segment length")
        seglen = struct.unpack(">H", b[pos : pos + 2])[0]
        if seglen < 2 or pos + seglen > n:
            raise ValueError("JPEG segment overruns stream")
        seg = b[pos + 2 : pos + seglen]
        pos += seglen
        if marker == 0xC4:  # DHT (possibly several tables)
            s = 0
            while s < len(seg):
                tc, th = seg[s] >> 4, seg[s] & 15
                s += 1
                if tc > 1 or th > 3 or s + 16 > len(seg):
                    raise ValueError("JPEG DHT header invalid")
                counts = seg[s : s + 16]
                total = sum(counts)
                s += 16
                if s + total > len(seg):
                    raise ValueError("JPEG DHT truncated")
                htables[(tc, th)] = _build_huffman(counts, seg[s : s + total])
                s += total
        elif marker in (0xC3, 0xCB):  # SOF3 lossless / SOF11 arithmetic
            if len(seg) < 6:
                raise ValueError("JPEG SOF header truncated")
            prec = seg[0]
            if not 2 <= prec <= 16:
                raise ValueError(
                    f"JPEG lossless precision {prec} out of range (2-16)"
                )
            h, w = struct.unpack(">HH", seg[1:5])
            ncomp = seg[5]
            if not h or not w:
                raise ValueError(f"JPEG dimensions {w}x{h} invalid")
            if ncomp not in (1, 2, 3, 4):
                raise ValueError(
                    f"JPEG {ncomp}-component frame outside T.81's 1-4"
                )
            if len(seg) < 6 + 3 * ncomp:
                raise ValueError("JPEG SOF component list truncated")
            comps = []
            for c in range(ncomp):
                cid, hv, tq = seg[6 + 3 * c : 9 + 3 * c]
                comps.append((cid, hv >> 4, hv & 15, tq))
            _check_lossless_frame(comps)
            frame = (h, w, comps)
            precision = prec
            arith = marker == 0xCB
        elif marker in (0xC0, 0xC1, 0xC2, 0xC9, 0xCA):
            raise NotImplementedError(
                f"STUB: JPEG SOF{marker - 0xC0} DCT frame — only lossless "
                "(SOF3 / SOF11) and lossless hierarchical JPEG decode"
            )
        elif marker == 0xDE:  # DHP: a hierarchical (Annex J) stream
            from dstlr_spark.operators.jpeg_hier import decode_jpeg_hier

            return decode_jpeg_hier(b)
        elif marker in (0xC5, 0xC6, 0xC7, 0xCD, 0xCE, 0xCF):
            # differential frames belong to a hierarchy: without a
            # leading DHP the stream is malformed, not unsupported
            raise ValueError(
                "JPEG differential frame without a leading DHP"
            )
        elif marker == 0xCC:
            raise NotImplementedError("STUB: JPEG arithmetic conditioning (DAC)")
        elif marker == 0xDD:  # DRI: only a zero (restarts off) interval
            if len(seg) < 2:
                raise ValueError("JPEG DRI truncated")
            if struct.unpack(">H", seg[:2])[0]:
                raise NotImplementedError("STUB: JPEG restart intervals (DRI)")
        elif marker == 0xDA:  # SOS — entropy data follows the header
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            scan, ss, pt = _lossless_sos(seg, frame, precision)
            if arith:
                from dstlr_spark.operators.jpeg_arith import (
                    decode_lossless_scan_arith,
                )

                return decode_lossless_scan_arith(
                    b, pos, frame, scan, precision, ss, pt
                )
            return _decode_lossless_scan(
                b, pos, frame, scan, precision, ss, pt, htables
            )
        # APPn / COM / DQT / anything else: skip


def _check_lossless_frame(comps) -> None:
    """Lossless frame shapes outside the decoder's scope raise the
    STUB contract: subsampled components and 4-component (CMYK)
    frames."""
    if any(c[1] != 1 or c[2] != 1 for c in comps):
        raise NotImplementedError(
            "STUB: lossless JPEG with sampling factors != 1x1"
        )
    if len(comps) == 4:
        raise NotImplementedError("STUB: 4-component (CMYK) lossless JPEG")


def _lossless_sos(seg: bytes, frame, precision: int):
    """Parse a lossless SOS header → (scan, predictor, point
    transform), where scan is [(comp_id, Td, Ta), ...] and must code
    every frame component in one interleaved scan."""
    if not seg:
        raise ValueError("JPEG SOS header truncated")
    ns = seg[0]
    if len(seg) < 1 + 2 * ns + 3:
        raise ValueError("JPEG SOS header truncated")
    if ns != len(frame[2]):
        raise NotImplementedError(
            "STUB: multi-scan (non-interleaved) lossless JPEG"
        )
    scan = []
    for c in range(ns):
        cs, tdta = seg[1 + 2 * c : 3 + 2 * c]
        if cs != frame[2][c][0]:
            raise ValueError("JPEG scan component order differs from frame")
        scan.append((cs, tdta >> 4, tdta & 15))
    ss, se, ahal = seg[1 + 2 * ns : 4 + 2 * ns]
    if not 1 <= ss <= 7:
        raise ValueError(f"JPEG lossless predictor {ss} invalid")
    if se != 0 or (ahal >> 4) != 0:
        raise ValueError("JPEG lossless scan header invalid")
    if (ahal & 15) >= precision:
        raise ValueError("JPEG lossless point transform >= P")
    return scan, ss, ahal & 15


def _ll_predict(p, r, c, predictor, default, reset):
    """Annex-H prediction (H.1.2.1 + the H.2.3 boundary rules): the
    scan start predicts 2^(P−Pt−1), the rest of the first line
    predicts Ra, the first column Rb. Shared by the Huffman and
    arithmetic lossless walks and their encoders."""
    if reset:
        return default
    if r == 0:
        return p[0][c - 1]
    if c == 0:
        return p[r - 1][0]
    row, above = p[r], p[r - 1]
    ra, rb, rc_ = row[c - 1], above[c], above[c - 1]
    if predictor == 1:
        return ra
    if predictor == 2:
        return rb
    if predictor == 3:
        return rc_
    if predictor == 4:
        return ra + rb - rc_
    if predictor == 5:
        return ra + ((rb - rc_) >> 1)
    if predictor == 6:
        return rb + ((ra - rc_) >> 1)
    return (ra + rb) >> 1


def _ll_to_rgb(planes, prec: int, pt: int = 0):
    """Reconstructed lossless planes → (h, w, 3) RGB: undo the point
    transform, mask to P bits, replicate gray (a 2-component frame's
    second plane is color-undefined and dropped)."""
    import numpy as np

    mask = (1 << prec) - 1
    dtype = np.uint8 if prec <= 8 else np.uint16
    out = ((np.array(planes, np.int64) << pt) & mask).astype(dtype)
    if len(out) in (1, 2):
        return np.repeat(out[0][..., None], 3, axis=2)
    return np.stack([out[0], out[1], out[2]], axis=2)


def _decode_lossless_scan(b, pos, frame, scan, prec, predictor, pt, htables):
    """SOF3 lossless scan (T.81 Annex H): one Huffman-coded difference
    category (SSSS 0-16, DC-class table; SSSS=16 means +32768 with no
    magnitude bits) per sample per component, interleaved one sample
    per component per MCU, reconstructed through the selected
    predictor (:func:`_ll_predict`) with modulo-2^16 arithmetic. The
    decoder output is shifted left by the point transform Pt (H.2.3).
    Exact by construction — this is the one JPEG mode that CAN join
    planted-pixel equality oracles."""
    h, w, comps = frame
    tables = []
    for _cid, td, _ta in scan:
        if (0, td) not in htables:
            raise ValueError("JPEG missing Huffman table for scan")
        tables.append(htables[(0, td)])
    segs, _end = _entropy_segments(b, pos)
    if len(segs) > 1:
        raise ValueError("JPEG RST marker without a DRI segment")
    default = 1 << (prec - pt - 1)
    nc = len(comps)
    # plain nested lists: scalar loads/stores beat per-element ndarray
    # indexing
    planes = [[[0] * w for _ in range(h)] for _ in range(nc)]
    br = _BitReader(segs[0][0])
    for m in range(h * w):
        r, c = divmod(m, w)
        for ci in range(nc):
            t = _huff_decode(br, tables[ci])
            if t > 16:
                raise ValueError("JPEG lossless SSSS > 16")
            d = 32768 if t == 16 else _extend(br.receive(t), t)
            p = planes[ci]
            px = _ll_predict(p, r, c, predictor, default, m == 0)
            p[r][c] = (px + d) & 0xFFFF
    return _ll_to_rgb(planes, prec, pt)


# --------------------------------------------------------------------------
# Encoder — fixture-side twin (tests only, like encode_bmp/encode_png)
# --------------------------------------------------------------------------

def _fixed_table(symbols: bytes):
    """Fixture Huffman table: every symbol at code length 8, canonical
    order — trivially valid, and the decoder builds it from DHT like
    any real table."""
    counts = bytearray(16)
    counts[7] = len(symbols)  # all codes 8 bits long
    enc = {sym: (8, i) for i, sym in enumerate(symbols)}
    return bytes(counts), symbols, enc


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, value: int, nbits: int) -> None:
        for i in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.n = 0

    def flush(self) -> None:
        if self.n:
            self.acc = (self.acc << (8 - self.n)) | ((1 << (8 - self.n)) - 1)
            self.out.append(self.acc)
            if self.acc == 0xFF:
                self.out.append(0x00)
            self.acc = 0
            self.n = 0


def _emit_sos(comps_sel, predictor) -> bytes:
    """Lossless SOS: every component on table 0, Se = Ah = Al = 0."""
    sos = bytes([len(comps_sel)])
    for cid in comps_sel:
        sos += bytes([cid, 0x00])
    sos += bytes([predictor, 0, 0])
    return b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos


def _ll_planes(img):
    """Encoder front half shared by the lossless encoders: (precision,
    h, w, component ids, per-component nested-list planes)."""
    import numpy as np

    arr = np.asarray(img)
    prec = 16 if arr.dtype == np.uint16 else 8
    a = arr.astype(np.int64)
    planes = [a.tolist()] if a.ndim == 2 else [
        a[..., i].tolist() for i in range(a.shape[2])
    ]
    return prec, arr.shape[0], arr.shape[1], list(range(1, len(planes) + 1)), planes


def _sof(marker: int, prec: int, h: int, w: int, comp_ids) -> bytes:
    sof = struct.pack(">BHHB", prec, h, w, len(comp_ids))
    for cid in comp_ids:
        sof += bytes([cid, 0x11, 0])  # 1x1 sampling; Tq unused
    return bytes([0xFF, marker]) + struct.pack(">H", 2 + len(sof)) + sof


#: SSSS difference-category alphabet for lossless scans (T.81 H.1.2.2):
#: 0-15 like DC categories, plus 16 = "+32768, no magnitude bits"
_LL_SYMBOLS = bytes(range(17))


def _ll_diff_huffman(bw: _BitWriter, ll_enc, d: int) -> None:
    """Huffman-code one modulo-2^16 sample difference (SSSS + bits)."""
    if d == -32768:  # ≡ +32768 mod 2^16: SSSS=16, no bits
        bw.write(ll_enc[16][1], ll_enc[16][0])
        return
    t = abs(d).bit_length()
    bw.write(ll_enc[t][1], ll_enc[t][0])
    if t:
        bw.write(d if d > 0 else d + (1 << t) - 1, t)


def encode_jpeg_lossless(img, predictor=4) -> bytes:
    """Encode an (h, w) grayscale or (h, w, 3) RGB array as a REAL
    lossless JPEG (SOF3, T.81 Annex H) — the fixture-side twin of
    :func:`_decode_lossless_scan`. uint8 input encodes at 8-bit
    precision, uint16 at 16-bit. ``predictor`` selects H.1.2.1 rule
    1-7; the round trip is exact, bit for bit."""
    if not 1 <= predictor <= 7:
        raise ValueError(f"predictor {predictor} out of range")
    prec, h, w, comp_ids, planes = _ll_planes(img)
    ll_counts, ll_syms, ll_enc = _fixed_table(_LL_SYMBOLS)
    out = bytearray(b"\xff\xd8") + _sof(0xC3, prec, h, w, comp_ids)
    body = bytes([0x00]) + ll_counts + ll_syms  # DC-class table 0
    out += b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body
    out += _emit_sos(comp_ids, predictor)
    default = 1 << (prec - 1)
    bw = _BitWriter()
    for m in range(h * w):
        r, c = divmod(m, w)
        for p in planes:
            # lossless ⇒ reconstructed == source, so the source plane
            # IS the prediction context (the decoder mirrors this)
            px = _ll_predict(p, r, c, predictor, default, m == 0)
            _ll_diff_huffman(bw, ll_enc, ((p[r][c] - px + 32768) & 0xFFFF) - 32768)
    bw.flush()
    out += bw.out
    out += b"\xff\xd9"
    return bytes(out)
