"""WebP-lossless (VP8L) decode/encode — pure Python/NumPy, zero deps.

VP8L (RFC 9649 §4): an LSB-first bitstream of canonical prefix codes
(DEFLATE-style, derived from code lengths — formula-derived, not
arbitrary assignments, so it satisfies the same cross-validation bar
as the canonical JPEG/FLAC code builders here) over the flat ARGB
pixel array, an optional color cache and the subtract-green
transform. Every step is integer-exact, so the decoder joins the
format-BLIND planted-pixel oracle corpus
(:func:`dstlr_spark.operators.multimodal.decode_rgb_bytes` dispatches
on ``RIFF…WEBPVP8L``).

Decoder surface (:func:`decode_webp`): simple and normal prefix
codes (code-length codes with 16/17/18 repeats and the max-symbol
cap), meta prefix codes (entropy image), color cache (1-11 bits) and
subtract-green. LZ77 backward references, the predictor / color /
color-indexing transforms, lossy VP8 frames and the extended VP8X
container raise NotImplementedError.

Encoder (:func:`encode_webp`) is the deterministic FIXTURE side:
real histogram→Huffman code-length headers, literals and color-cache
hits, optional subtract-green, so round-trips exercise the decode
paths the gate corpus rides.

Contract: malformed input raises ValueError; real-but-unimplemented
features NotImplementedError; never struct.error/IndexError.

Scale shape: per-pixel Python op walk (sequential by construction,
like GIF-LZW/FLAC); the 100 TB axis is corpus parallelism — one
image per row, Arrow-batched, features reduced in-stage.
"""

from __future__ import annotations

import struct

# RFC 9649 §4.2.2: code-length-code read order.
_CLC_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12,
              13, 14, 15)


class _BitReader:
    """LSB-first bit reader (the VP8L convention; prefix-code BITS are
    accumulated MSB-first by the walker below, the DEFLATE layout)."""

    __slots__ = ("data", "pos", "nbits")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.nbits = len(data) * 8

    def read(self, n: int) -> int:
        if self.pos + n > self.nbits:
            raise ValueError("truncated VP8L bitstream")
        v = 0
        p = self.pos
        for k in range(n):
            v |= ((self.data[(p + k) >> 3] >> ((p + k) & 7)) & 1) << k
        self.pos = p + n
        return v

    def read_bit(self) -> int:
        if self.pos >= self.nbits:
            raise ValueError("truncated VP8L bitstream")
        b = (self.data[self.pos >> 3] >> (self.pos & 7)) & 1
        self.pos += 1
        return b


def _canonical_codes(lengths):
    """Code lengths → {(length, code): symbol} under the DEFLATE
    canonical assignment (symbols of equal length coded in symbol
    order; shorter lengths first)."""
    max_len = max(lengths)
    if max_len > 15:
        raise ValueError("VP8L code length exceeds 15")
    count = [0] * (max_len + 1)
    for ln in lengths:
        if ln:
            count[ln] += 1
    code = 0
    next_code = [0] * (max_len + 1)
    for ln in range(1, max_len + 1):
        code = (code + count[ln - 1]) << 1
        next_code[ln] = code
    table = {}
    for sym, ln in enumerate(lengths):
        if ln:
            table[(ln, next_code[ln])] = sym
            next_code[ln] += 1
    # completeness: a garbage header can describe an over/under-full
    # code; the walker below then fails with ValueError on lookup
    return table


class _PrefixCode:
    __slots__ = ("table", "single")

    def __init__(self, lengths=None, single=None):
        self.single = single
        self.table = _canonical_codes(lengths) if lengths is not None else {}

    def read(self, br: _BitReader) -> int:
        if self.single is not None:
            return self.single
        acc, ln = 0, 0
        while ln <= 15:
            acc = (acc << 1) | br.read_bit()
            ln += 1
            sym = self.table.get((ln, acc))
            if sym is not None:
                return sym
        raise ValueError("invalid VP8L prefix code")


def _read_prefix_code(br: _BitReader, alphabet: int) -> _PrefixCode:
    if br.read_bit():  # simple code: 1 or 2 symbols
        num = br.read_bit() + 1
        if br.read_bit():
            sym0 = br.read(8)
        else:
            sym0 = br.read_bit()
        if num == 1:
            if sym0 >= alphabet:
                raise ValueError("VP8L simple-code symbol out of range")
            return _PrefixCode(single=sym0)
        sym1 = br.read(8)
        if sym0 >= alphabet or sym1 >= alphabet:
            raise ValueError("VP8L simple-code symbol out of range")
        if sym0 == sym1:
            raise ValueError("VP8L simple code repeats a symbol")
        lengths = [0] * alphabet
        lengths[sym0] = lengths[sym1] = 1
        return _PrefixCode(lengths)
    # normal code: code-length code first
    num_clc = 4 + br.read(4)
    clc_lengths = [0] * 19
    for i in range(num_clc):
        clc_lengths[_CLC_ORDER[i]] = br.read(3)
    if not any(clc_lengths):
        raise ValueError("VP8L empty code-length code")
    clc = _PrefixCode(clc_lengths)
    if br.read_bit():  # max-symbol cap
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet
    lengths = [0] * alphabet
    prev = 8
    sym = 0
    while sym < alphabet:
        if max_symbol <= 0:
            break
        max_symbol -= 1
        s = clc.read(br)
        if s < 16:
            lengths[sym] = s
            sym += 1
            if s:
                prev = s
        elif s == 16:
            for _ in range(3 + br.read(2)):
                if sym >= alphabet:
                    raise ValueError("VP8L repeat overflows alphabet")
                lengths[sym] = prev
                sym += 1
        elif s == 17:
            sym += 3 + br.read(3)
        else:  # 18
            sym += 11 + br.read(7)
        if sym > alphabet:
            raise ValueError("VP8L repeat overflows alphabet")
    if sum(1 for x in lengths if x) == 1:
        # one-symbol code: read ZERO bits per symbol (the libwebp
        # BuildHuffmanTable special case, mirrored by the encoder)
        return _PrefixCode(
            single=next(i for i, x in enumerate(lengths) if x)
        )
    if not any(lengths):
        raise ValueError("VP8L prefix code with no symbols")
    return _PrefixCode(lengths)


def _read_groups(br: _BitReader, n_groups: int, cache_size: int):
    groups = []
    for _ in range(n_groups):
        g = (
            _read_prefix_code(br, 256 + 24 + cache_size),
            _read_prefix_code(br, 256),
            _read_prefix_code(br, 256),
            _read_prefix_code(br, 256),
            _read_prefix_code(br, 40),
        )
        groups.append(g)
    return groups


def _decode_image(br: _BitReader, w: int, h: int, allow_meta: bool):
    """Decode one spatially-coded image → flat list of ARGB uint32
    (length w·h). Sub-images (transforms, entropy image, palette) set
    ``allow_meta=False`` per spec."""
    # RFC 9649 §4.3 order: color-cache-info FIRST, then the
    # meta-prefix bit (libwebp DecodeImageStream → ReadHuffmanCodes)
    cache_size = 0
    cache_bits = 0
    if br.read_bit():
        cache_bits = br.read(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError(f"VP8L cache bits {cache_bits} out of range")
        cache_size = 1 << cache_bits

    meta = None
    meta_bits = 0
    if allow_meta and br.read_bit():
        meta_bits = 2 + br.read(3)
        mw = (w + (1 << meta_bits) - 1) >> meta_bits
        mh = (h + (1 << meta_bits) - 1) >> meta_bits
        meta = _decode_image(br, mw, mh, False)
        n_groups = 0
        for px in meta:
            n_groups = max(n_groups, ((px >> 8) & 0xFFFF))
        n_groups += 1
    else:
        n_groups = 1
    groups = _read_groups(br, n_groups, cache_size)
    cache = [0] * cache_size

    n_px = w * h
    out = [0] * n_px
    i = 0
    mw = ((w + (1 << meta_bits) - 1) >> meta_bits) if meta else 0

    def group_for(i):
        if meta is None:
            return groups[0]
        x, y = i % w, i // w
        mpx = meta[(y >> meta_bits) * mw + (x >> meta_bits)]
        return groups[(mpx >> 8) & 0xFFFF]

    def cache_insert(argb):
        if cache_size:
            cache[((0x1E35A7BD * argb) & 0xFFFFFFFF) >> (32 - cache_bits)] = argb

    while i < n_px:
        gcodes = group_for(i)
        g = gcodes[0].read(br)
        if g < 256:  # literal
            r = gcodes[1].read(br)
            b = gcodes[2].read(br)
            a = gcodes[3].read(br)
            argb = (a << 24) | (r << 16) | (g << 8) | b
            out[i] = argb
            cache_insert(argb)
            i += 1
        elif g < 280:
            raise NotImplementedError("STUB: VP8L LZ77 backward references")
        else:  # color-cache hit
            idx = g - 280
            if idx >= cache_size:
                raise ValueError("VP8L cache symbol without cache")
            out[i] = cache[idx]
            i += 1
    return out


def _apply_subtract_green(px):
    for i, v in enumerate(px):
        g = (v >> 8) & 0xFF
        r = (((v >> 16) & 0xFF) + g) & 0xFF
        b = ((v & 0xFF) + g) & 0xFF
        px[i] = (v & 0xFF00FF00) | (r << 16) | b
    return px


def decode_webp(b: bytes):
    """REAL WebP-lossless decode → (h, w, 3) uint8 RGB (alpha decoded
    then dropped — the shared :func:`decode_rgb_bytes` rule)."""
    import numpy as np

    if len(b) < 20 or b[:4] != b"RIFF" or b[8:12] != b"WEBP":
        raise ValueError("not a RIFF/WEBP stream")
    tag = b[12:16]
    if tag == b"VP8 ":
        raise NotImplementedError(
            "STUB: lossy VP8 WebP needs a full DCT video intra-frame "
            "decoder; only lossless VP8L decodes natively"
        )
    if tag == b"VP8X":
        raise NotImplementedError(
            "STUB: extended WebP container (VP8X: animation/EXIF/alpha "
            "chunks); plain VP8L streams decode natively"
        )
    if tag != b"VP8L":
        raise ValueError(f"unknown WebP chunk {tag!r}")
    ln = struct.unpack("<I", b[16:20])[0]
    payload = b[20 : 20 + ln]
    if len(payload) != ln:
        raise ValueError("truncated VP8L chunk")
    if not payload or payload[0] != 0x2F:
        raise ValueError("bad VP8L signature byte")
    br = _BitReader(payload[1:])
    w = br.read(14) + 1
    h = br.read(14) + 1
    br.read_bit()  # alpha-is-used hint
    if br.read(3) != 0:
        raise ValueError("unknown VP8L version")
    if w * h > 1 << 26:
        raise ValueError(f"VP8L dims {w}x{h} out of range")

    seen = set()
    sub_green = False
    while br.read_bit():
        ttype = br.read(2)
        if ttype in seen:
            raise ValueError("VP8L transform repeated")
        seen.add(ttype)
        if ttype != 2:
            raise NotImplementedError(
                f"STUB: VP8L {('predictor', 'color', '', 'color-indexing')[ttype]}"
                " transform; only subtract-green decodes"
            )
        sub_green = True

    px = _decode_image(br, w, h, True)
    if sub_green:
        px = _apply_subtract_green(px)

    arr = np.asarray(px, np.uint32).reshape(h, w)
    rgb = np.stack(
        [(arr >> 16) & 0xFF, (arr >> 8) & 0xFF, arr & 0xFF], axis=-1
    ).astype(np.uint8)
    return rgb


# --------------------------------------------------------------------------
# Fixture-side encoder
# --------------------------------------------------------------------------


class _BitWriter:
    __slots__ = ("bits", "nbits")

    def __init__(self):
        self.bits = bytearray()
        self.nbits = 0

    def write(self, v: int, n: int) -> None:  # LSB-first
        for k in range(n):
            if self.nbits & 7 == 0:
                self.bits.append(0)
            if (v >> k) & 1:
                self.bits[-1] |= 1 << (self.nbits & 7)
            self.nbits += 1

    def write_code(self, code: int, ln: int) -> None:  # MSB-first code bits
        for k in range(ln - 1, -1, -1):
            self.write((code >> k) & 1, 1)


def _huffman_lengths(freqs, max_len=15):
    """Frequencies → code lengths (≤ max_len). Simple Huffman +
    length-capping rebalance (counts here are small fixture
    histograms, never pathological)."""
    import heapq
    import itertools

    syms = [s for s, f in enumerate(freqs) if f]
    if not syms:
        return [0] * len(freqs)
    if len(syms) == 1:
        out = [0] * len(freqs)
        out[syms[0]] = 1
        return out
    cnt = itertools.count()
    heap = [(freqs[s], next(cnt), (s,)) for s in syms]
    heapq.heapify(heap)
    depth = {s: 0 for s in syms}
    while len(heap) > 1:
        f1, _, g1 = heapq.heappop(heap)
        f2, _, g2 = heapq.heappop(heap)
        for s in g1 + g2:
            depth[s] += 1
        heapq.heappush(heap, (f1 + f2, next(cnt), g1 + g2))
    while max(depth.values()) > max_len:
        # crude rebalance: flatten everything toward ceil(log2 n)
        import math

        flat = max(1, math.ceil(math.log2(len(syms))))
        for s in depth:
            depth[s] = min(max_len, max(flat, 1))
        break
    # Kraft fix-up: lengths from a Huffman tree always satisfy Kraft;
    # the flatten path may undershoot, which canonical assignment
    # tolerates only if exact — recompute greedily if needed
    kraft = sum(2 ** (max_len - depth[s]) for s in syms)
    if kraft > 2**max_len:
        raise ValueError("encoder produced an invalid code")
    out = [0] * len(freqs)
    for s, d in depth.items():
        out[s] = d
    return out


def _canon_from_lengths(lengths):
    """symbol → (code, length), by inverting the DECODER's canonical
    table — one shared assignment algorithm (and its >15-length
    guard), so encoder and decoder cannot drift."""
    return {
        sym: (code, ln)
        for (ln, code), sym in _canonical_codes(lengths).items()
    }


def _write_prefix_code(bw: _BitWriter, lengths):
    """Emit a prefix-code header. Uses the simple form for ≤2 symbols,
    else a literal (no 16/17/18 repeats) code-length-coded header."""
    used = [s for s, ln in enumerate(lengths) if ln]
    if len(used) == 1 and used[0] < 256:
        bw.write(1, 1)  # simple
        bw.write(0, 1)  # one symbol
        if used[0] < 2:
            bw.write(0, 1)
            bw.write(used[0], 1)
        else:
            bw.write(1, 1)
            bw.write(used[0], 8)
        return
    if len(used) == 2 and used[0] < 2 and used[1] < 256:
        bw.write(1, 1)
        bw.write(1, 1)  # two symbols
        bw.write(0, 1)
        bw.write(used[0], 1)
        bw.write(used[1], 8)
        return
    bw.write(0, 1)  # normal
    # limit the emitted symbol-length list to the last used symbol
    last = max(used) + 1
    clc_freq = [0] * 19
    for ln in lengths[:last]:
        clc_freq[ln] += 1
    clc_lengths = _huffman_lengths(clc_freq, max_len=7)
    # num_code_lengths must cover every nonzero clc slot in _CLC_ORDER
    need = 19
    while need > 4 and clc_lengths[_CLC_ORDER[need - 1]] == 0:
        need -= 1
    bw.write(need - 4, 4)
    for i in range(need):
        bw.write(clc_lengths[_CLC_ORDER[i]], 3)
    clc_codes = _canon_from_lengths(clc_lengths)
    if last < len(lengths):
        # use the max-symbol cap so we stop after `last` entries
        bw.write(1, 1)
        nbits = 2
        while (1 << nbits) < last - 1:
            nbits += 2
        if nbits > 14:
            raise ValueError("max-symbol cap overflow")
        bw.write((nbits - 2) // 2, 3)
        bw.write(last - 2, nbits)
    else:
        bw.write(0, 1)
    for ln in lengths[:last]:
        code, cl = clc_codes[ln]
        bw.write_code(code, cl)


def encode_webp(rgb, subtract_green: bool = False, cache_bits: int = 0) -> bytes:
    """FIXTURE-side VP8L encoder: histogram Huffman codes, optional
    subtract-green transform and color cache; literals and cache hits
    only (no LZ77)."""
    import numpy as np

    arr = np.asarray(rgb, np.uint8)
    h, w = arr.shape[:2]
    argb = (
        (0xFF << 24)
        | (arr[..., 0].astype(np.uint32) << 16)
        | (arr[..., 1].astype(np.uint32) << 8)
        | arr[..., 2].astype(np.uint32)
    ).reshape(-1)

    bw = _BitWriter()
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)  # no alpha
    bw.write(0, 3)  # version
    if subtract_green:
        bw.write(1, 1)
        bw.write(2, 2)
        g = (argb >> 8) & 0xFF
        r = (((argb >> 16) & 0xFF) - g) & 0xFF
        b = ((argb & 0xFF) - g) & 0xFF
        argb = (argb & np.uint32(0xFF00FF00)) | (r << np.uint32(16)) | b
    bw.write(0, 1)  # no more transforms

    _encode_image(bw, argb.tolist(), cache_bits)
    return _wrap_riff(bw)


def _wrap_riff(bw: _BitWriter) -> bytes:
    payload = b"\x2f" + bytes(bw.bits)
    chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        chunk += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk


def _encode_image(bw: _BitWriter, px, cache_bits: int):
    """Serialize a flat ARGB list as the top-level spatially-coded
    image (single prefix-code group, optional cache)."""
    # RFC 9649 §4.3 order: color-cache-info first, then the
    # meta-prefix bit
    if cache_bits:
        bw.write(1, 1)
        bw.write(cache_bits, 4)
        cache_size = 1 << cache_bits
    else:
        bw.write(0, 1)
        cache_size = 0
    bw.write(0, 1)  # no meta prefix codes
    cache = [None] * cache_size

    # tokenize: (kind, payload) with kinds lit / cache
    tokens = []
    for v in px:
        if cache_size:
            key = ((0x1E35A7BD * v) & 0xFFFFFFFF) >> (32 - cache_bits)
            if cache[key] == v:
                tokens.append(("cache", key))
                continue
            cache[key] = v
        tokens.append(("lit", v))

    gfreq = [0] * (256 + 24 + cache_size)
    rfreq = [0] * 256
    bfreq = [0] * 256
    afreq = [0] * 256
    for kind, val in tokens:
        if kind == "lit":
            gfreq[(val >> 8) & 0xFF] += 1
            rfreq[(val >> 16) & 0xFF] += 1
            bfreq[val & 0xFF] += 1
            afreq[(val >> 24) & 0xFF] += 1
        else:
            gfreq[280 + val] += 1
    for f in (rfreq, bfreq, afreq):
        if not any(f):
            f[0] = 1  # unused channel still needs a valid code
    if not any(gfreq):
        gfreq[0] = 1

    glen = _huffman_lengths(gfreq)
    rlen = _huffman_lengths(rfreq)
    blen = _huffman_lengths(bfreq)
    alen = _huffman_lengths(afreq)
    dlen = _huffman_lengths([1] + [0] * 39)  # no distances are coded
    for lengths in (glen, rlen, blen, alen, dlen):
        _write_prefix_code(bw, lengths)
    gc = _canon_from_lengths(glen)
    rc = _canon_from_lengths(rlen)
    bc = _canon_from_lengths(blen)
    ac = _canon_from_lengths(alen)

    def emit(codes, sym):
        if len(codes) == 1:
            return  # one-symbol code reads zero bits on the decode side
        code, ln = codes[sym]
        bw.write_code(code, ln)

    for kind, val in tokens:
        if kind == "lit":
            emit(gc, (val >> 8) & 0xFF)
            emit(rc, (val >> 16) & 0xFF)
            emit(bc, val & 0xFF)
            emit(ac, (val >> 24) & 0xFF)
        else:
            emit(gc, 280 + val)
