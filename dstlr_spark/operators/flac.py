"""FLAC decode/encode — pure Python/NumPy, zero dependencies.

FLAC (RFC 9639) is a LOSSLESS predictive codec: inter-channel
decorrelation (left/side, right/side, mid/side), per-subframe
prediction (constant, verbatim, fixed orders 0-4, quantized LPC), and
Rice/Golomb residual coding with per-partition parameters. Every step
is integer-exact, so a decoder can sit under the engine's
planted-value oracle gates exactly like lossless JPEG does
(:mod:`dstlr_spark.operators.jpeg`) — unlike MP3/AAC there is no
transform or psychoacoustic model, which is what keeps it inside the
"decodes exactly, no imaging/audio library" contract.

Decoder surface (:func:`decode_flac`): STREAMINFO + metadata-block
walk, frame sync + header CRC-8, UTF-8-style coded numbers, all four
channel assignments, all subframe types (constant / verbatim / fixed
0-4 / LPC to order 32 with quantized-coefficient shift), both residual
coding methods (4-bit Rice, 5-bit Rice2) with partition orders and the
raw-bits escape, and the frame CRC-16 (wasted-bits shifts raise the
STUB contract). Returns
``(samples interleaved int32 ndarray, sample_rate, n_channels)`` — the
same contract as :func:`dstlr_spark.operators.multimodal.decode_wav`,
so the audio operators dispatch on container magic and every
downstream feature/VAD reducer is codec-blind.

Scale shape: frames decode in a per-frame Python walk (Rice's unary
runs are inherently sequential WITHIN a frame) with NumPy integration
for the predictor restore; the 100 TB axis is corpus parallelism —
one clip per row, Arrow-batched in the executors, features reduced
in-stage — identical to the ADPCM story in BENCH/BASELINE.md.

Encoder (:func:`encode_flac`) is the deterministic FIXTURE side:
real Rice coding, selectable subframe strategy / stereo mode /
partition order so tests can pin every decode path, and spec-true
CRCs so the corruption fuzz exercises the checksum rejections. The
MD5 field is zero ("unknown"), which the spec allows.

Contract: malformed input raises ValueError (isolatable per doc);
reserved-but-real codes the decoder does not implement raise
NotImplementedError. Never struct.error / IndexError — the Arrow
isolation wrappers catch exactly those two exception types.
"""

from __future__ import annotations


def _crc8_table():
    tbl = []
    for i in range(256):
        c = i
        for _ in range(8):
            c = ((c << 1) ^ 0x07) & 0xFF if c & 0x80 else (c << 1) & 0xFF
        tbl.append(c)
    return tbl


def _crc16_table():
    tbl = []
    for i in range(256):
        c = i << 8
        for _ in range(8):
            c = ((c << 1) ^ 0x8005) & 0xFFFF if c & 0x8000 else (c << 1) & 0xFFFF
        tbl.append(c)
    return tbl


_CRC8 = _crc8_table()
_CRC16 = _crc16_table()


def _crc8(data: bytes) -> int:
    c = 0
    for x in data:
        c = _CRC8[c ^ x]
    return c


def _crc16(data: bytes) -> int:
    c = 0
    for x in data:
        c = _CRC16[((c >> 8) ^ x) & 0xFF] ^ ((c << 8) & 0xFFFF)
    return c


def _signed(v: int, n: int) -> int:
    if n == 0:
        return 0
    return v - (1 << n) if v >= (1 << (n - 1)) else v


class _Bits:
    """MSB-first bit reader; out-of-data is ValueError (contract)."""

    __slots__ = ("b", "pos", "nbits")

    def __init__(self, b: bytes, bitpos: int = 0):
        self.b = b
        self.pos = bitpos
        self.nbits = len(b) * 8

    def read(self, n: int) -> int:
        end = self.pos + n
        if end > self.nbits:
            raise ValueError("truncated FLAC stream")
        first, last = self.pos >> 3, (end + 7) >> 3
        v = int.from_bytes(self.b[first:last], "big")
        v >>= (last << 3) - end
        self.pos = end
        return v & ((1 << n) - 1)


def _parse_streaminfo(data: bytes):
    if len(data) < 34:
        raise ValueError("FLAC STREAMINFO shorter than 34 bytes")
    v = int.from_bytes(data[10:18], "big")
    rate = v >> 44
    channels = ((v >> 41) & 7) + 1
    bps = ((v >> 36) & 31) + 1
    total = v & ((1 << 36) - 1)
    if rate <= 0:
        # rate 0 is "unknown"; every duration reducer divides by it
        raise ValueError("FLAC STREAMINFO sample rate 0")
    return rate, channels, bps, total


#: frame-header sample-rate codes 1-11 (0 = from STREAMINFO; 12-14
#: read trailing bytes; 15 invalid)
_RATES = {
    1: 88200, 2: 176400, 3: 192000, 4: 8000, 5: 16000, 6: 22050,
    7: 24000, 8: 32000, 9: 44100, 10: 48000, 11: 96000,
}
_SAMPLE_SIZES = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}


def _read_coded_number(br: _Bits) -> int:
    """UTF-8-style variable-length frame/sample number (RFC 9639 §9.1.5
    — the encoding, not actual UTF-8: surrogates/overlongs are legal)."""
    first = br.read(8)
    if first < 0x80:
        return first
    ones = 8 - (first ^ 0xFF).bit_length()
    if ones == 1 or ones > 7:
        raise ValueError("malformed FLAC coded number")
    val = first & ((1 << (7 - ones)) - 1)
    for _ in range(ones - 1):
        c = br.read(8)
        if c >> 6 != 0b10:
            raise ValueError("malformed FLAC coded-number continuation")
        val = (val << 6) | (c & 0x3F)
    return val


def _rice_block(b: bytes, bitpos: int, cnt: int, k: int):
    """Decode ``cnt`` Rice(k) residuals starting at ``bitpos`` →
    (zigzag-decoded list, end bit position). A chunked big-int cursor
    (8-byte refills, leading-zero counts via ``bit_length``) replaces
    per-bit reads — the hot loop of the whole decoder (~3 int ops per
    residual instead of two sliced reads), measured 1.9× on the Rice
    path in BENCH/BASELINE.md's FLAC row."""
    vals = []
    bytepos = bitpos >> 3
    bitoff = bitpos & 7
    if bitoff:
        acc = b[bytepos] & ((1 << (8 - bitoff)) - 1)
        nacc = 8 - bitoff
        bytepos += 1
    else:
        acc, nacc = 0, 0
    mask_k = (1 << k) - 1
    for _ in range(cnt):
        q = 0
        while True:
            if acc == 0:
                q += nacc
                chunk = b[bytepos : bytepos + 8]
                if not chunk:
                    raise ValueError("truncated FLAC stream (unary run)")
                acc = int.from_bytes(chunk, "big")
                nacc = len(chunk) * 8
                bytepos += len(chunk)
                if acc == 0:
                    continue
            lead = nacc - acc.bit_length()
            q += lead
            nacc -= lead + 1
            acc &= (1 << nacc) - 1  # drop the zeros and the terminator
            break
        while nacc < k:
            chunk = b[bytepos : bytepos + 8]
            if not chunk:
                raise ValueError("truncated FLAC stream")
            acc = (acc << (len(chunk) * 8)) | int.from_bytes(chunk, "big")
            nacc += len(chunk) * 8
            bytepos += len(chunk)
        nacc -= k
        u = (q << k) | ((acc >> nacc) & mask_k)
        acc &= (1 << nacc) - 1
        vals.append((u >> 1) ^ -(u & 1))  # zigzag
    return vals, (bytepos << 3) - nacc


def _read_fixed_block(br: _Bits, cnt: int, nb: int):
    """Bulk-read ``cnt`` contiguous ``nb``-bit signed values → int64
    array (one unpackbits + one GEMV instead of per-sample reads —
    the verbatim-subframe / escape-partition fast path)."""
    import numpy as np

    if nb == 0:
        return np.zeros(cnt, np.int64)
    start, total = br.pos, cnt * nb
    if start + total > br.nbits:
        raise ValueError("truncated FLAC stream")
    first, last = start >> 3, (start + total + 7) >> 3
    bits = np.unpackbits(
        np.frombuffer(br.b, np.uint8, count=last - first, offset=first)
    )
    base = start - (first << 3)
    w = bits[base : base + total].reshape(cnt, nb).astype(np.int64)
    out = w @ (1 << np.arange(nb - 1, -1, -1, dtype=np.int64))
    out -= (out >= (1 << (nb - 1))) * (1 << nb)  # two's-complement sign
    br.pos = start + total
    return out


def _decode_residual(br: _Bits, bs: int, order: int):
    import numpy as np

    method = br.read(2)
    if method > 1:
        raise ValueError("reserved FLAC residual coding method")
    pbits = 4 if method == 0 else 5
    esc = (1 << pbits) - 1
    nparts = 1 << br.read(4)
    if bs % nparts:
        raise ValueError("FLAC partition count does not divide blocksize")
    out = []
    for p in range(nparts):
        cnt = bs // nparts - (order if p == 0 else 0)
        if cnt < 0:
            raise ValueError("FLAC partition shorter than predictor order")
        k = br.read(pbits)
        if k == esc:  # raw-bits escape
            nb = br.read(5)
            out.extend(_read_fixed_block(br, cnt, nb))
        else:
            vals, br.pos = _rice_block(br.b, br.pos, cnt, k)
            out.extend(vals)
    return np.array(out, np.int64)


def _fixed_restore(warm, res, order: int):
    """Invert the order-k difference predictor by k cumulative sums,
    each seeded with the matching difference of the warmup samples
    (vectorized — no per-sample Python loop)."""
    import numpy as np

    cur = np.asarray(res, np.int64)
    w = np.asarray(warm, np.int64)
    for k in range(order, 0, -1):
        seed = int(np.diff(w, k - 1)[-1]) if k > 1 else int(w[-1])
        cur = seed + np.cumsum(cur)
    out = np.empty(order + len(res), np.int64)
    out[:order] = w
    out[order:] = cur
    return out


def _decode_subframe(br: _Bits, bs: int, bps: int):
    import numpy as np

    if br.read(1):
        raise ValueError("FLAC subframe pad bit set")
    t = br.read(6)
    if br.read(1):
        raise NotImplementedError("STUB: FLAC wasted-bits subframes")
    if t == 0:  # CONSTANT
        out = np.full(bs, _signed(br.read(bps), bps), np.int64)
    elif t == 1:  # VERBATIM
        out = _read_fixed_block(br, bs, bps)
    elif 8 <= t <= 12:  # FIXED order 0-4
        order = t - 8
        if order > bs:
            raise ValueError("FLAC predictor order exceeds blocksize")
        warm = [_signed(br.read(bps), bps) for _ in range(order)]
        res = _decode_residual(br, bs, order)
        out = (
            _fixed_restore(warm, res, order)
            if order
            else np.asarray(res, np.int64)
        )
    elif t >= 32:  # LPC order 1-32
        order = (t & 31) + 1
        if order > bs:
            raise ValueError("FLAC predictor order exceeds blocksize")
        warm = [_signed(br.read(bps), bps) for _ in range(order)]
        prec = br.read(4)
        if prec == 0b1111:
            raise ValueError("invalid FLAC LPC precision code")
        prec += 1
        shift = _signed(br.read(5), 5)
        if shift < 0:
            raise ValueError("negative FLAC LPC shift")
        coefs = [_signed(br.read(prec), prec) for _ in range(order)]
        res = _decode_residual(br, bs, order)
        out = np.empty(bs, np.int64)
        out[:order] = warm
        # IIR restore is inherently sequential; order and blocksize are
        # codec-bounded (≤32, ≤65535), corpus parallelism is the axis
        o = out
        for i in range(order, bs):
            acc = 0
            for j in range(order):
                acc += coefs[j] * int(o[i - 1 - j])
            v = (acc >> shift) + int(res[i - order])
            if not (-(1 << 40) <= v <= 1 << 40):
                # legal samples are ≤ 33 bits (32-bit bps + side); a
                # corrupt stream can drive the IIR feedback to
                # exponential blow-up long before the CRC check runs —
                # that must surface as isolatable ValueError, not
                # OverflowError from the int64 store
                raise ValueError("FLAC LPC sample out of range (corrupt)")
            o[i] = v
    else:
        raise ValueError(f"reserved FLAC subframe type {t}")
    return out


def _decode_frame(b: bytes, pos: int, si):
    import numpy as np

    rate_si, channels_si, bps_si, _total = si
    br = _Bits(b, pos * 8)
    if br.read(14) != 0b11111111111110:
        raise ValueError("bad FLAC frame sync")
    if br.read(1):
        raise ValueError("FLAC frame header reserved bit set")
    br.read(1)  # blocking strategy (either is decodable)
    bs_code = br.read(4)
    sr_code = br.read(4)
    ch_code = br.read(4)
    ss_code = br.read(3)
    if br.read(1):
        raise ValueError("FLAC frame header reserved bit set")
    _read_coded_number(br)
    if bs_code == 0:
        raise ValueError("reserved FLAC blocksize code")
    elif bs_code == 1:
        bs = 192
    elif 2 <= bs_code <= 5:
        bs = 576 << (bs_code - 2)
    elif bs_code == 6:
        bs = br.read(8) + 1
    elif bs_code == 7:
        bs = br.read(16) + 1
    else:
        bs = 256 << (bs_code - 8)
    if sr_code == 0:
        rate = rate_si
    elif sr_code in _RATES:
        rate = _RATES[sr_code]
    elif sr_code == 12:
        rate = br.read(8) * 1000
    elif sr_code == 13:
        rate = br.read(16)
    elif sr_code == 14:
        rate = br.read(16) * 10
    else:
        raise ValueError("invalid FLAC sample-rate code")
    if ss_code == 3:
        raise ValueError("reserved FLAC sample-size code")
    bps = bps_si if ss_code == 0 else _SAMPLE_SIZES[ss_code]
    if br.pos & 7:
        raise ValueError("FLAC frame header not byte-aligned")  # unreachable
    if _crc8(b[pos : br.pos >> 3]) != br.read(8):
        raise ValueError("FLAC frame header CRC-8 mismatch")

    if ch_code <= 7:
        nch, mode = ch_code + 1, "indep"
    elif ch_code == 8:
        nch, mode = 2, "ls"
    elif ch_code == 9:
        nch, mode = 2, "rs"
    elif ch_code == 10:
        nch, mode = 2, "ms"
    else:
        raise ValueError("reserved FLAC channel assignment")
    if nch != channels_si:
        raise ValueError(
            f"FLAC frame channels {nch} != STREAMINFO {channels_si}"
        )
    chans = []
    for c in range(nch):
        extra = (
            (mode == "ls" and c == 1)
            or (mode == "rs" and c == 0)
            or (mode == "ms" and c == 1)
        )
        chans.append(_decode_subframe(br, bs, bps + (1 if extra else 0)))
    br.pos = (br.pos + 7) & ~7  # zero-pad to byte
    crc_at = br.pos >> 3
    if _crc16(b[pos:crc_at]) != br.read(16):
        raise ValueError("FLAC frame CRC-16 mismatch")

    a = np.stack(chans, axis=1)
    if mode == "ls":
        left, side = a[:, 0], a[:, 1]
        a = np.stack([left, left - side], axis=1)
    elif mode == "rs":
        side, right = a[:, 0], a[:, 1]
        a = np.stack([right + side, right], axis=1)
    elif mode == "ms":
        mid, side = a[:, 0], a[:, 1]
        m2 = (mid << 1) | (side & 1)
        a = np.stack([(m2 + side) >> 1, (m2 - side) >> 1], axis=1)
    return a, rate, br.pos >> 3


def decode_flac(b: bytes):
    """Decode a FLAC stream → (interleaved int32 samples, sample_rate,
    n_channels) — the :func:`~dstlr_spark.operators.multimodal.
    decode_wav` contract, so feature/VAD reducers are codec-blind."""
    import numpy as np

    if b[:4] != b"fLaC":
        raise ValueError("not a FLAC stream")
    pos, si = 4, None
    while True:
        if pos + 4 > len(b):
            raise ValueError("truncated FLAC metadata header")
        hdr = b[pos]
        ln = int.from_bytes(b[pos + 1 : pos + 4], "big")
        data = b[pos + 4 : pos + 4 + ln]
        if len(data) != ln:
            raise ValueError("truncated FLAC metadata block")
        btype = hdr & 0x7F
        if btype == 0:
            si = _parse_streaminfo(data)
        elif btype == 127:
            raise ValueError("invalid FLAC metadata type 127")
        # PADDING/APPLICATION/SEEKTABLE/COMMENT/CUESHEET/PICTURE skip
        pos += 4 + ln
        if hdr & 0x80:
            break
    if si is None:
        raise ValueError("FLAC stream has no STREAMINFO")
    rate_si, channels, _bps, total = si
    frames, got, rate = [], 0, rate_si
    while pos < len(b):
        a, rate, pos = _decode_frame(b, pos, si)
        frames.append(a)
        got += len(a)
    out = (
        np.concatenate(frames)
        if frames
        else np.zeros((0, channels), np.int64)
    )
    if total and got != total:
        raise ValueError(
            f"FLAC decoded {got} inter-channel samples, STREAMINFO says {total}"
        )
    flat = out.reshape(-1)
    if flat.size and (flat.max() > 2**31 - 1 or flat.min() < -(2**31)):
        raise ValueError("FLAC sample exceeds int32")  # >26-bit side chans
    return flat.astype(np.int32), rate, channels


# --------------------------------------------------------------------------
# fixture encoder — deterministic, spec-true CRCs, selectable paths
# --------------------------------------------------------------------------


class _BitW:
    __slots__ = ("acc", "n", "out")

    def __init__(self):
        self.acc, self.n, self.out = 0, 0, bytearray()

    def write(self, v: int, n: int):
        self.acc = (self.acc << n) | (v & ((1 << n) - 1))
        self.n += n
        while self.n >= 8:
            self.n -= 8
            self.out.append((self.acc >> self.n) & 0xFF)
        self.acc &= (1 << self.n) - 1

    def unary(self, q: int):
        while q >= 32:
            self.write(0, 32)
            q -= 32
        self.write(1, q + 1)

    def pad(self):
        if self.n:
            self.write(0, 8 - self.n)


def _utf8_number(n: int) -> bytes:
    if n < 0x80:
        return bytes([n])
    out, nbytes = [], 2
    while n >= (1 << (7 - nbytes)) << (6 * (nbytes - 1)):
        nbytes += 1
    for i in range(nbytes - 1):
        out.append(0x80 | ((n >> (6 * i)) & 0x3F))
    lead = (0xFF << (8 - nbytes)) & 0xFF
    out.append(lead | (n >> (6 * (nbytes - 1))))
    return bytes(reversed(out))


def _rice_k(res) -> int:
    import numpy as np

    if len(res) == 0:
        return 0
    mean = int(np.abs(np.asarray(res, np.int64)).mean()) * 2 + 1
    return min(mean.bit_length() - 1 if mean > 1 else 0, 14)


def _write_residual(bw: _BitW, res, order: int, partition_order: int,
                    escape: bool):
    import numpy as np

    bs = order + len(res)
    nparts = 1 << partition_order
    if bs % nparts:
        raise ValueError("partition order must divide blocksize")
    bw.write(0, 2)  # 4-bit Rice method
    bw.write(partition_order, 4)
    at = 0
    for p in range(nparts):
        cnt = bs // nparts - (order if p == 0 else 0)
        part = res[at : at + cnt]
        at += cnt
        if escape:
            nb = max(
                (int(v).bit_length() + 1 for v in part), default=1
            )
            bw.write(0xF, 4)
            bw.write(nb, 5)
            for v in part:
                bw.write(int(v) & ((1 << nb) - 1), nb)
        else:
            k = _rice_k(part)
            bw.write(k, 4)
            for v in np.asarray(part, np.int64):
                u = (int(v) << 1) ^ (int(v) >> 63)
                bw.unary(u >> k)
                if k:
                    bw.write(u & ((1 << k) - 1), k)


def _write_subframe(bw: _BitW, s, bps: int, subframe: str,
                    partition_order: int, escape: bool):
    import numpy as np

    s = np.asarray(s, np.int64)
    bs = len(s)
    if subframe == "constant":
        if not (s == s[0]).all():
            raise ValueError("constant subframe needs constant samples")
        bw.write(0, 1)
        bw.write(0, 6)
        bw.write(0, 1)
        bw.write(int(s[0]) & ((1 << bps) - 1), bps)
    elif subframe == "verbatim":
        bw.write(0, 1)
        bw.write(1, 6)
        bw.write(0, 1)
        for v in s:
            bw.write(int(v) & ((1 << bps) - 1), bps)
    elif subframe.startswith("fixed"):
        order = int(subframe[5:] or 2)
        if order > min(4, bs):
            raise ValueError("fixed order out of range")
        bw.write(0, 1)
        bw.write(8 + order, 6)
        bw.write(0, 1)
        for v in s[:order]:
            bw.write(int(v) & ((1 << bps) - 1), bps)
        res = np.diff(s, order) if order else s
        _write_residual(bw, res, order, partition_order, escape)
    elif subframe == "lpc":
        # order-2 quantized predictor with arbitrary-but-fixed
        # coefficients: lossless regardless of coefficient quality,
        # which is all a decode fixture needs
        order, prec, shift = 2, 7, 5
        coefs = [55, -24]
        if bs < order:
            raise ValueError("blocksize shorter than LPC order")
        bw.write(0, 1)
        bw.write(32 + order - 1, 6)
        bw.write(0, 1)
        for v in s[:order]:
            bw.write(int(v) & ((1 << bps) - 1), bps)
        bw.write(prec - 1, 4)
        bw.write(shift, 5)
        for c in coefs:
            bw.write(c & ((1 << prec) - 1), prec)
        res = [
            int(s[i]) - ((coefs[0] * int(s[i - 1]) + coefs[1] * int(s[i - 2])) >> shift)
            for i in range(order, bs)
        ]
        _write_residual(bw, res, order, partition_order, escape)
    else:
        raise ValueError(f"unknown subframe strategy {subframe}")


def encode_flac(
    samples,
    sample_rate: int,
    n_channels: int = 1,
    bps: int = 16,
    blocksize: int = 256,
    subframe: str = "fixed2",
    stereo_mode: str = "indep",
    partition_order: int = 0,
    escape: bool = False,
) -> bytes:
    """Deterministic FLAC fixture encoder. ``samples`` is interleaved;
    ``subframe`` picks the decode path under test (``constant`` /
    ``verbatim`` / ``fixed0``-``fixed4`` / ``lpc``), ``stereo_mode``
    one of ``indep``/``ls``/``rs``/``ms`` (2-channel only),
    ``escape=True`` writes raw-bits partitions."""
    import numpy as np

    s = np.asarray(samples, np.int64).reshape(-1, n_channels)
    total = len(s)
    lo, hi = -(1 << (bps - 1)), (1 << (bps - 1)) - 1
    if s.size and (s.min() < lo or s.max() > hi):
        raise ValueError(f"samples exceed {bps}-bit range")
    if stereo_mode != "indep" and n_channels != 2:
        raise ValueError("stereo modes need 2 channels")

    out = bytearray(b"fLaC")
    info = bytearray()
    info += blocksize.to_bytes(2, "big") * 2
    info += b"\x00\x00\x00" * 2  # min/max framesize unknown
    v = (sample_rate << 44) | ((n_channels - 1) << 41) | ((bps - 1) << 36) | total
    info += v.to_bytes(8, "big")
    info += bytes(16)  # MD5 unknown (spec-legal zero)
    out += bytes([0x80]) + len(info).to_bytes(3, "big") + bytes(info)

    ss_codes = {8: 1, 12: 2, 16: 4, 20: 5, 24: 6, 32: 7}
    if bps not in ss_codes:
        raise ValueError(f"bps {bps} has no frame sample-size code")
    ch_codes = {"indep": n_channels - 1, "ls": 8, "rs": 9, "ms": 10}

    for fno, at in enumerate(range(0, total, blocksize)):
        blk = s[at : at + blocksize]
        bs = len(blk)
        # a final short block may not fit the predictor order — fall
        # back to verbatim for that frame, as real encoders choose
        # the subframe type per frame
        sub = subframe
        if sub.startswith("fixed") and bs < int(sub[5:] or 2):
            sub = "verbatim"
        elif sub == "lpc" and bs < 2:
            sub = "verbatim"
        bw = _BitW()
        bw.write(0b11111111111110, 14)
        bw.write(0, 1)
        bw.write(0, 1)  # fixed blocking strategy
        bw.write(7, 4)  # blocksize: 16-bit at end
        bw.write(0, 4)  # rate from STREAMINFO
        bw.write(ch_codes[stereo_mode], 4)
        bw.write(ss_codes[bps], 3)
        bw.write(0, 1)
        for byte in _utf8_number(fno):
            bw.write(byte, 8)
        bw.write(bs - 1, 16)
        hdr = bytes(bw.out)
        bw.write(_crc8(hdr), 8)

        if stereo_mode == "indep":
            chans = [(blk[:, c], bps) for c in range(n_channels)]
        elif stereo_mode == "ls":
            chans = [(blk[:, 0], bps), (blk[:, 0] - blk[:, 1], bps + 1)]
        elif stereo_mode == "rs":
            chans = [(blk[:, 0] - blk[:, 1], bps + 1), (blk[:, 1], bps)]
        else:  # ms
            chans = [
                ((blk[:, 0] + blk[:, 1]) >> 1, bps),
                (blk[:, 0] - blk[:, 1], bps + 1),
            ]
        for ch, ch_bps in chans:
            _write_subframe(bw, ch, ch_bps, sub, partition_order, escape)
        bw.pad()
        frame = bytes(bw.out)
        bw.write(_crc16(frame), 16)
        out += bw.out
    return bytes(out)
