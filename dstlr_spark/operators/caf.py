"""Apple CAF and Sony Wave64 (W64) audio containers — pure
struct/NumPy.

The two remaining deployed PCM wrappers: CAF (Apple's Core Audio
Format — big-endian chunks, float64 sample rate, signed-64 chunk
sizes with the spec's open-ended ``-1`` audio-data size) and W64
(Sony's 64-bit RIFF variant — 16-byte GUID chunk ids, 8-byte sizes
that INCLUDE the 24-byte header, 8-byte alignment), both carrying
the same linear PCM a WAV does. Decode is bit-exact, so both ride
the container-blind planted-value oracles through
:func:`dstlr_spark.operators.multimodal.decode_audio`.

Decoder surface:
- :func:`decode_caf` — ``caff`` file header, ``desc``/``data`` chunk
  walk; ``lpcm`` at 8/16/24/32-bit integer (big-endian, or little
  via format flag bit 1) and 32/64-bit float (flag bit 0); the
  ``data`` chunk's leading 4-byte edit count skipped; compressed
  format ids (``ima4``, ``aac ``, ``alac``…) raise NotImplementedError.
- :func:`decode_w64` — RIFF/WAVE GUID walk (``riff``/``wave``/
  ``fmt ``/``data`` GUIDs matched on their leading fourcc), sizes
  include the header, chunks 8-byte aligned; the parsed fmt block
  feeds the same PCM/float format dispatch as WAV.

Encoders are the deterministic fixture side. Contract: malformed →
ValueError; unimplemented codecs → NotImplementedError; never
struct.error/IndexError.
"""

from __future__ import annotations

import struct

# W64 GUIDs: fourcc + the fixed RIFF-GUID tail (Sony Wave64 spec).
_W64_TAIL = bytes.fromhex("2D91CF11A5D628DB04C10000")
_GUID_RIFF = b"riff" + _W64_TAIL
_GUID_WAVE = b"wave" + _W64_TAIL
_GUID_FMT = b"fmt " + _W64_TAIL
_GUID_DATA = b"data" + _W64_TAIL


def encode_caf(samples, sample_rate: int, n_channels: int = 1,
               little_endian: bool = False) -> bytes:
    """Encode int16 samples as a CAF lpcm stream (fixture side)."""
    import numpy as np

    s = np.asarray(samples, np.int16)
    data = s.astype("<i2" if little_endian else ">i2").tobytes()
    flags = 2 if little_endian else 0
    desc = struct.pack(
        ">d4sIIIII", float(sample_rate), b"lpcm", flags,
        2 * n_channels, 1, n_channels, 16,
    )
    out = b"caff" + struct.pack(">HH", 1, 0)
    out += b"desc" + struct.pack(">q", len(desc)) + desc
    out += b"data" + struct.pack(">q", 4 + len(data))
    out += struct.pack(">I", 0) + data  # edit count
    return out


def decode_caf(b: bytes):
    """REAL CAF decode → (samples interleaved, sample_rate,
    n_channels)."""
    import numpy as np

    if len(b) < 8 or b[:4] != b"caff":
        raise ValueError("not a CAF stream")
    pos, desc, data = 8, None, None
    while pos + 12 <= len(b):
        tag = b[pos : pos + 4]
        size = struct.unpack(">q", b[pos + 4 : pos + 12])[0]
        body_start = pos + 12
        if size == -1:
            # spec: a final audio-data chunk may be open-ended
            if tag != b"data":
                raise ValueError("open-ended CAF chunk that is not data")
            size = len(b) - body_start
        if size < 0 or body_start + size > len(b):
            raise ValueError(f"truncated CAF chunk {tag!r}")
        chunk = b[body_start : body_start + size]
        if tag == b"desc":
            desc = chunk
        elif tag == b"data":
            data = chunk
        pos = body_start + size
    if desc is None or data is None:
        raise ValueError("CAF missing desc/data chunk")
    if len(desc) < 32:
        raise ValueError("CAF desc chunk shorter than 32 bytes")
    rate_f, fmt_id, flags, _bpp, _fpp, n_channels, bits = struct.unpack(
        ">d4sIIIII", desc[:32]
    )
    if not (0 < rate_f <= 10_000_000):  # also rejects NaN/inf
        raise ValueError(f"CAF sample rate {rate_f} invalid")
    # mSampleRate is Float64 per spec: fractional rates (e.g. the
    # classic Mac 22254.54545 Hz) are legal — round to nearest like
    # the AIFF 80-bit-float path does
    rate = int(round(rate_f))
    if rate <= 0:
        raise ValueError(f"CAF sample rate {rate_f} invalid")
    if n_channels <= 0:
        raise ValueError(f"CAF channels={n_channels} invalid")
    if fmt_id != b"lpcm":
        raise NotImplementedError(
            f"STUB: CAF format {fmt_id!r} is a compressed codec "
            "(ima4/aac/alac/…); only lpcm decodes natively"
        )
    if len(data) < 4:
        raise ValueError("CAF data chunk missing edit count")
    pcm = data[4:]
    is_float = flags & 1
    little = bool(flags & 2)
    e = "<" if little else ">"
    if is_float:
        if bits == 32:
            return (np.frombuffer(pcm, e + "f4").astype(np.float32,
                                                        copy=False),
                    rate, n_channels)
        if bits == 64:
            return (np.frombuffer(pcm, e + "f8").astype(np.float64,
                                                        copy=False),
                    rate, n_channels)
        raise ValueError(f"CAF float at {bits} bits invalid")
    from dstlr_spark.operators.aiff import _linear_from_be

    if bits in (8, 16, 24, 32):
        return _linear_from_be(pcm, bits, little=little), rate, n_channels
    raise NotImplementedError(f"STUB: CAF lpcm at {bits} bits")


def encode_rf64(samples, sample_rate: int, n_channels: int = 1) -> bytes:
    """Encode int16 samples as an RF64/BW64 stream (fixture side):
    sentinel 32-bit sizes with the real 64-bit sizes in ds64 — the
    form a >4 GB broadcast-WAV corpus ships."""
    import numpy as np

    s = np.asarray(samples, np.int16)
    pcm = s.astype("<i2").tobytes()
    block = 2 * n_channels
    fmt = struct.pack(
        "<HHIIHH", 1, n_channels, sample_rate, sample_rate * block, block, 16
    )
    total = 12 + (8 + 28) + (8 + len(fmt)) + (8 + len(pcm)) + (len(pcm) & 1)
    body = (
        b"WAVE"
        + b"ds64" + struct.pack("<I", 28)
        + struct.pack("<QQQI", total - 8, len(pcm), len(pcm) // block, 0)
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", 0xFFFFFFFF) + pcm
        + (b"\x00" if len(pcm) & 1 else b"")
    )
    return b"RF64" + struct.pack("<I", 0xFFFFFFFF) + body


def encode_w64(samples, sample_rate: int, n_channels: int = 1) -> bytes:
    """Encode int16 samples as a Sony Wave64 stream (fixture side):
    GUID chunks, sizes INCLUDE the 24-byte header, 8-byte alignment."""
    import numpy as np

    s = np.asarray(samples, np.int16)
    pcm = s.astype("<i2").tobytes()
    block = 2 * n_channels
    fmt = struct.pack(
        "<HHIIHH", 1, n_channels, sample_rate, sample_rate * block, block, 16
    )

    def chunk(guid: bytes, body: bytes) -> bytes:
        raw = guid + struct.pack("<q", 24 + len(body)) + body
        pad = (-len(raw)) % 8
        return raw + b"\x00" * pad

    body = _GUID_WAVE + chunk(_GUID_FMT, fmt) + chunk(_GUID_DATA, pcm)
    return _GUID_RIFF + struct.pack("<q", 24 + len(body)) + body


def decode_w64(b: bytes):
    """REAL Wave64 decode → (samples interleaved, sample_rate,
    n_channels). The fmt block feeds the same dispatch rules as WAV
    (PCM 8-32, float, G.711)."""
    import numpy as np

    if len(b) < 40 or b[:16] != _GUID_RIFF or b[24:40] != _GUID_WAVE:
        raise ValueError("not a Wave64 stream")
    riff_size = struct.unpack("<q", b[16:24])[0]
    end = min(len(b), riff_size)
    pos, fmt, data = 40, None, None
    while pos + 24 <= end:
        guid = b[pos : pos + 24 - 8]
        size = struct.unpack("<q", b[pos + 16 : pos + 24])[0]
        if size < 24 or pos + size > end:
            raise ValueError(f"truncated W64 chunk {guid[:4]!r}")
        chunk = b[pos + 24 : pos + size]
        if guid == _GUID_FMT:
            if len(chunk) < 16:
                raise ValueError("W64 fmt chunk shorter than 16 bytes")
            fmt = struct.unpack("<HHIIHH", chunk[:16])
        elif guid == _GUID_DATA:
            data = chunk
        pos += size + ((-size) % 8)  # chunks are 8-byte aligned
    if fmt is None or data is None:
        raise ValueError("W64 missing fmt/data chunk")
    audio_format, n_channels, rate, _, _block, bits = fmt
    if rate <= 0 or n_channels <= 0:
        raise ValueError(f"W64 rate={rate} channels={n_channels} invalid")
    if audio_format == 1:
        from dstlr_spark.operators.aiff import _linear_from_be

        if bits == 8:  # WAV convention: 8-bit PCM is offset-binary
            u = np.frombuffer(data, np.uint8).astype(np.int16)
            return (u - 128) << 8, rate, n_channels
        if bits in (16, 24, 32):
            return _linear_from_be(data, bits, little=True), rate, n_channels
    elif audio_format == 3 and bits in (32, 64):
        return np.frombuffer(data, "<f4" if bits == 32 else "<f8"), rate, \
            n_channels
    raise NotImplementedError(
        f"STUB: W64 format={audio_format} bits={bits}; PCM/float "
        "decode natively"
    )
