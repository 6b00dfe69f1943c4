"""AIFF / AIFF-C and Sun AU audio containers — pure struct/NumPy.

The two classic non-RIFF PCM containers: Apple's AIFF (EA IFF 85
big-endian chunk layout, 80-bit extended-float sample rate) with its
AIFF-C compression-type extension, and Sun/NeXT ``.au`` (the simplest
real audio header in deployment). Both carry the SAME integer sample
data a WAV does, so they sit under the engine's container-BLIND
planted-value oracles exactly like FLAC (:mod:`dstlr_spark.operators.
flac`) — decode is bit-exact, no audio library.

Decoder surface:
- :func:`decode_aiff` — FORM/AIFF and FORM/AIFC chunk walk (big-endian
  sizes, word-aligned), COMM 80-bit extended-float rate, SSND
  offset/blockSize, 16-bit samples; AIFC compression types
  ``NONE``/``twos`` (BE), ``sowt`` (little-endian 16-bit) and
  ``fl32``/``FL32``/``fl64``/``FL64`` (big-endian IEEE floats). Other
  sample widths and compression types (``raw ``, G.711, ``ima4``,
  ``MAC3``, ``GSM ``, …) raise NotImplementedError.
- :func:`decode_au` — ``.snd`` header walk; encodings 3 (16-bit
  big-endian linear) and 6/7 (BE floats). Every other encoding
  (µ-law, A-law, 8/24/32-bit linear, G.721/G.723) raises
  NotImplementedError.

Both return ``(samples interleaved, sample_rate, n_channels)`` — the
:func:`dstlr_spark.operators.multimodal.decode_wav` contract, so
:func:`dstlr_spark.operators.multimodal.decode_audio` dispatches on
container magic and every downstream feature/VAD reducer stays
codec-blind.

Encoders (:func:`encode_aiff`, :func:`encode_au`) are the
deterministic FIXTURE side: they serialize planted 16-bit samples for
the gate corpus (including the 80-bit float rate round-trip at
non-power-of-two rates like 44100).

Scale shape: header walk + one ``frombuffer`` — map-only, vectorized;
corpus parallelism is the 100 TB axis (one clip per row,
Arrow-batched, features reduced in-stage).

Contract: malformed input raises ValueError (isolatable per doc);
real-but-unimplemented codecs raise NotImplementedError. Never
struct.error / IndexError — the Arrow isolation wrappers catch
exactly those two exception types.

Reference parity note: the reference engine has no audio surface;
this extends the §2.12 multimodal mandate (SURVEY.md) the same way
FLAC did.
"""

from __future__ import annotations

import struct

#: AIFC FVER timestamp for the May 23, 1990 (v1) spec revision.
AIFC_VERSION_1 = 0xA2805140


def _pack_f80(rate: int) -> bytes:
    """Positive integer → IEEE 754 80-bit extended float (the AIFF
    ``sampleRate`` field): 1 sign + 15 exponent (bias 16383) + 64
    mantissa with an EXPLICIT integer bit."""
    if rate <= 0:
        raise ValueError(f"AIFF sample rate must be positive, got {rate}")
    bl = rate.bit_length()
    if bl > 64:
        raise ValueError(f"AIFF sample rate {rate} exceeds 64-bit mantissa")
    return struct.pack(">HQ", 16383 + bl - 1, rate << (64 - bl))


def _unpack_f80(b: bytes) -> int:
    """80-bit extended float → nearest positive integer sample rate.

    Integer-exact for every rate :func:`_pack_f80` can write; rejects
    sign/NaN/infinity and out-of-audio-range exponents with ValueError
    (a corrupt rate otherwise becomes a ZeroDivisionError or an
    absurd duration downstream, escaping the per-doc isolation)."""
    if len(b) != 10:
        raise ValueError("AIFF sampleRate field must be 10 bytes")
    se, mant = struct.unpack(">HQ", b)
    if se & 0x8000:
        raise ValueError("negative AIFF sample rate")
    exp = se & 0x7FFF
    if exp == 0 and mant == 0:
        raise ValueError("zero AIFF sample rate")
    if exp == 0x7FFF:
        raise ValueError("non-finite AIFF sample rate")
    shift = exp - 16383 - 63
    if shift > 0:
        if shift > 32:
            raise ValueError(f"AIFF sample rate exponent {exp} out of range")
        rate = mant << shift
    else:
        if shift < -80:
            raise ValueError(f"AIFF sample rate exponent {exp} out of range")
        # round-to-nearest on the truncated bits (ties away from zero):
        # real-world rates are integers, but a denormal-ish encoder
        # could legally write 44099.99…
        whole = mant >> -shift if -shift < 64 else 0
        # shift == 0 has no truncated bits to round (and -shift-1
        # would be a negative shift count)
        frac_top = (mant >> (-shift - 1)) & 1 if 1 <= -shift <= 64 else 0
        rate = whole + frac_top
    if rate <= 0 or rate > 10_000_000:
        raise ValueError(f"AIFF sample rate {rate} out of audio range")
    return int(rate)


def _pascal_even(name: bytes) -> bytes:
    """AIFC compressionName: count byte + chars, padded so the TOTAL
    (count byte included) is even."""
    if len(name) > 255:
        raise ValueError("AIFC compression name too long")
    out = bytes([len(name)]) + name
    return out + (b"\x00" if len(out) & 1 else b"")


def encode_aiff(samples, sample_rate: int, n_channels: int = 1,
                compression: str | None = None) -> bytes:
    """Encode an int16 sample array (interleaved if multichannel) as
    AIFF (``compression=None``) or AIFF-C ``"sowt"`` (little-endian
    16-bit). Fixture-side determinism: chunk order is COMM (FVER first
    for AIFC) then SSND; offset/blockSize zero."""
    import numpy as np

    s = np.asarray(samples)
    if s.size % n_channels:
        raise ValueError("sample count not divisible by channel count")
    frames = s.size // n_channels
    if compression is None:
        data = s.astype(">i2").tobytes()
    elif compression == "sowt":
        data = s.astype("<i2").tobytes()
    else:
        raise ValueError(f"unsupported fixture compression {compression!r}")

    comm_body = struct.pack(">hIh", n_channels, frames, 16) + _pack_f80(
        sample_rate
    )
    chunks = b""
    if compression is not None:
        chunks += b"FVER" + struct.pack(">I", 4) + struct.pack(
            ">I", AIFC_VERSION_1
        )
        comm_body += compression.encode("latin-1") + _pascal_even(b"")
    chunks += b"COMM" + struct.pack(">I", len(comm_body)) + comm_body
    if len(comm_body) & 1:
        chunks += b"\x00"
    ssnd_body = struct.pack(">II", 0, 0) + data
    chunks += b"SSND" + struct.pack(">I", len(ssnd_body)) + ssnd_body
    if len(ssnd_body) & 1:
        chunks += b"\x00"
    form_type = b"AIFF" if compression is None else b"AIFC"
    return b"FORM" + struct.pack(">I", 4 + len(chunks)) + form_type + chunks


def _linear_from_be(data: bytes, bits: int, little: bool = False):
    """Raw linear sample bytes → ndarray, matching decode_wav's width
    conventions (8-bit → full-scale int16, 24-bit → sign-extended
    int32). Always returns NATIVE byte order: a big-endian view would
    silently pay a per-element byteswap in every downstream reducer
    (measured 3-10× on the feature sums), so the one-pass swap happens
    here."""
    import numpy as np

    if bits == 16:
        return np.frombuffer(data, "<i2" if little else ">i2").astype(
            np.int16, copy=False
        )
    if bits == 8:
        return np.frombuffer(data, np.int8).astype(np.int16) << 8
    if bits == 32:
        return np.frombuffer(data, "<i4" if little else ">i4").astype(
            np.int32, copy=False
        )
    if bits == 24:
        if len(data) % 3:
            raise ValueError("24-bit data not sample-aligned")
        tri = np.frombuffer(data, np.uint8).reshape(-1, 3).astype(np.int32)
        if little:
            v = tri[:, 0] | (tri[:, 1] << 8) | (tri[:, 2] << 16)
        else:
            v = tri[:, 2] | (tri[:, 1] << 8) | (tri[:, 0] << 16)
        return v - ((v & 0x800000) << 1)
    raise NotImplementedError(
        f"STUB: {bits}-bit linear samples; 8/16/24/32 decode natively"
    )


def decode_aiff(b: bytes):
    """REAL AIFF / AIFF-C decode → (samples interleaved, sample_rate,
    n_channels). See the module docstring for the supported surface."""
    import numpy as np

    if len(b) < 12 or b[:4] != b"FORM":
        raise ValueError("not an IFF FORM stream")
    form_type = b[8:12]
    if form_type not in (b"AIFF", b"AIFC"):
        raise ValueError(f"not an AIFF/AIFC form: {form_type!r}")
    pos, comm, ssnd = 12, None, None
    end = min(len(b), 8 + struct.unpack(">I", b[4:8])[0])
    while pos + 8 <= end:
        tag, ln = struct.unpack(">4sI", b[pos : pos + 8])
        chunk = b[pos + 8 : pos + 8 + ln]
        if len(chunk) != ln:
            raise ValueError(f"truncated AIFF chunk {tag!r}")
        if tag == b"COMM":
            comm = chunk
        elif tag == b"SSND":
            ssnd = chunk
        pos += 8 + ln + (ln & 1)  # chunks are word-aligned
    if comm is None or ssnd is None:
        raise ValueError("AIFF missing COMM/SSND chunk")
    if len(comm) < 18:
        raise ValueError("AIFF COMM chunk shorter than 18 bytes")
    n_channels, frames, bits = struct.unpack(">hIh", comm[:8])
    rate = _unpack_f80(comm[8:18])
    if n_channels <= 0:
        raise ValueError(f"AIFF channels={n_channels} invalid")
    comp = b"NONE"
    if form_type == b"AIFC":
        if len(comm) < 22:
            raise ValueError("AIFC COMM missing compression type")
        comp = comm[18:22]
    if len(ssnd) < 8:
        raise ValueError("AIFF SSND chunk shorter than 8 bytes")
    offset, _block = struct.unpack(">II", ssnd[:8])
    data = ssnd[8 + offset :]

    if comp in (b"NONE", b"twos", b"sowt"):
        if bits != 16:
            raise NotImplementedError(f"STUB: {bits}-bit AIFF samples")
        s = _linear_from_be(data, 16, little=comp == b"sowt")
    elif comp in (b"fl32", b"FL32"):
        s = np.frombuffer(data, ">f4").astype(np.float32, copy=False)
    elif comp in (b"fl64", b"FL64"):
        s = np.frombuffer(data, ">f8").astype(np.float64, copy=False)
    else:
        raise NotImplementedError(
            f"STUB: AIFC compression {comp!r} — NONE/twos/sowt/fl32/fl64 "
            "decode natively"
        )
    want = frames * n_channels
    if s.size < want:
        raise ValueError(
            f"AIFF SSND carries {s.size} samples, COMM promises {want}"
        )
    return s[:want], rate, n_channels


# --------------------------------------------------------------------------
# Sun/NeXT AU
# --------------------------------------------------------------------------

def encode_au(samples, sample_rate: int, n_channels: int = 1,
              annotation: bytes = b"") -> bytes:
    """Encode an int16 sample array as a Sun AU stream (big-endian
    header + encoding 3, 16-bit linear PCM data)."""
    import numpy as np

    data = np.asarray(samples).astype(">i2").tobytes()
    if annotation and len(annotation) % 4:
        annotation += b"\x00" * (4 - len(annotation) % 4)
    hdr = struct.pack(
        ">4sIIIII",
        b".snd",
        24 + len(annotation),
        len(data),
        3,
        sample_rate,
        n_channels,
    )
    return hdr + annotation + data


def decode_au(b: bytes):
    """REAL Sun AU decode → (samples interleaved, sample_rate,
    n_channels). Encodings: 3 (16-bit linear BE) and 6/7 (BE floats);
    every other encoding raises NotImplementedError."""
    import numpy as np

    if len(b) < 24 or b[:4] != b".snd":
        raise ValueError("not a Sun AU stream")
    _, hdr_size, data_size, encoding, rate, n_channels = struct.unpack(
        ">4sIIIII", b[:24]
    )
    if hdr_size < 24 or hdr_size > len(b):
        raise ValueError(f"AU header size {hdr_size} invalid")
    if rate <= 0 or n_channels <= 0:
        raise ValueError(f"AU rate={rate} channels={n_channels} invalid")
    data = b[hdr_size:]
    if data_size != 0xFFFFFFFF:  # 0xFFFFFFFF = "unknown", use stream end
        if data_size > len(data):
            raise ValueError("AU data truncated vs header size")
        data = data[:data_size]
    if encoding == 3:
        return _linear_from_be(data, 16), rate, n_channels
    if encoding == 6:
        return (np.frombuffer(data, ">f4").astype(np.float32, copy=False),
                rate, n_channels)
    if encoding == 7:
        return (np.frombuffer(data, ">f8").astype(np.float64, copy=False),
                rate, n_channels)
    raise NotImplementedError(
        f"STUB: AU encoding {encoding} — 16-bit linear and floats "
        "decode natively"
    )
