"""Truevision TGA decode/encode — pure struct/NumPy, zero deps.

TGA stores uncompressed or RLE-packed scanlines of 8-bit gray,
24-bit BGR, or 32-bit BGRA pixels under an 18-byte little-endian
header — every path integer-exact, so it joins the engine's
format-BLIND planted-pixel oracle corpus the way BMP/PNG/GIF/TIFF do (:func:`dstlr_spark.operators.multimodal.
decode_rgb_bytes` dispatch).

TGA has NO front magic; dispatch keys on the TGA 2.0 footer signature
(``TRUEVISION-XFILE.\\0`` in the trailing 26 bytes) — spec-true, and
the fixture encoder always writes it.

Decoder surface (:func:`decode_tga`): image types 2/3 and their
RLE-10/11 twins; 8-bit gray and 24/32-bit truecolor pixels; both
vertical origins (descriptor bit 5) and the rare right-to-left bit 4;
the image-ID field and any colormap skipped by length. Colormapped
images (types 1/9), 15/16-bit pixels and interleaved (legacy bits
6-7) layouts raise NotImplementedError.

Contract: malformed input raises ValueError; real-but-unimplemented
layouts raise NotImplementedError; never struct.error/IndexError.
"""

from __future__ import annotations

import struct

TGA_FOOTER_SIG = b"TRUEVISION-XFILE.\x00"


def _rle_expand(data: bytes, n_pixels: int, bpp_bytes: int):
    """TGA RLE → flat pixel bytes (n_pixels · bpp_bytes). Packet
    stream: control byte high bit set → run of (n&0x7F)+1 copies of
    ONE pixel; clear → (n)+1 literal pixels. Runs may legally cross
    scanlines (decoded flat)."""
    import numpy as np

    out = np.empty(n_pixels * bpp_bytes, np.uint8)
    src = np.frombuffer(data, np.uint8)
    pos = 0
    filled = 0
    end = n_pixels * bpp_bytes
    while filled < end:
        if pos >= src.size:
            raise ValueError("truncated TGA RLE stream")
        ctrl = int(src[pos])
        pos += 1
        count = (ctrl & 0x7F) + 1
        if ctrl & 0x80:  # run packet
            if pos + bpp_bytes > src.size:
                raise ValueError("truncated TGA RLE run pixel")
            px = src[pos : pos + bpp_bytes]
            pos += bpp_bytes
            n = min(count * bpp_bytes, end - filled)
            out[filled : filled + n] = np.tile(px, count)[:n]
            filled += n
        else:  # raw packet
            nbytes = count * bpp_bytes
            if pos + nbytes > src.size:
                raise ValueError("truncated TGA RLE raw packet")
            n = min(nbytes, end - filled)
            out[filled : filled + n] = src[pos : pos + n]
            pos += nbytes
            filled += n
    return out


def _pixels_to_rgb(flat, w: int, h: int, depth: int):
    """Flat pixel bytes at ``depth`` bits → (h, w, 3) uint8 RGB."""
    import numpy as np

    if depth == 24:
        bgr = flat.reshape(h, w, 3)
        return bgr[..., ::-1].copy()
    if depth == 32:
        bgra = flat.reshape(h, w, 4)
        return bgra[..., 2::-1].copy()
    if depth == 8:
        g = flat.reshape(h, w)
        return np.repeat(g[..., None], 3, axis=-1)
    raise NotImplementedError(f"STUB: TGA pixel depth {depth}")


def decode_tga(b: bytes):
    """REAL TGA decode → (h, w, 3) uint8 RGB array (alpha dropped,
    matching the BMP 32-bpp path)."""
    import numpy as np

    if len(b) < 18 + 26:
        raise ValueError("truncated TGA stream")
    if b[-18:] != TGA_FOOTER_SIG:
        raise ValueError("missing TGA 2.0 footer signature")
    (
        id_len,
        cm_type,
        img_type,
        _cm_first,
        cm_len,
        cm_bits,
        _x0,
        _y0,
        w,
        h,
        depth,
        desc,
    ) = struct.unpack("<BBBHHBHHHHBB", b[:18])
    if desc & 0xC0:
        raise NotImplementedError(
            "STUB: legacy interleaved TGA layout (descriptor bits 6-7)"
        )
    if w == 0 or h == 0 or w * h > 1 << 26:
        # the upper bound rejects mutated headers before np.empty can
        # turn them into a MemoryError (which would escape the
        # ValueError/NotImplementedError isolation contract)
        raise ValueError(f"TGA dims {w}x{h} invalid")
    rle = img_type >= 9
    kind = img_type - 8 if rle else img_type
    if kind not in (2, 3):
        raise NotImplementedError(f"STUB: TGA image type {img_type}")
    pos = 18 + id_len
    if cm_type == 1:  # a colormap a truecolor image does not use
        pos += cm_len * ((cm_bits + 7) // 8)
    bpp_bytes = (depth + 7) // 8
    n_px = w * h
    if rle:
        flat = _rle_expand(b[pos:], n_px, bpp_bytes)
    else:
        raw = np.frombuffer(b[pos : pos + n_px * bpp_bytes], np.uint8)
        if raw.size < n_px * bpp_bytes:
            raise ValueError("truncated TGA pixel data")
        flat = raw

    if kind == 3:
        if depth != 8:
            raise NotImplementedError(f"STUB: TGA grayscale depth {depth}")
        rgb = _pixels_to_rgb(flat, w, h, 8)
    else:
        rgb = _pixels_to_rgb(flat, w, h, depth)

    if not desc & 0x20:  # bottom-up (default) → flip to top-down
        rgb = rgb[::-1]
    if desc & 0x10:  # right-to-left
        rgb = rgb[:, ::-1]
    return np.ascontiguousarray(rgb)


def encode_tga(rgb, rle: bool = False, top_down: bool = True,
               depth: int = 24) -> bytes:
    """FIXTURE-side TGA encoder: truecolor (type 2) from ``rgb`` at
    ``depth`` 24/32; RLE uses maximal same-pixel runs (type 10).
    Always writes the TGA 2.0 footer (the dispatch magic)."""
    import numpy as np

    arr = np.asarray(rgb, np.uint8)
    if not top_down:
        arr = arr[::-1]
    h, w = arr.shape[:2]
    img_type, d = 2, depth
    if depth == 24:
        flat = arr[..., ::-1].reshape(-1, 3)
    elif depth == 32:
        a = np.full((h, w, 1), 255, np.uint8)
        flat = np.concatenate([arr[..., ::-1], a], axis=-1).reshape(-1, 4)
    else:
        raise ValueError(f"unsupported fixture TGA depth {depth}")
    if rle:
        img_type += 8
        body = bytearray()
        px = flat
        i, n = 0, px.shape[0]
        while i < n:
            j = i + 1
            while j < n and j - i < 128 and (px[j] == px[i]).all():
                j += 1
            if j - i >= 2:
                body.append(0x80 | (j - i - 1))
                body += px[i].tobytes()
                i = j
            else:
                k = i + 1
                while (
                    k < n
                    and k - i < 128
                    and not (k + 1 < n and (px[k] == px[k + 1]).all())
                ):
                    k += 1
                body.append(k - i - 1)
                body += px[i:k].tobytes()
                i = k
        data = bytes(body)
    else:
        data = flat.tobytes()
    desc = 0x20 if top_down else 0
    if d == 32:
        desc |= 8  # alpha channel bits
    hdr = struct.pack(
        "<BBBHHBHHHHBB", 0, 0, img_type, 0, 0, 0, 0, 0, w, h, d, desc
    )
    footer = struct.pack("<II", 0, 0) + TGA_FOOTER_SIG
    return hdr + data + footer
