"""TIFF decode/encode — pure Python/NumPy, zero dependencies.

Baseline TIFF 6.0: both byte orders (``II``/``MM``), first-IFD image,
chunky strips with RowsPerStrip assembly, Compression 1 (none)
and 5 (TIFF-LZW — MSB-first codes with the
spec's EARLY-CHANGE width switch, which is exactly one code earlier
than GIF's), Predictor 2 (horizontal differencing, per-component
modulo add), and the four photometrics that need no color science:
WhiteIsZero / BlackIsZero gray (1/4/8/16 bits), RGB (8/16 bits,
SamplesPerPixel 3, or 4 with the extra sample dropped — the same
aux-drop convention the PNG decoder uses for gray+alpha), and
Palette (ColorMap's 16-bit planes scaled ``>> 8``). All integer-
exact, so TIFF joins the planted-pixel oracle gates beside
BMP/PNG/GIF/lossless-JPEG. Returns (h, w, 3) uint8 (uint16 for
16-bit samples) like :func:`dstlr_spark.operators.multimodal.
decode_rgb_bytes`, which dispatches ``II*``/``MM*`` magic here.

New-style JPEG-in-TIFF (Compression 7, TTN2) also decodes: every
strip is a complete JPEG stream — abbreviated against the shared
``JPEGTables`` tag 347 when present — delegated to
:mod:`dstlr_spark.operators.jpeg` and stacked strip-wise (lossless
SOF3 strips stay integer-exact, so the hybrid joins the gate corpus
too). Planar configuration 2 (per-plane strip/tile sequences) and
TILED layouts (tags 322-325, zero-padded edge tiles, per-tile
predictor chains) decode natively for every byte codec, and tiled
JPEG-in-TIFF assembles through the same JPEG delegation.
IEEE-float samples (SampleFormat 3 at 16/32/64 bits, both byte
orders, all byte codecs incl. planar/tiled layouts) decode via a
documented deterministic clamp-[0,1]-scale-to-255 mapping computed
in float64 on the stored values (TIFF assigns floats no display
semantics, so the mapping is a contract of this engine, pinned by
tests — NaN → 0, rint rounding). Signed samples (SampleFormat 2,
8/16-bit) map EXACTLY onto the unsigned pixel scale via the
post-predictor offset ``x + 2^(bits-1) mod 2^bits``. Out of scope
(loud stubs): CCITT, the broken old-style JPEG tag 6, sub-byte/32-bit
signed samples, and the float predictor 3.

Encoder (:func:`encode_tiff`) is the deterministic fixture side —
real LZW (early change included) so decode paths
are pinned by round-trips, plus hand-stream tests for the conventions
an encoder of our own could mask.

Contract: malformed input raises ValueError; unsupported-but-real
layouts raise NotImplementedError; never struct.error/IndexError
(the Arrow per-doc isolation wrappers catch exactly those two).

Reference semantics: TIFF 6.0 spec §§ 7 (strips),
13 (LZW), 14 (differencing predictor).
"""

from __future__ import annotations

import struct


def _lzw_decode(data: bytes, expect: int) -> bytes:
    """TIFF-LZW (spec §13): MSB-first codes, Clear=256/EOI=257, width
    9→12 with the EARLY-CHANGE convention — the width grows when the
    NEXT code to be assigned is 511/1023/2047 (one earlier than GIF's
    table-full rule, the classic cross-codec bug)."""
    out = bytearray()
    table: list[bytes] = []

    def reset():
        table.clear()
        table.extend(bytes([i]) for i in range(256))
        table.append(b"")  # 256 Clear
        table.append(b"")  # 257 EOI

    reset()
    width = 9
    acc = nacc = 0
    prev: bytes | None = None
    for byte in data:
        acc = (acc << 8) | byte
        nacc += 8
        while nacc >= width:
            nacc -= width
            code = (acc >> nacc) & ((1 << width) - 1)
            if code == 256:  # Clear
                reset()
                width = 9
                prev = None
                continue
            if code == 257:  # EOI
                if len(out) < expect:
                    raise ValueError("LZW EOI before strip complete")
                return bytes(out[:expect])
            if prev is None:
                if code >= 256:
                    raise ValueError("LZW first code not a literal")
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):  # KwKwK
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise ValueError("LZW code beyond table")
            out += entry
            prev = entry
            # EARLY CHANGE with the decoder's one-entry lag: the
            # encoder widens as soon as its next free code is 2^w−1,
            # and the decoder's table trails the encoder's by one
            # entry at read time — so the width grows at table sizes
            # 510/1022/2046, one earlier than a GIF decoder would
            if len(table) + 2 >= (1 << width) and width < 12:
                width += 1
            if len(out) >= expect:
                return bytes(out[:expect])
    raise ValueError("LZW strip ended without EOI")


def _lzw_encode(data: bytes) -> bytes:
    out = bytearray()
    acc = nacc = 0

    def emit(code: int, width: int):
        nonlocal acc, nacc
        acc = (acc << width) | code
        nacc += width
        while nacc >= 8:
            nacc -= 8
            out.append((acc >> nacc) & 0xFF)

    table = {bytes([i]): i for i in range(256)}
    nxt, width = 258, 9
    emit(256, width)  # leading Clear, as the spec requires
    w = b""
    for byte in data:
        wc = w + bytes([byte])
        if wc in table:
            w = wc
            continue
        emit(table[w], width)
        table[wc] = nxt
        nxt += 1
        # early change mirrors the decoder
        if nxt + 1 >= (1 << width):
            if width < 12:
                width += 1
            else:  # table full: clear and restart
                emit(256, width)
                table = {bytes([i]): i for i in range(256)}
                nxt, width = 258, 9
        w = bytes([byte])
    if w:
        emit(table[w], width)
    emit(257, width)  # EOI
    if nacc:
        out.append((acc << (8 - nacc)) & 0xFF)
    return bytes(out)


_TYPE_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 6: 1, 7: 1, 8: 2, 9: 4, 10: 8}


def _read_ifd(b: bytes, off: int, eo: str):
    if off + 2 > len(b):
        raise ValueError("truncated TIFF IFD")
    (n,) = struct.unpack(eo + "H", b[off : off + 2])
    tags = {}
    at = off + 2
    if at + 12 * n > len(b):
        raise ValueError("truncated TIFF IFD entries")
    for _ in range(n):
        tag, typ, cnt = struct.unpack(eo + "HHI", b[at : at + 8])
        size = _TYPE_SIZES.get(typ, 0) * cnt
        if size == 0:
            at += 12
            continue  # unknown type: skip, per spec readers must
        if size <= 4:
            raw = b[at + 8 : at + 8 + size]
        else:
            (voff,) = struct.unpack(eo + "I", b[at + 8 : at + 12])
            raw = b[voff : voff + size]
            if len(raw) != size:
                raise ValueError(f"TIFF tag {tag} value out of bounds")
        if typ == 3:
            vals = struct.unpack(eo + "H" * cnt, raw)
        elif typ == 4:
            vals = struct.unpack(eo + "I" * cnt, raw)
        elif typ == 1:
            vals = tuple(raw)
        else:
            vals = raw  # bytes for types the decoder doesn't interpret
        tags[tag] = vals
        at += 12
    return tags


def decode_tiff(b: bytes):
    """Decode the first IFD of a TIFF stream → (h, w, 3) RGB array
    (uint8, or exact uint16 for 16-bit samples)."""
    import numpy as np

    if b[:4] not in (b"II*\x00", b"MM\x00*"):
        raise ValueError("not a TIFF stream")
    eo = "<" if b[:2] == b"II" else ">"
    if len(b) < 8:
        raise ValueError("truncated TIFF header")
    (ifd_off,) = struct.unpack(eo + "I", b[4:8])
    tags = _read_ifd(b, ifd_off, eo)

    def one(tag, default=None):
        v = tags.get(tag)
        if v is None:
            if default is None:
                raise ValueError(f"TIFF missing required tag {tag}")
            return default
        return int(v[0])

    w, h = one(256), one(257)
    if w <= 0 or h <= 0:
        raise ValueError(f"TIFF dimensions {w}x{h} invalid")
    comp = one(259, 1)
    photo = one(262)
    spp = one(277, 1)
    bits_v = tags.get(258, (1,))
    if not isinstance(bits_v, tuple):
        raise ValueError("TIFF BitsPerSample type invalid")
    if len(set(bits_v)) != 1:
        raise NotImplementedError("STUB: heterogeneous TIFF BitsPerSample")
    bits = int(bits_v[0])
    planar = one(284, 1)
    predictor = one(317, 1)
    if planar not in (1, 2):
        raise ValueError(f"TIFF PlanarConfiguration {planar} invalid")
    tiled = 322 in tags or 324 in tags
    if comp not in (1, 5, 7):
        raise NotImplementedError(
            f"STUB: TIFF compression {comp} (PackBits, CCITT and the "
            "broken old-style JPEG-in-TIFF tag 6 stay stubs); none/LZW/"
            "new-style-JPEG decode natively"
        )
    if predictor == 3:
        raise NotImplementedError(
            "STUB: TIFF predictor 3 (floating-point differencing)"
        )
    if predictor not in (1, 2):
        raise ValueError(f"TIFF predictor {predictor} invalid")

    sfmt_v = tags.get(339, (1,) * max(1, spp))
    if not isinstance(sfmt_v, tuple):
        raise ValueError("TIFF SampleFormat type invalid")
    if len(set(sfmt_v)) != 1:
        raise NotImplementedError("STUB: heterogeneous TIFF SampleFormat")
    sfmt = int(sfmt_v[0])
    if sfmt == 4:
        raise NotImplementedError(
            "STUB: TIFF SampleFormat 4 (undefined data) has no pixel "
            "semantics to decode to"
        )
    if sfmt not in (1, 2, 3):
        raise ValueError(f"TIFF SampleFormat {sfmt} invalid")
    if sfmt == 2:
        # signed-int samples: EXACT offset map to the unsigned pixel
        # scale (x + 2^(bits-1) mod 2^bits) applied after any
        # predictor chain — the two commute only in that order (the
        # predictor's stored deltas are offset-free)
        if bits not in (8, 16):
            raise NotImplementedError(
                f"STUB: signed TIFF samples at {bits} bits; 8/16 map "
                "exactly onto the unsigned pixel scale"
            )
        if comp == 7:
            raise ValueError("signed JPEG-in-TIFF is malformed (TTN2)")
        if photo == 3:
            raise ValueError("signed palette TIFF is malformed")
    if sfmt == 3:
        # IEEE-float samples (SampleFormat 3): decoded by clamping to
        # [0, 1] and scaling to the 0-255 pixel contract at unpack
        # time (rint; NaN → 0) — a documented DETERMINISTIC mapping,
        # not spec (TIFF assigns floats no display semantics). Byte
        # geometry below keeps the true 16/32/64 sample width.
        if bits == 24:
            raise NotImplementedError(
                "STUB: fp24 float samples (TIFF TechNote 3 / DNG)"
            )
        if bits not in (16, 32, 64):
            raise ValueError(f"float TIFF BitsPerSample {bits} invalid")
        if comp == 7:
            raise ValueError("float JPEG-in-TIFF is malformed (TTN2)")
        if photo == 3:
            raise ValueError("float palette TIFF is malformed")
        if predictor == 2:
            raise NotImplementedError(
                "STUB: integer differencing on float samples"
            )
    if predictor == 2 and bits not in (8, 16):
        raise NotImplementedError("STUB: predictor on sub-byte samples")

    nplanes = spp if planar == 2 else 1
    sppc = 1 if planar == 2 else spp  # samples per pixel per segment

    if comp == 7:
        # new-style JPEG-in-TIFF (TTN2): every strip/tile is a complete
        # JPEG stream — optionally abbreviated against the shared
        # JPEGTables (tag 347: SOI + table segments + EOI) — decoded
        # by the package's own JPEG module and assembled
        if photo not in (1, 2, 6):
            raise NotImplementedError(
                "STUB: JPEG-in-TIFF photometric beyond gray/RGB/YCbCr"
            )
        if planar == 2:
            raise ValueError("planar JPEG-in-TIFF is malformed (TTN2)")
        from dstlr_spark.operators.jpeg import decode_jpeg

        tables = tags.get(347)
        if tables is not None and (
            not isinstance(tables, (bytes, bytearray))
            or tables[:2] != b"\xff\xd8"
            or tables[-2:] != b"\xff\xd9"
        ):
            raise ValueError("TIFF JPEGTables is not an abbreviated stream")

        def jpeg_seg(raw):
            if raw[:2] != b"\xff\xd8":
                raise ValueError("JPEG-in-TIFF segment lacks SOI")
            if tables is not None:
                raw = b"\xff\xd8" + bytes(tables[2:-2]) + raw[2:]
            return decode_jpeg(bytes(raw))

        if tiled:
            tw, tl = one(322), one(323)
            if tw <= 0 or tl <= 0:
                raise ValueError("TIFF tile dimensions invalid")
            offs, cnts = tags.get(324), tags.get(325)
            if offs is None or cnts is None:
                raise ValueError("TIFF missing tile offsets/byte counts")
            ta, td = -(-w // tw), -(-h // tl)
            if len(offs) != len(cnts) or len(offs) != ta * td:
                raise ValueError("TIFF tile count mismatch")
            out = None
            for ti, (soff, scnt) in enumerate(zip(offs, cnts)):
                raw = b[int(soff) : int(soff) + int(scnt)]
                if len(raw) != int(scnt):
                    raise ValueError("TIFF tile out of bounds")
                img = jpeg_seg(raw)
                if img.shape[0] != tl or img.shape[1] != tw:
                    raise ValueError("JPEG tile dims disagree with header")
                if out is None:
                    out = np.zeros((h, w, 3), img.dtype)
                ty, tx = divmod(ti, ta)
                ch = min(tl, h - ty * tl)
                cw = min(tw, w - tx * tw)
                out[ty * tl : ty * tl + ch, tx * tw : tx * tw + cw] = img[
                    :ch, :cw
                ]
            if out is None:
                raise ValueError("TIFF has zero tiles")
            return out
        offsets, counts = tags.get(273), tags.get(279)
        if offsets is None or counts is None:
            raise ValueError("TIFF missing strip offsets/byte counts")
        if len(offsets) != len(counts):
            raise ValueError("TIFF strip offset/count length mismatch")
        rows_per_strip = one(278, h)
        if rows_per_strip <= 0:
            raise ValueError("TIFF RowsPerStrip invalid")
        strips_px = []
        done = 0
        for soff, scnt in zip(offsets, counts):
            strip = b[int(soff) : int(soff) + int(scnt)]
            if len(strip) != int(scnt):
                raise ValueError("TIFF strip out of bounds")
            nrows = min(rows_per_strip, h - done)
            if nrows <= 0:
                break
            img = jpeg_seg(strip)
            if img.shape[0] != nrows or img.shape[1] != w:
                raise ValueError(
                    f"JPEG strip decodes {img.shape[1]}x{img.shape[0]}, "
                    f"header says {w}x{nrows}"
                )
            strips_px.append(img)
            done += nrows
        if done < h:
            raise ValueError("TIFF strips cover fewer rows than ImageLength")
        return np.concatenate(strips_px)

    def decomp(seg, expect):
        if comp == 1:
            if len(seg) < expect:
                raise ValueError("TIFF segment shorter than expected")
            return seg[:expect]
        return _lzw_decode(seg, expect)

    def unpack_rows(raw, nrows, width_px, seg_row_bytes):
        """Packed segment bytes → (nrows, width_px, sppc) uint16."""
        data = np.frombuffer(raw, np.uint8).reshape(nrows, seg_row_bytes)
        if sfmt == 3:
            fw = bits // 8
            fl = np.frombuffer(
                np.ascontiguousarray(
                    data[:, : width_px * sppc * fw]
                ).tobytes(),
                eo + {16: "f2", 32: "f4", 64: "f8"}[bits],
            ).reshape(nrows, width_px, sppc).astype(np.float64)
            fl = np.where(np.isnan(fl), 0.0, fl)
            return np.rint(np.clip(fl, 0.0, 1.0) * 255.0).astype(np.uint16)
        if bits == 8:
            s = data[:, : width_px * sppc].astype(np.uint16)
        elif bits == 16:
            flat = (
                data[:, : width_px * sppc * 2]
                .reshape(nrows, width_px * sppc, 2)
                .astype(np.uint16)
            )
            s = (
                (flat[..., 0] | (flat[..., 1] << 8))
                if eo == "<"
                else ((flat[..., 0] << 8) | flat[..., 1])
            )
        elif bits in (1, 4):
            if sppc != 1:
                raise NotImplementedError("STUB: sub-byte multi-sample TIFF")
            per = 8 // bits
            up = np.zeros((nrows, seg_row_bytes * per), np.uint16)
            if bits == 1:
                ba = np.unpackbits(data, axis=1)
                up[:, : ba.shape[1]] = ba
            else:
                up[:, 0::2] = data >> 4
                up[:, 1::2] = data & 0xF
            s = up[:, :width_px]
        else:
            raise NotImplementedError(f"STUB: TIFF BitsPerSample {bits}")
        g = s.reshape(nrows, width_px, sppc)
        if predictor == 2:
            # horizontal differencing runs per SEGMENT row (a tile row
            # restarts its chain; planar rows difference within their
            # own plane) — cumsum per channel along the row
            g = np.cumsum(g.astype(np.uint32), axis=1).astype(np.uint16)
            g &= (1 << bits) - 1
        if sfmt == 2:  # exact signed → unsigned offset, post-predictor
            g = (
                (g.astype(np.uint32) + (1 << (bits - 1))) & ((1 << bits) - 1)
            ).astype(np.uint16)
        return g

    px = np.zeros((h, w, spp), np.uint16)
    if tiled:
        tw, tl = one(322), one(323)
        if tw <= 0 or tl <= 0:
            raise ValueError("TIFF tile dimensions invalid")
        offs, cnts = tags.get(324), tags.get(325)
        if offs is None or cnts is None:
            raise ValueError("TIFF missing tile offsets/byte counts")
        ta, td = -(-w // tw), -(-h // tl)
        if len(offs) != len(cnts) or len(offs) != ta * td * nplanes:
            raise ValueError("TIFF tile count mismatch")
        trb = (tw * sppc * bits + 7) // 8
        for ti, (soff, scnt) in enumerate(zip(offs, cnts)):
            raw = b[int(soff) : int(soff) + int(scnt)]
            if len(raw) != int(scnt):
                raise ValueError("TIFF tile out of bounds")
            g = unpack_rows(decomp(raw, trb * tl), tl, tw, trb)
            plane, idx = divmod(ti, ta * td)
            ty, tx = divmod(idx, ta)
            ch = min(tl, h - ty * tl)
            cw = min(tw, w - tx * tw)
            crop = g[:ch, :cw]
            if planar == 2:
                px[ty * tl : ty * tl + ch, tx * tw : tx * tw + cw, plane] = (
                    crop[..., 0]
                )
            else:
                px[ty * tl : ty * tl + ch, tx * tw : tx * tw + cw] = crop
    else:
        offsets, counts = tags.get(273), tags.get(279)
        if offsets is None or counts is None:
            raise ValueError("TIFF missing strip offsets/byte counts")
        if len(offsets) != len(counts):
            raise ValueError("TIFF strip offset/count length mismatch")
        rows_per_strip = one(278, h)
        if rows_per_strip <= 0:
            raise ValueError("TIFF RowsPerStrip invalid")
        per_plane = -(-h // rows_per_strip)
        if len(offsets) < per_plane * nplanes:
            raise ValueError("TIFF strips cover fewer rows than ImageLength")
        seg_rb = (w * sppc * bits + 7) // 8
        for si in range(per_plane * nplanes):
            soff, scnt = offsets[si], counts[si]
            strip = b[int(soff) : int(soff) + int(scnt)]
            if len(strip) != int(scnt):
                raise ValueError("TIFF strip out of bounds")
            plane, sidx = divmod(si, per_plane)
            row0 = sidx * rows_per_strip
            nrows = min(rows_per_strip, h - row0)
            g = unpack_rows(decomp(strip, seg_rb * nrows), nrows, w, seg_rb)
            if planar == 2:
                px[row0 : row0 + nrows, :, plane] = g[..., 0]
            else:
                px[row0 : row0 + nrows] = g

    if sfmt == 3:
        bits = 8  # float samples were mapped to 8-bit scale at unpack
    maxv = (1 << bits) - 1
    dtype = np.uint16 if bits == 16 else np.uint8
    if photo in (0, 1):  # gray (0 = WhiteIsZero inverts)
        if spp not in (1, 2):
            raise ValueError("gray TIFF needs 1 sample (+1 extra)")
        g = px[..., 0]
        if photo == 0:
            g = maxv - g
        if bits in (1, 4):  # replicate sub-byte gray to full scale
            g = (g * (255 // maxv)).astype(np.uint16)
        return np.repeat(g[..., None], 3, axis=2).astype(dtype)
    if photo == 2:  # RGB (spp 4 → drop the extra sample, PNG-style)
        if spp not in (3, 4):
            raise ValueError("RGB TIFF needs 3 samples (+1 extra)")
        return px[..., :3].astype(dtype)
    if photo == 3:  # palette
        if spp != 1:
            raise ValueError("palette TIFF needs 1 sample")
        cmap = tags.get(320)
        n = 1 << bits
        if cmap is None or not isinstance(cmap, tuple) or len(cmap) < 3 * n:
            raise ValueError("TIFF ColorMap missing or short")
        pal = (np.array(cmap[: 3 * n], np.uint32) >> 8).astype(np.uint8)
        pal = pal.reshape(3, n).T  # planes R,G,B → (n, 3)
        idx = px[..., 0]
        if int(idx.max(initial=0)) >= n:
            raise ValueError("TIFF palette index out of range")
        return pal[idx]
    if photo == 5:  # CMYK (separated — standard non-inverted storage,
        # unlike Adobe JPEG's inverted planes: 0 means no ink)
        if spp not in (4, 5):
            raise ValueError("CMYK TIFF needs 4 samples (+1 extra)")
        c, m, y2, k = (px[..., i].astype(np.float64) for i in range(4))
        rgb = np.stack(
            [
                np.round((maxv - c) * (maxv - k) / maxv),
                np.round((maxv - m) * (maxv - k) / maxv),
                np.round((maxv - y2) * (maxv - k) / maxv),
            ],
            axis=2,
        )
        return np.clip(rgb, 0, maxv).astype(dtype)
    raise NotImplementedError(
        f"STUB: TIFF photometric {photo} (YCbCr rides the JPEG path; "
        "CIELab needs real color science); gray/RGB/palette/CMYK "
        "decode natively"
    )


def _split_jpeg_tables(stream: bytes):
    """Split a complete JPEG stream into (abbreviated JPEGTables
    stream, table-less image stream) — the TTN2 tag-347 layout: the
    tables stream is SOI + DQT/DHT segments + EOI; the image stream
    keeps everything else. Marker walk only; entropy data untouched."""
    if stream[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG stream")
    tables = bytearray(b"\xff\xd8")
    body = bytearray(b"\xff\xd8")
    pos = 2
    n = len(stream)
    while pos + 4 <= n:
        if stream[pos] != 0xFF:
            raise ValueError("JPEG marker walk desynchronized")
        marker = stream[pos + 1]
        if marker == 0xD9:  # EOI
            body += stream[pos:]
            break
        seg_len = struct.unpack(">H", stream[pos + 2 : pos + 4])[0]
        seg = stream[pos : pos + 2 + seg_len]
        if marker in (0xC4, 0xDB):  # DHT / DQT
            tables += seg
        else:
            body += seg
        pos += 2 + seg_len
        if marker == 0xDA:  # SOS: entropy data until next marker/EOI
            scan_end = pos
            while scan_end + 1 < n and not (
                stream[scan_end] == 0xFF
                and stream[scan_end + 1] not in (0x00,)
                and not (0xD0 <= stream[scan_end + 1] <= 0xD7)
            ):
                scan_end += 1
            body += stream[pos:scan_end]
            pos = scan_end
    tables += b"\xff\xd9"
    return bytes(tables), bytes(body)


# --------------------------------------------------------------------------
# fixture encoder
# --------------------------------------------------------------------------


def encode_tiff(
    rgb,
    compression: int = 1,
    rows_per_strip: int | None = None,
    predictor: int = 1,
    byte_order: str = "<",
    photometric: int = 2,
    jpeg_tables: bool = False,
    planar: bool = False,
    tile: tuple | None = None,
) -> bytes:
    """Deterministic TIFF fixture encoder: (h, w, 3) uint8 RGB (or
    uint16 for 16-bit), chunky, multi-strip, Compression 1/5/7
    (new-style JPEG strips — SOF3 lossless, so decode stays exact;
    ``jpeg_tables=True`` splits the DHT segments into the shared tag
    347, single-strip), optional horizontal-differencing predictor,
    either byte order. ``photometric=1`` writes the R channel as
    single-sample gray. ``planar=True`` writes PlanarConfiguration 2
    (per-plane strip sequences); ``tile=(tw, tl)`` writes a tiled
    layout (tags 322-325, zero-padded edge tiles) instead of
    strips — both byte-codec-only in the fixture."""
    import numpy as np

    a = np.asarray(rgb)
    h, w = a.shape[:2]
    bits = 16 if a.dtype == np.uint16 else 8
    if photometric == 2:
        spp = 3
        samples = a.reshape(h, w * 3)
    elif photometric == 1:
        spp = 1
        samples = a[..., 0].reshape(h, w)
    elif photometric == 5:
        if a.shape[2] != 4:
            raise ValueError("photometric 5 fixture expects (h, w, 4) CMYK")
        spp = 4
        samples = a.reshape(h, w * 4)
    else:
        raise ValueError("fixture encodes photometric 1, 2, or 5")
    eo = byte_order
    if eo not in ("<", ">"):
        raise ValueError("byte_order is '<' or '>'")
    rps = rows_per_strip or max(1, h // 3)

    def row_bytes(rows, stride):
        s = rows.astype(np.uint32)
        if predictor == 2:
            d = np.empty_like(s)
            d[:, :stride] = s[:, :stride]
            d[:, stride:] = (s[:, stride:] - s[:, :-stride]) & ((1 << bits) - 1)
            s = d
        if bits == 8:
            return s.astype(np.uint8).tobytes()
        return s.astype(np.uint16).astype(
            np.dtype(eo + "u2")
        ).tobytes()

    tables_blob = None
    strips = []
    if compression == 7:
        if photometric != 2 or planar:
            raise ValueError("fixture JPEG segments are chunky RGB")
        from dstlr_spark.operators.jpeg import encode_jpeg_lossless

        if tile is not None:
            tw_, tl_ = tile
            for ty in range(0, h, tl_):
                for tx in range(0, w, tw_):
                    t = np.zeros((tl_, tw_, 3), a.dtype)
                    blk = a[ty : ty + tl_, tx : tx + tw_]
                    t[: blk.shape[0], : blk.shape[1]] = blk
                    strips.append(encode_jpeg_lossless(t, predictor=4))
        else:
            if jpeg_tables:
                rps = h  # tag-347 sharing needs identical tables → 1 strip
            for at in range(0, h, rps):
                strips.append(
                    encode_jpeg_lossless(a[at : at + rps], predictor=4)
                )
            if jpeg_tables:
                tables_blob, body = _split_jpeg_tables(strips[0])
                strips = [body]
    else:
        def comp_seg(raw):
            if compression == 1:
                return raw
            if compression == 5:
                return _lzw_encode(raw)
            raise ValueError("fixture encodes compression 1/5/7")

        px3 = a if photometric in (2, 5) else a[..., :1]  # (h, w, spp)
        if tile is not None:
            tw_, tl_ = tile
            stride = 1 if planar else spp
            planes = range(spp) if planar else (None,)
            for c in planes:
                for ty in range(0, h, tl_):
                    for tx in range(0, w, tw_):
                        t = np.zeros((tl_, tw_ * stride), np.uint32)
                        if planar:
                            blk = px3[ty : ty + tl_, tx : tx + tw_, c]
                        else:
                            b3 = px3[ty : ty + tl_, tx : tx + tw_]
                            blk = b3.reshape(b3.shape[0], -1)
                        t[: blk.shape[0], : blk.shape[1]] = blk
                        strips.append(comp_seg(row_bytes(t, stride)))
        elif planar:
            for c in range(spp):
                for at in range(0, h, rps):
                    strips.append(
                        comp_seg(row_bytes(px3[at : at + rps, :, c], 1))
                    )
        else:
            for at in range(0, h, rps):
                strips.append(comp_seg(row_bytes(samples[at : at + rps], spp)))

    header = struct.pack(eo + "2sHI", b"II" if eo == "<" else b"MM", 42, 8)
    # layout: header(8) | IFD | bits-array | strip data...
    nstrips = len(strips)
    entries = []  # (tag, type, count, packed-value-or-None, payload)

    def short(tag, *vals):
        entries.append((tag, 3, len(vals), vals))

    def long_(tag, *vals):
        entries.append((tag, 4, len(vals), vals))

    seg_tag, cnt_tag = (324, 325) if tile is not None else (273, 279)
    short(256, w)
    short(257, h)
    short(258, *([bits] * spp))
    short(259, compression)
    short(262, photometric)
    long_(seg_tag, *([0] * nstrips))  # patched below
    short(277, spp)
    if tile is not None:
        short(322, tile[0])
        short(323, tile[1])
    else:
        short(278, rps)
    long_(cnt_tag, *[len(s) for s in strips])
    if planar:
        short(284, 2)
    if predictor == 2:
        short(317, predictor)
    if tables_blob is not None:
        entries.append((347, 7, len(tables_blob), tables_blob))

    entries.sort(key=lambda e: e[0])
    n = len(entries)
    ifd_size = 2 + 12 * n + 4
    # external value areas come right after the IFD
    ext_at = 8 + ifd_size
    ext = bytearray()
    packed = []
    for tag, typ, cnt, vals in entries:
        size = _TYPE_SIZES[typ] * cnt
        if typ == 7:  # UNDEFINED: raw bytes (JPEGTables)
            blob = bytes(vals)
        else:
            fmt = "H" if typ == 3 else "I"
            blob = struct.pack(eo + fmt * cnt, *vals)
        if size <= 4:
            packed.append((tag, typ, cnt, blob.ljust(4, b"\x00"), None))
        else:
            packed.append((tag, typ, cnt, None, (ext_at + len(ext), blob)))
            ext += blob
    data_at = ext_at + len(ext)
    offsets = []
    for s in strips:
        offsets.append(data_at)
        data_at += len(s)

    out = bytearray(header)
    out += struct.pack(eo + "H", n)
    for tag, typ, cnt, inline, ref in packed:
        out += struct.pack(eo + "HHI", tag, typ, cnt)
        if inline is not None:
            if tag == seg_tag and nstrips == 1:
                out += struct.pack(eo + "I", offsets[0])
            else:
                out += inline
        else:
            out += struct.pack(eo + "I", ref[0])
    out += struct.pack(eo + "I", 0)  # next-IFD pointer
    # patch the strip-offset array into the ext area
    for tag, typ, cnt, inline, ref in packed:
        if tag == seg_tag and ref is not None:
            off_blob = struct.pack(eo + "I" * nstrips, *offsets)
            ext[ref[0] - ext_at : ref[0] - ext_at + len(off_blob)] = off_blob
    out += ext
    for s in strips:
        out += s
    return bytes(out)
