"""Hierarchical JPEG (T.81 Annex J): DHP-led lossless pyramids.

A hierarchical stream opens with DHP (0xDE, a SOF-shaped header
carrying the FULL-resolution dimensions), then a pyramid of frames —
the first non-differential (SOF3, lossless Huffman: exact by
construction, so it joins the planted-pixel equality oracle), each
later frame differential (SOF7), optionally preceded by EXP (0xDF)
which doubles the reference horizontally and/or vertically through
the NORMATIVE J.1.1.2 bilinear filter (out[2i] = in[i]; out[2i+1] =
(in[i] + in[i+1] + 1) >> 1, edge replicated). A differential scan
codes per-sample differences with the Annex-H SSSS machinery, but the
prediction is ALWAYS the (expanded) reference sample — the scan
header's predictor field must be 0 — and reconstruction is (ref +
diff) mod 2^16 (J.2.2).

Scope: grayscale or RGB, 2-16 bit precision, 1x1 sampling, any number
of pyramid levels. DCT and arithmetic-coded frames inside a
hierarchy, 4-component frames, multi-scan frames, point transforms,
DAC and restart intervals raise ``NotImplementedError("STUB: …")``;
malformed input always raises ValueError (the pinned decoder
exception contract).

Reference parity anchor: the reference pipeline treats media as
opaque bytes (SURVEY.md §2.12 mandate surface); this codec exists so
the multimodal decode operators are REAL, not stubs, with no imaging
library in the sandbox.
"""

from __future__ import annotations

import struct

from dstlr_spark.operators.jpeg import (
    _LL_SYMBOLS,
    _BitReader,
    _BitWriter,
    _build_huffman,
    _check_lossless_frame,
    _emit_sos,
    _entropy_segments,
    _extend,
    _fixed_table,
    _huff_decode,
    _ll_diff_huffman,
    _ll_planes,
    _ll_predict,
    _ll_to_rgb,
    _sof,
)

__all__ = ["decode_jpeg_hier", "encode_jpeg_hier"]


def _parse_sofish(seg: bytes, what: str):
    """Parse a SOF/DHP payload → (precision, h, w, comps) where comps
    is [(comp_id, H, V, Tq), ...]. Shared by DHP and the frame
    headers — Annex J gives DHP the exact SOF syntax."""
    if len(seg) < 6:
        raise ValueError(f"JPEG {what} truncated")
    prec = seg[0]
    if not 2 <= prec <= 16:
        raise ValueError(f"JPEG {what} precision {prec} out of range (2-16)")
    h, w = struct.unpack(">HH", seg[1:5])
    if not h or not w:
        raise ValueError(f"JPEG {what} dimensions {w}x{h} invalid")
    ncomp = seg[5]
    if ncomp not in (1, 2, 3, 4):
        raise ValueError(
            f"JPEG {ncomp}-component frame outside T.81's 1-4"
        )
    if len(seg) < 6 + 3 * ncomp:
        raise ValueError(f"JPEG {what} component list truncated")
    comps = []
    for c in range(ncomp):
        cid, hv, tq = seg[6 + 3 * c : 9 + 3 * c]
        comps.append((cid, hv >> 4, hv & 15, tq))
    _check_lossless_frame(comps)
    return prec, h, w, comps


def _expand_planes(planes, out_h: int, out_w: int, eh: int, ev: int):
    """J.1.1.2 reference expansion: double each flagged axis with the
    normative bilinear filter, then require the result to match the
    next frame's dimensions exactly (2n or 2n-1 per axis — the odd
    case trims the final interpolated sample; the even case's last
    sample degenerates to edge replication since (2a+1)>>1 == a)."""
    for p in planes:
        in_h, in_w = len(p), len(p[0])
        if ev and out_h not in (2 * in_h - 1, 2 * in_h):
            raise ValueError("JPEG EXP output does not match next frame dims")
        if eh and out_w not in (2 * in_w - 1, 2 * in_w):
            raise ValueError("JPEG EXP output does not match next frame dims")
        if (not ev and out_h != in_h) or (not eh and out_w != in_w):
            raise ValueError("JPEG frame dims changed without EXP on that axis")
    out = []
    for p in planes:
        if eh:
            w = len(p[0])
            tw = out_w
            q = []
            for row in p:
                new = [0] * tw
                for i in range(w):
                    j = 2 * i
                    if j < tw:
                        new[j] = row[i]
                    if j + 1 < tw:
                        nxt = row[i + 1] if i + 1 < w else row[i]
                        new[j + 1] = (row[i] + nxt + 1) >> 1
                q.append(new)
            p = q
        if ev:
            h = len(p)
            th = out_h
            q = [None] * th
            for i in range(h):
                j = 2 * i
                if j < th:
                    q[j] = list(p[i])
                if j + 1 < th:
                    nxt = p[i + 1] if i + 1 < h else p[i]
                    q[j + 1] = [(a + b + 1) >> 1 for a, b in zip(p[i], nxt)]
            p = q
        out.append(p)
    return out


def _decode_hier_scan(b, pos, h, w, tables, prec, predictor, ref):
    """One hierarchical scan: the Annex-H sample walk (interleaved one
    sample per component per MCU, SSSS difference categories) with
    the prediction source switched by frame kind — the H.1.2.1
    spatial predictors for the non-differential first frame (``ref is
    None``), the co-located reference sample for differential frames
    (J.2.2: reconstruction (ref + diff) mod 2^16). Returns (planes,
    end_pos) so the marker walk can continue past the entropy data."""
    segs, end = _entropy_segments(b, pos)
    if len(segs) > 1:
        raise ValueError("JPEG RST marker without a DRI segment")
    nc = len(tables)
    default = 1 << (prec - 1)
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
            if ref is not None:
                px = ref[ci][r][c]
            else:
                px = _ll_predict(p, r, c, predictor, default, m == 0)
            p[r][c] = (px + d) & 0xFFFF
    mask = (1 << prec) - 1
    if mask != 0xFFFF:
        for p in planes:
            for r in range(h):
                row = p[r]
                p[r] = [v & mask for v in row]
    return planes, end


def decode_jpeg_hier(b: bytes):
    """Decode a hierarchical (DHP-led) lossless JPEG → (h, w, 3)
    uint8/uint16 RGB at the full DHP resolution. Grayscale replicates
    to RGB (the shared ``decode_rgb_bytes`` contract). Entered from
    :func:`dstlr_spark.operators.jpeg.decode_jpeg` when the marker
    walk meets DHP; frames reconstruct scan by scan."""
    if b[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG stream (missing SOI)")
    htables: dict[tuple[int, int], object] = {}
    dhp = None  # (prec, full_h, full_w, comps)
    frame = None  # (h, w, comps, differential)
    ref = None  # reconstructed planes of the latest frame
    pending_exp = None  # (eh, ev) from an EXP marker awaiting a frame
    pos = 2
    n = len(b)
    while True:
        if pos + 2 > n:
            raise ValueError("JPEG truncated before EOI")
        if b[pos] != 0xFF:
            raise ValueError(f"JPEG expected marker at {pos}, got {b[pos]:#x}")
        marker = b[pos + 1]
        pos += 2
        if marker == 0xD8 or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:  # EOI: the pyramid must have reached DHP dims
            if dhp is None or ref is None:
                raise ValueError("JPEG hierarchical EOI before any frame")
            prec, fh, fw, _ = dhp
            if len(ref[0]) != fh or len(ref[0][0]) != fw:
                raise ValueError(
                    "JPEG hierarchical final frame does not reach DHP dims"
                )
            return _ll_to_rgb(ref, prec)
        if pos + 2 > n:
            raise ValueError("JPEG truncated segment length")
        seglen = struct.unpack(">H", b[pos : pos + 2])[0]
        if seglen < 2 or pos + seglen > n:
            raise ValueError("JPEG segment overruns stream")
        seg = b[pos + 2 : pos + seglen]
        pos += seglen
        if marker == 0xDE:  # DHP: full-resolution header, no entropy
            if dhp is not None:
                raise ValueError("JPEG duplicate DHP")
            dhp = _parse_sofish(seg, "DHP")
        elif marker == 0xDF:  # EXP: reference expansion request
            if len(seg) < 1:
                raise ValueError("JPEG EXP truncated")
            eh, ev = seg[0] >> 4, seg[0] & 15
            if eh > 1 or ev > 1 or not (eh or ev):
                raise ValueError("JPEG EXP expansion flags invalid")
            if ref is None:
                raise ValueError("JPEG EXP before any reference frame")
            pending_exp = (eh, ev)
        elif marker == 0xC4:  # DHT — tables persist across frames
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
        elif marker == 0xCC:
            raise NotImplementedError("STUB: JPEG arithmetic conditioning (DAC)")
        elif marker == 0xDD:  # DRI: only a zero (restarts off) interval
            if len(seg) < 2:
                raise ValueError("JPEG DRI truncated")
            if struct.unpack(">H", seg[:2])[0]:
                raise NotImplementedError("STUB: JPEG restart intervals (DRI)")
        elif marker in (0xC0, 0xC1, 0xC2, 0xC5, 0xC6, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"STUB: JPEG SOF{marker - 0xC0} frame inside a hierarchy — "
                "only lossless Huffman pyramids (SOF3 + SOF7) decode"
            )
        elif marker in (0xC3, 0xC7):  # SOF3 first / SOF7 differential
            if dhp is None:
                raise ValueError(
                    "JPEG hierarchical frame before DHP (a bare SOF3 stream "
                    "belongs to decode_jpeg, which dispatches here on DHP)"
                )
            prec, h, w, comps = _parse_sofish(seg, f"SOF{marker - 0xC0}")
            if prec != dhp[0]:
                raise ValueError("JPEG frame precision differs from DHP")
            if len(comps) != len(dhp[3]):
                raise ValueError("JPEG frame component count differs from DHP")
            if h > dhp[1] or w > dhp[2]:
                raise ValueError("JPEG frame exceeds DHP dimensions")
            differential = marker == 0xC7
            if differential and ref is None:
                raise ValueError("JPEG differential frame before a reference")
            if not differential and ref is not None:
                raise ValueError("JPEG second non-differential frame")
            frame = (h, w, comps, differential)
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("JPEG SOS before a hierarchical frame")
            h, w, comps, differential = frame
            ns = seg[0] if seg else 0
            if len(seg) < 1 + 2 * ns + 3:
                raise ValueError("JPEG SOS header truncated")
            if ns != len(comps):
                raise NotImplementedError(
                    "STUB: hierarchical lossless multi-scan (non-interleaved)"
                )
            tables = []
            for c in range(ns):
                cs, tdta = seg[1 + 2 * c : 3 + 2 * c]
                if cs != comps[c][0]:
                    raise ValueError(
                        "JPEG scan component order differs from frame"
                    )
                if (0, tdta >> 4) not in htables:
                    raise ValueError("JPEG missing Huffman table for scan")
                tables.append(htables[(0, tdta >> 4)])
            ss, se, ahal = seg[1 + 2 * ns : 4 + 2 * ns]
            if se != 0 or (ahal >> 4) != 0:
                raise ValueError("JPEG lossless scan header invalid")
            if ahal & 15:
                raise NotImplementedError(
                    "STUB: point transform inside a hierarchy"
                )
            if differential:
                if ss != 0:
                    raise ValueError(
                        "JPEG differential lossless predictor must be 0"
                    )
                if pending_exp is not None:
                    ref = _expand_planes(ref, h, w, *pending_exp)
                    pending_exp = None
                if len(ref[0]) != h or len(ref[0][0]) != w:
                    raise ValueError(
                        "JPEG differential frame dims differ from reference"
                    )
                scan_ref = ref
            else:
                if not 1 <= ss <= 7:
                    raise ValueError(f"JPEG lossless predictor {ss} invalid")
                scan_ref = None
            ref, pos = _decode_hier_scan(
                b, pos, h, w, tables, dhp[0], ss, scan_ref
            )
            frame = None
        # APPn / COM / DQT / anything else: skip


_EXP_BOTH = b"\xff\xdf\x00\x03\x11"  # EXP segment: Eh=1, Ev=1


def encode_jpeg_hier(img, levels: int = 2, predictor: int = 4) -> bytes:
    """Encode an (h, w) grayscale or (h, w, 3) RGB array as a REAL
    hierarchical JPEG (T.81 Annex J): DHP, then a ``levels``-deep
    lossless pyramid — the smallest level as a non-differential SOF3
    frame, each following level as EXP (expand 2x2) + a SOF7
    differential frame whose diffs are taken against the NORMATIVE
    J.1.1.2 expansion of the previous level (so decode(encode(img))
    == img bit-for-bit at every level count). The pyramid downsamples
    by decimation (``a[::2, ::2]``) — Annex J leaves the downsampling
    filter to the encoder precisely because the differential frames
    correct it exactly. uint8 encodes at 8-bit precision, uint16 at
    16-bit."""
    import numpy as np

    arr = np.asarray(img)
    if not 1 <= predictor <= 7:
        raise ValueError(f"predictor {predictor} out of range")
    if levels < 1:
        raise ValueError("levels must be >= 1")
    h, w = arr.shape[:2]
    if levels > 1 and (1 << (levels - 1)) > max(h, w):
        raise ValueError(f"{levels} levels exceed image dimensions {w}x{h}")
    pyramid = [arr]
    for _ in range(levels - 1):
        pyramid.append(pyramid[-1][::2, ::2])
    ll_counts, ll_syms, ll_enc = _fixed_table(_LL_SYMBOLS)

    def frame(marker, a, ss, ref):
        # the Annex-H sample walk from the encoder side: spatial
        # prediction when ref is None, reference prediction otherwise
        prec, fh, fw, comp_ids, planes = _ll_planes(a)
        out = _sof(marker, prec, fh, fw, comp_ids) + _emit_sos(comp_ids, ss)
        default = 1 << (prec - 1)
        bw = _BitWriter()
        for m in range(fh * fw):
            r, c = divmod(m, fw)
            for ci, p in enumerate(planes):
                if ref is not None:
                    px = ref[ci][r][c]
                else:
                    px = _ll_predict(p, r, c, predictor, default, m == 0)
                d = ((p[r][c] - px + 32768) & 0xFFFF) - 32768
                _ll_diff_huffman(bw, ll_enc, d)
        bw.flush()
        return out + bytes(bw.out), planes

    out = bytearray(b"\xff\xd8")
    prec, _, _, comp_ids, _ = _ll_planes(arr[:1, :1])  # of the full image
    out += _sof(0xDE, prec, h, w, comp_ids)  # DHP at full resolution
    body = bytes([0x00]) + ll_counts + ll_syms
    out += b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body
    # frame 1: non-differential SOF3 at the smallest level
    data, ref_planes = frame(0xC3, pyramid[-1], predictor, None)
    out += data
    # remaining levels: EXP + differential SOF7 against the expansion
    for level in range(levels - 2, -1, -1):
        target = pyramid[level]
        th, tw = target.shape[:2]
        out += _EXP_BOTH
        ref_planes = _expand_planes(ref_planes, th, tw, 1, 1)
        data, ref_planes = frame(0xC7, target, 0, ref_planes)
        out += data
    out += b"\xff\xd9"
    return bytes(out)
