"""Pure-Python/numpy VP8 intra-frame (key-frame) codec — RFC 6386.

Decodes the lossy WebP payload class ("VP8 " chunks): boolean
arithmetic decoder (§7), key-frame header (§9), intra prediction modes
(§11-12), DCT/WHT coefficient tokens (§13), dequantization (§14.1),
the exact integer inverse transforms (§14.3-14.4), and the normal +
simple in-loop deblocking filters (§15). Inter frames (the VP8 chunk
of an animated/multi-frame stream) raise ``Vp8Error`` — at pipeline
level those rows degrade to stub output via the containment wrapper
in ``multimodal`` (same posture as every other codec here).

The companion encoder emits spec-conformant intra streams (DC-predicted
macroblocks, default probabilities, loop filter level 0) so roundtrips
are self-contained; the test-suite cross-validates BOTH directions
against the system libwebp when present (ctypes, golden checks only —
the production path is pure Python + numpy).

Parity contract: ``decode_vp8_yuv`` reproduces the reference decoder's
Y/U/V planes bit-for-bit (pinned against libwebp's WebPDecodeYUV).
RGB conversion is NOT part of the VP8 spec — ``decode_vp8`` applies
the standard BT.601 full-range integer conversion with 2x2 chroma
replication and documents that choice (libwebp's RGB output uses its
own "fancy" upsampler and may differ per pixel).

All constant tables live in ``vp8_tables`` (published in RFC 6386,
cross-checked against the system libwebp's compiled copies).

No reference parity: the reference engine has no media handling
(/root/reference/src has no binary decoding); this extends the
multimodal layer beyond the declared VP8L/JPEG/PNG/... codecs.
"""

from __future__ import annotations

import struct

import numpy as np

from . import vp8_tables as T

__all__ = ["Vp8Error", "decode_vp8", "decode_vp8_yuv", "encode_vp8"]


class Vp8Error(ValueError):
    pass


# ------------------------------------------------------------ mode ids
DC_PRED, V_PRED, H_PRED, TM_PRED, B_PRED = range(5)
B_DC, B_TM, B_VE, B_HE, B_LD, B_RD, B_VR, B_VL, B_HD, B_HU = range(10)

# trees (RFC 6386 §8.2, §11.2-11.5): positive entries are branch
# targets, non-positive entries are negated leaves (leaf 0 is
# unambiguous — index 0 is the implicit root, never a target)
KF_YMODE_TREE = (-B_PRED, 2, 4, 6, -DC_PRED, -V_PRED, -H_PRED, -TM_PRED)
KF_YMODE_PROBS = (145, 156, 163, 128)
UV_MODE_TREE = (-DC_PRED, 2, -V_PRED, 4, -H_PRED, -TM_PRED)
KF_UV_MODE_PROBS = (142, 114, 183)
BMODE_TREE = (-B_DC, 2, -B_TM, 4, -B_VE, 6, 8, 12, -B_HE, 10,
              -B_RD, -B_VR, -B_LD, 14, -B_VL, 16, -B_HD, -B_HU)
# 16x16 mode implied per-subblock mode, for bmode prediction contexts
MODE_TO_BMODE = {DC_PRED: B_DC, V_PRED: B_VE, H_PRED: B_HE, TM_PRED: B_TM}

# token extra-bit probabilities + base values (§13.2-13.3)
PCAT = ((159,), (165, 145), (173, 148, 140), (176, 155, 140, 135),
        (180, 157, 141, 134, 130),
        (254, 254, 243, 230, 196, 177, 153, 140, 133, 130, 129))
CAT_BASE = (5, 7, 11, 19, 35, 67)


# ------------------------------------------------------ boolean decoder
class _BoolDec:
    """RFC 6386 §7.3 reference boolean decoder. Reads past the end of
    the buffer yield zero bytes (the spec's convention)."""

    __slots__ = ("buf", "pos", "range", "value", "bit_count")

    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 2
        self.range = 255
        b0 = buf[0] if len(buf) > 0 else 0
        b1 = buf[1] if len(buf) > 1 else 0
        self.value = (b0 << 8) | b1
        self.bit_count = 0

    def read(self, prob: int) -> int:
        split = 1 + (((self.range - 1) * prob) >> 8)
        big = split << 8
        if self.value >= big:
            bit = 1
            self.range -= split
            self.value -= big
        else:
            bit = 0
            self.range = split
        while self.range < 128:
            self.value <<= 1
            self.range <<= 1
            self.bit_count += 1
            if self.bit_count == 8:
                self.bit_count = 0
                if self.pos < len(self.buf):
                    self.value |= self.buf[self.pos]
                self.pos += 1
        return bit

    def flag(self) -> int:
        return self.read(128)

    def literal(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read(128)
        return v

    def signed_literal(self, n: int) -> int:
        v = self.literal(n)
        return -v if self.read(128) else v

    def tree(self, tree, probs, start: int = 0) -> int:
        i = tree[start + self.read(probs[start >> 1])]
        while i > 0:
            i = tree[i + self.read(probs[i >> 1])]
        return -i


def _clamp_q(q: int) -> int:
    return 0 if q < 0 else 127 if q > 127 else q


def _parse_header(data: bytes):
    """Key-frame uncompressed chunk + first-partition header (§9)."""
    if len(data) < 10:
        raise Vp8Error("VP8: truncated frame")
    tag = data[0] | (data[1] << 8) | (data[2] << 16)
    if tag & 1:
        raise Vp8Error("VP8: inter frame (only key frames are supported)")
    part1_size = tag >> 5
    if data[3:6] != b"\x9d\x01\x2a":
        raise Vp8Error("VP8: bad key-frame start code")
    w16, h16 = struct.unpack_from("<HH", data, 6)
    width, height = w16 & 0x3FFF, h16 & 0x3FFF
    if width == 0 or height == 0:
        raise Vp8Error("VP8: zero dimension")
    if 10 + part1_size > len(data):
        raise Vp8Error("VP8: first partition overruns frame")
    bd = _BoolDec(data[10:10 + part1_size])

    hdr = {"width": width, "height": height}
    hdr["color_space"] = bd.literal(1)
    hdr["clamp"] = bd.literal(1)

    # segmentation (§9.3)
    seg_quant = [0] * 4
    seg_lf = [0] * 4
    tree_probs = [255] * 3
    abs_delta = 0
    update_map = 0
    seg_enabled = bd.flag()
    if seg_enabled:
        update_map = bd.flag()
        if bd.flag():                           # update_segment_feature_data
            abs_delta = bd.flag()
            for i in range(4):
                if bd.flag():
                    seg_quant[i] = bd.signed_literal(7)
            for i in range(4):
                if bd.flag():
                    seg_lf[i] = bd.signed_literal(6)
        if update_map:
            for i in range(3):
                tree_probs[i] = bd.literal(8) if bd.flag() else 255
    hdr.update(seg_enabled=seg_enabled, update_map=update_map,
               abs_delta=abs_delta, seg_quant=seg_quant, seg_lf=seg_lf,
               tree_probs=tree_probs)

    # loop filter (§9.4)
    hdr["filter_simple"] = bd.literal(1)
    hdr["filter_level"] = bd.literal(6)
    hdr["sharpness"] = bd.literal(3)
    ref_deltas = [0] * 4
    mode_deltas = [0] * 4
    hdr["lf_delta_enabled"] = bd.flag()
    if hdr["lf_delta_enabled"]:
        if bd.flag():                           # mode_ref_lf_delta_update
            for i in range(4):
                if bd.flag():
                    ref_deltas[i] = bd.signed_literal(6)
            for i in range(4):
                if bd.flag():
                    mode_deltas[i] = bd.signed_literal(6)
    hdr["ref_deltas"] = ref_deltas
    hdr["mode_deltas"] = mode_deltas

    # token partitions (§9.5): sizes live AFTER the first partition
    nparts = 1 << bd.literal(2)
    off = 10 + part1_size
    sizes_end = off + 3 * (nparts - 1)
    if sizes_end > len(data):
        raise Vp8Error("VP8: partition size table overruns frame")
    parts = []
    pos = sizes_end
    for i in range(nparts):
        if i < nparts - 1:
            sz = (data[off + 3 * i] | (data[off + 3 * i + 1] << 8)
                  | (data[off + 3 * i + 2] << 16))
        else:
            sz = len(data) - pos
        if sz < 0 or pos + sz > len(data):
            raise Vp8Error("VP8: token partition overruns frame")
        parts.append(data[pos:pos + sz])
        pos += sz
    hdr["partitions"] = parts

    # quantizers (§9.6)
    y_ac_qi = bd.literal(7)
    deltas = [bd.signed_literal(4) if bd.flag() else 0 for _ in range(5)]
    y1dc_d, y2dc_d, y2ac_d, uvdc_d, uvac_d = deltas
    quant = []
    for s in range(4):
        if seg_enabled:
            q = seg_quant[s] if abs_delta else y_ac_qi + seg_quant[s]
        else:
            q = y_ac_qi
        q = _clamp_q(q)
        y2ac = T.AC_QLOOKUP[_clamp_q(q + y2ac_d)] * 155 // 100
        quant.append({
            "y1dc": T.DC_QLOOKUP[_clamp_q(q + y1dc_d)],
            "y1ac": T.AC_QLOOKUP[q],
            "y2dc": T.DC_QLOOKUP[_clamp_q(q + y2dc_d)] * 2,
            "y2ac": y2ac if y2ac >= 8 else 8,
            "uvdc": min(T.DC_QLOOKUP[_clamp_q(q + uvdc_d)], 132),
            "uvac": T.AC_QLOOKUP[_clamp_q(q + uvac_d)],
        })
    hdr["quant"] = quant

    bd.flag()                                   # refresh_entropy_probs

    # coefficient probability updates (§9.9 / §13.4)
    probs = [[[list(c) for c in b] for b in t] for t in T.DEFAULT_COEFF_PROBS]
    upd = T.COEFF_UPDATE_PROBS
    for t in range(4):
        for b in range(8):
            for c in range(3):
                for p in range(11):
                    if bd.read(upd[t][b][c][p]):
                        probs[t][b][c][p] = bd.literal(8)
    hdr["coeff_probs"] = probs

    hdr["mb_no_skip"] = bd.flag()
    hdr["prob_skip"] = bd.literal(8) if hdr["mb_no_skip"] else 0
    hdr["bd"] = bd
    return hdr


# --------------------------------------------------------- coefficients
def _decode_coeffs(bd, block_probs, first, ctx, dq_dc, dq_ac, out):
    """Token-decode one 4x4 block (§13.3) into ``out`` (len-16 raster
    list, pre-zeroed). Returns True when any coefficient is nonzero."""
    n = first
    nz = False
    allow_eob = True
    zig = T.ZIGZAG
    bands = T.COEFF_BANDS
    while n < 16:
        p = block_probs[bands[n]][ctx]
        if allow_eob and not bd.read(p[0]):
            break
        if not bd.read(p[1]):
            ctx = 0
            allow_eob = False
            n += 1
            continue
        allow_eob = True
        if not bd.read(p[2]):
            v = 1
            ctx = 1
        else:
            ctx = 2
            if not bd.read(p[3]):
                if not bd.read(p[4]):
                    v = 2
                else:
                    v = 3 + bd.read(p[5])
            else:
                if not bd.read(p[6]):
                    cat = 0 if not bd.read(p[7]) else 1
                elif not bd.read(p[8]):
                    cat = 2 if not bd.read(p[9]) else 3
                else:
                    cat = 4 if not bd.read(p[10]) else 5
                extra = 0
                for prob in PCAT[cat]:
                    extra = (extra << 1) | bd.read(prob)
                v = CAT_BASE[cat] + extra
        if bd.flag():
            v = -v
        out[zig[n]] = v * (dq_dc if n == 0 else dq_ac)
        nz = True
        n += 1
    return nz


# ------------------------------------------------------------ transforms
def _iwht4x4(c):
    """Inverse Walsh-Hadamard (§14.3) — Y2 DC redistribution."""
    tmp = [0] * 16
    for i in range(4):
        a1 = c[i] + c[12 + i]
        b1 = c[4 + i] + c[8 + i]
        c1 = c[4 + i] - c[8 + i]
        d1 = c[i] - c[12 + i]
        tmp[i] = a1 + b1
        tmp[4 + i] = c1 + d1
        tmp[8 + i] = a1 - b1
        tmp[12 + i] = d1 - c1
    out = [0] * 16
    for i in range(4):
        r = 4 * i
        a1 = tmp[r] + tmp[r + 3]
        b1 = tmp[r + 1] + tmp[r + 2]
        c1 = tmp[r + 1] - tmp[r + 2]
        d1 = tmp[r] - tmp[r + 3]
        out[r] = (a1 + b1 + 3) >> 3
        out[r + 1] = (c1 + d1 + 3) >> 3
        out[r + 2] = (a1 - b1 + 3) >> 3
        out[r + 3] = (d1 - c1 + 3) >> 3
    return out


_C1 = 20091   # sqrt(2)*cos(pi/8) - 1, Q16 (§14.4)
_C2 = 35468   # sqrt(2)*sin(pi/8), Q16


def _idct4x4(c):
    """Exact integer inverse DCT (§14.4 reference code)."""
    tmp = [0] * 16
    for i in range(4):
        a1 = c[i] + c[8 + i]
        b1 = c[i] - c[8 + i]
        t1 = (c[4 + i] * _C2) >> 16
        t2 = c[12 + i] + ((c[12 + i] * _C1) >> 16)
        c1 = t1 - t2
        t1 = c[4 + i] + ((c[4 + i] * _C1) >> 16)
        t2 = (c[12 + i] * _C2) >> 16
        d1 = t1 + t2
        tmp[i] = a1 + d1
        tmp[12 + i] = a1 - d1
        tmp[4 + i] = b1 + c1
        tmp[8 + i] = b1 - c1
    out = [0] * 16
    for i in range(4):
        r = 4 * i
        a1 = tmp[r] + tmp[r + 2]
        b1 = tmp[r] - tmp[r + 2]
        t1 = (tmp[r + 1] * _C2) >> 16
        t2 = tmp[r + 3] + ((tmp[r + 3] * _C1) >> 16)
        c1 = t1 - t2
        t1 = tmp[r + 1] + ((tmp[r + 1] * _C1) >> 16)
        t2 = (tmp[r + 3] * _C2) >> 16
        d1 = t1 + t2
        out[r] = (a1 + d1 + 4) >> 3
        out[r + 3] = (a1 - d1 + 4) >> 3
        out[r + 1] = (b1 + c1 + 4) >> 3
        out[r + 2] = (b1 - c1 + 4) >> 3
    return out


# -------------------------------------------------------- intra predict
def _avg2(a, b):
    return (a + b + 1) >> 1


def _avg3(a, b, c):
    return (a + 2 * b + c + 2) >> 2


def _clamp255(v):
    return 0 if v < 0 else 255 if v > 255 else v


def _pred_block(mode, size, A, L, TL, avail_above, avail_left):
    """Whole-block DC/V/H/TM prediction (16x16 luma §12.2, 8x8 chroma
    §12.1). ``A``/``L``/``TL`` already carry the 127/129 boundary
    conventions; DC additionally applies the availability rules."""
    if mode == DC_PRED:
        if avail_above and avail_left:
            dc = (sum(A) + sum(L) + size) >> (5 if size == 16 else 4)
        elif avail_above:
            dc = (sum(A) + (size >> 1)) >> (4 if size == 16 else 3)
        elif avail_left:
            dc = (sum(L) + (size >> 1)) >> (4 if size == 16 else 3)
        else:
            dc = 128
        return [[dc] * size for _ in range(size)]
    if mode == V_PRED:
        return [list(A) for _ in range(size)]
    if mode == H_PRED:
        return [[L[r]] * size for r in range(size)]
    # TM_PRED
    return [[_clamp255(L[r] + A[c] - TL) for c in range(size)]
            for r in range(size)]


def _pred_b(mode, A, L, TL, AR):
    """4x4 intra prediction (§12.3). ``A``/``L``/``TL``/``AR`` carry
    the boundary conventions (127 above / 129 left / VP8's stale
    above-right quirk handled by the caller)."""
    if mode == B_DC:
        dc = (sum(A) + sum(L) + 4) >> 3
        return [[dc] * 4 for _ in range(4)]
    if mode == B_TM:
        return [[_clamp255(L[r] + A[c] - TL) for c in range(4)]
                for r in range(4)]
    if mode == B_VE:
        x = [TL] + list(A) + [AR[0]]
        row = [_avg3(x[c], x[c + 1], x[c + 2]) for c in range(4)]
        return [row[:] for _ in range(4)]
    if mode == B_HE:
        x = [TL] + list(L) + [L[3]]
        col = [_avg3(x[r], x[r + 1], x[r + 2]) for r in range(4)]
        return [[col[r]] * 4 for r in range(4)]
    if mode == B_LD:
        x = list(A) + list(AR)
        p = [[0] * 4 for _ in range(4)]
        for r in range(4):
            for c in range(4):
                i = r + c
                p[r][c] = _avg3(x[i], x[i + 1],
                                x[i + 2] if i + 2 < 8 else x[7])
        return p
    if mode == B_RD:
        e = [L[3], L[2], L[1], L[0], TL, A[0], A[1], A[2], A[3]]
        return [[_avg3(e[3 - r + c], e[4 - r + c], e[5 - r + c])
                 for c in range(4)] for r in range(4)]
    if mode == B_VR:
        p = [[0] * 4 for _ in range(4)]
        p[0] = [_avg2(TL, A[0]), _avg2(A[0], A[1]),
                _avg2(A[1], A[2]), _avg2(A[2], A[3])]
        p[1] = [_avg3(L[0], TL, A[0]), _avg3(TL, A[0], A[1]),
                _avg3(A[0], A[1], A[2]), _avg3(A[1], A[2], A[3])]
        p[2] = [_avg3(L[1], L[0], TL)] + p[0][:3]
        p[3] = [_avg3(L[2], L[1], L[0])] + p[1][:3]
        return p
    if mode == B_VL:
        x = list(A) + list(AR)
        p = [[0] * 4 for _ in range(4)]
        p[0] = [_avg2(x[c], x[c + 1]) for c in range(4)]
        p[1] = [_avg3(x[c], x[c + 1], x[c + 2]) for c in range(4)]
        p[2] = [_avg2(x[c + 1], x[c + 2]) for c in range(3)] \
            + [_avg3(x[4], x[5], x[6])]
        p[3] = [_avg3(x[c + 1], x[c + 2], x[c + 3]) for c in range(3)] \
            + [_avg3(x[5], x[6], x[7])]
        return p
    if mode == B_HD:
        p = [[0] * 4 for _ in range(4)]
        p[0] = [_avg2(L[0], TL), _avg3(L[0], TL, A[0]),
                _avg3(TL, A[0], A[1]), _avg3(A[0], A[1], A[2])]
        p[1] = [_avg2(L[1], L[0]), _avg3(L[1], L[0], TL)] + p[0][:2]
        p[2] = [_avg2(L[2], L[1]), _avg3(L[2], L[1], L[0])] + p[1][:2]
        p[3] = [_avg2(L[3], L[2]), _avg3(L[3], L[2], L[1])] + p[2][:2]
        return p
    if mode == B_HU:
        p = [[0] * 4 for _ in range(4)]
        p[0] = [_avg2(L[0], L[1]), _avg3(L[0], L[1], L[2]),
                _avg2(L[1], L[2]), _avg3(L[1], L[2], L[3])]
        p[1] = [p[0][2], p[0][3], _avg2(L[2], L[3]),
                _avg3(L[2], L[3], L[3])]
        p[2] = [p[1][2], p[1][3], L[3], L[3]]
        p[3] = [L[3]] * 4
        return p
    raise Vp8Error(f"VP8: bad 4x4 mode {mode}")


def _edges(plane, bx, by, size):
    """(A, L, TL, avail_above, avail_left) with boundary conventions:
    rows above the frame read 127, columns left of it 129, the
    top-left corner 127 on the first row else 129 (libwebp's border
    init, matching §12.2)."""
    avail_above = by > 0
    avail_left = bx > 0
    if avail_above:
        A = [int(v) for v in plane[by - 1, bx:bx + size]]
    else:
        A = [127] * size
    if avail_left:
        L = [int(v) for v in plane[by:by + size, bx - 1]]
    else:
        L = [129] * size
    if not avail_above:
        TL = 127
    elif not avail_left:
        TL = 129
    else:
        TL = int(plane[by - 1, bx - 1])
    return A, L, TL, avail_above, avail_left


def _add_residual(plane, bx, by, pred, res):
    for r in range(4):
        row = pred[r]
        for c in range(4):
            plane[by + r, bx + c] = _clamp255(row[c] + res[4 * r + c])


# ------------------------------------------------------- frame decoding
def _parse_modes(hdr, mbw, mbh):
    """Per-MB mode records from the first partition (§10-11), raster
    order: (segment, skip, ymode, uvmode, bmodes[16])."""
    bd = hdr["bd"]
    tp = hdr["tree_probs"]
    infos = []
    above_b = [[B_DC] * 4 for _ in range(mbw)]   # bottom sub-row, per MB col
    for mb_y in range(mbh):
        left_b = [B_DC] * 4
        for mb_x in range(mbw):
            seg = 0
            if hdr["seg_enabled"] and hdr["update_map"]:
                if bd.read(tp[0]):
                    seg = 2 + bd.read(tp[2])
                else:
                    seg = bd.read(tp[1])
            skip = bd.read(hdr["prob_skip"]) if hdr["mb_no_skip"] else 0
            ymode = bd.tree(KF_YMODE_TREE, KF_YMODE_PROBS)
            bmodes = [B_DC] * 16
            if ymode == B_PRED:
                for r in range(4):
                    for c in range(4):
                        a = above_b[mb_x][c] if r == 0 else bmodes[4 * (r - 1) + c]
                        lft = left_b[r] if c == 0 else bmodes[4 * r + c - 1]
                        bmodes[4 * r + c] = bd.tree(
                            BMODE_TREE, T.KF_BMODE_PROBS[a][lft])
            else:
                bmodes = [MODE_TO_BMODE[ymode]] * 16
            uvmode = bd.tree(UV_MODE_TREE, KF_UV_MODE_PROBS)
            above_b[mb_x] = bmodes[12:16]
            left_b = [bmodes[3], bmodes[7], bmodes[11], bmodes[15]]
            infos.append((seg, skip, ymode, uvmode, bmodes))
    return infos


def _decode_frame(data: bytes, max_pixels: int = 1 << 24):
    """Decode a VP8 key frame to (hdr, Y, U, V, mb_meta) — planes are
    UNCROPPED (MB-padded) uint8 arrays BEFORE loop filtering; mb_meta
    carries per-MB (filter_level, inner_filtering, is_b_pred) for the
    loop-filter pass."""
    hdr = _parse_header(data)
    w, h = hdr["width"], hdr["height"]
    if w * h > max_pixels:
        raise Vp8Error(f"VP8: {w}x{h} exceeds max_pixels={max_pixels}")
    mbw, mbh = (w + 15) // 16, (h + 15) // 16
    infos = _parse_modes(hdr, mbw, mbh)

    Y = np.zeros((mbh * 16, mbw * 16), dtype=np.int32)
    U = np.zeros((mbh * 8, mbw * 8), dtype=np.int32)
    V = np.zeros((mbh * 8, mbw * 8), dtype=np.int32)

    probs = hdr["coeff_probs"]
    parts = [ _BoolDec(p) for p in hdr["partitions"] ]
    nparts = len(parts)

    a_l = [[0] * 4 for _ in range(mbw)]
    a_u = [[0] * 2 for _ in range(mbw)]
    a_v = [[0] * 2 for _ in range(mbw)]
    a_y2 = [0] * mbw
    mb_meta = []

    for mb_y in range(mbh):
        bd2 = parts[mb_y % nparts]
        l_l = [0] * 4
        l_u = [0] * 2
        l_v = [0] * 2
        l_y2 = 0
        for mb_x in range(mbw):
            seg, skip, ymode, uvmode, bmodes = infos[mb_y * mbw + mb_x]
            q = hdr["quant"][seg]
            has_y2 = ymode != B_PRED
            coeffs = [[0] * 16 for _ in range(25)]  # y2 + 16 luma + 8 chroma
            total_nz = 0
            if not skip:
                if has_y2:
                    ctx = a_y2[mb_x] + l_y2
                    nz2 = _decode_coeffs(bd2, probs[1], 0, ctx,
                                         q["y2dc"], q["y2ac"], coeffs[0])
                    a_y2[mb_x] = l_y2 = 1 if nz2 else 0
                    total_nz |= nz2
                    wht = _iwht4x4(coeffs[0])
                btype = 0 if has_y2 else 3
                first = 1 if has_y2 else 0
                for r in range(4):
                    for c in range(4):
                        ctx = a_l[mb_x][c] + l_l[r]
                        nzb = _decode_coeffs(bd2, probs[btype], first, ctx,
                                             q["y1dc"], q["y1ac"],
                                             coeffs[1 + 4 * r + c])
                        a_l[mb_x][c] = l_l[r] = 1 if nzb else 0
                        total_nz |= nzb
                for pi, (anz, lnz) in ((17, (a_u, l_u)), (21, (a_v, l_v))):
                    for r in range(2):
                        for c in range(2):
                            ctx = anz[mb_x][c] + lnz[r]
                            nzb = _decode_coeffs(
                                bd2, probs[2], 0, ctx, q["uvdc"], q["uvac"],
                                coeffs[pi + 2 * r + c])
                            anz[mb_x][c] = lnz[r] = 1 if nzb else 0
                            total_nz |= nzb
                if has_y2:
                    for i in range(16):
                        coeffs[1 + i][0] = wht[i]
            else:
                l_l = [0] * 4
                l_u = [0] * 2
                l_v = [0] * 2
                a_l[mb_x] = [0] * 4
                a_u[mb_x] = [0] * 2
                a_v[mb_x] = [0] * 2
                if has_y2:
                    a_y2[mb_x] = l_y2 = 0

            # ---- reconstruction
            x0, y0 = mb_x * 16, mb_y * 16
            if ymode != B_PRED:
                A, L, TL, aa, al = _edges(Y, x0, y0, 16)
                pred = _pred_block(ymode, 16, A, L, TL, aa, al)
                for r in range(4):
                    for c in range(4):
                        res = coeffs[1 + 4 * r + c]
                        px = [pred[4 * r + i][4 * c:4 * c + 4]
                              for i in range(4)]
                        _add_residual(Y, x0 + 4 * c, y0 + 4 * r, px,
                                      _idct4x4(res))
            else:
                # stale above-right extension (§12.3's quirk): all
                # right-column subblocks read row -1, cols 16..19
                if mb_y == 0:
                    top_ext = [127] * 4
                elif mb_x == mbw - 1:
                    top_ext = [int(Y[y0 - 1, x0 + 15])] * 4
                else:
                    top_ext = [int(v) for v in Y[y0 - 1, x0 + 16:x0 + 20]]
                for r in range(4):
                    for c in range(4):
                        bx, by = x0 + 4 * c, y0 + 4 * r
                        A, L, TL, _, _ = _edges(Y, bx, by, 4)
                        if c == 3:
                            AR = top_ext
                        elif by == 0:
                            AR = [127] * 4
                        else:
                            AR = [int(v) for v in Y[by - 1, bx + 4:bx + 8]]
                        pred = _pred_b(bmodes[4 * r + c], A, L, TL, AR)
                        _add_residual(Y, bx, by,
                                      pred, _idct4x4(coeffs[1 + 4 * r + c]))
            cx0, cy0 = mb_x * 8, mb_y * 8
            for plane, base in ((U, 17), (V, 21)):
                A, L, TL, aa, al = _edges(plane, cx0, cy0, 8)
                pred = _pred_block(uvmode, 8, A, L, TL, aa, al)
                for r in range(2):
                    for c in range(2):
                        px = [pred[4 * r + i][4 * c:4 * c + 4]
                              for i in range(4)]
                        _add_residual(plane, cx0 + 4 * c, cy0 + 4 * r, px,
                                      _idct4x4(coeffs[base + 2 * r + c]))

            # ---- loop-filter metadata (§15.1-15.2)
            if hdr["seg_enabled"]:
                lvl = (hdr["seg_lf"][seg] if hdr["abs_delta"]
                       else hdr["filter_level"] + hdr["seg_lf"][seg])
            else:
                lvl = hdr["filter_level"]
            if hdr["lf_delta_enabled"]:
                lvl += hdr["ref_deltas"][0]          # keyframe: intra ref
                if ymode == B_PRED:
                    lvl += hdr["mode_deltas"][0]
            lvl = 0 if lvl < 0 else 63 if lvl > 63 else lvl
            inner = (total_nz != 0) or (ymode == B_PRED)
            mb_meta.append((lvl, inner))
    return hdr, Y, U, V, mb_meta


# ------------------------------------------------------------ loop filter
def _sclamp(x):
    return np.clip(x, -128, 127)


def _interior_limit(lvl, sharpness):
    interior = lvl
    if sharpness:
        interior >>= 1 if sharpness <= 4 else 2
        if interior > 9 - sharpness:
            interior = 9 - sharpness
    return max(interior, 1)


def _hev_threshold(lvl):
    # key-frame thresholds (§15.2)
    return 2 if lvl >= 40 else 1 if lvl >= 15 else 0


def _filter_edge(plane, pos, lo, hi, vertical, I, E, t, mb_edge, simple):
    """Filter one 8-tap-wide edge in place (§15.2-15.4). ``pos`` is the
    x (vertical) or y (horizontal) of the q0 sample; ``lo:hi`` the span
    along the edge."""
    if vertical:
        seg = plane[lo:hi, pos - 4:pos + 4]
    else:
        seg = plane[pos - 4:pos + 4, lo:hi].T
    p3, p2, p1, p0, q0, q1, q2, q3 = (seg[:, i].astype(np.int32)
                                      for i in range(8))
    if simple:
        mask = (np.abs(p0 - q0) * 2 + (np.abs(p1 - q1) >> 1)) <= E
        outer = mask
    else:
        mask = ((np.abs(p3 - p2) <= I) & (np.abs(p2 - p1) <= I)
                & (np.abs(p1 - p0) <= I) & (np.abs(q1 - q0) <= I)
                & (np.abs(q2 - q1) <= I) & (np.abs(q3 - q2) <= I)
                & ((np.abs(p0 - q0) * 2 + (np.abs(p1 - q1) >> 1)) <= E))
        hev = (np.abs(p1 - p0) > t) | (np.abs(q1 - q0) > t)
    p2s, p1s, p0s = p2 - 128, p1 - 128, p0 - 128
    q0s, q1s, q2s = q0 - 128, q1 - 128, q2 - 128

    if simple:
        a = _sclamp(_sclamp(p1s - q1s) + 3 * (q0s - p0s))
        f1 = _sclamp(a + 4) >> 3
        f2 = _sclamp(a + 3) >> 3
        nq0 = np.where(outer, _sclamp(q0s - f1), q0s)
        np0 = np.where(outer, _sclamp(p0s + f2), p0s)
        out = {3: np0 + 128, 4: nq0 + 128}
    elif not mb_edge:
        # subblock filter: outer taps only on high-edge-variance pixels
        a = _sclamp(np.where(hev, _sclamp(p1s - q1s), 0) + 3 * (q0s - p0s))
        f1 = _sclamp(a + 4) >> 3
        f2 = _sclamp(a + 3) >> 3
        nq0 = np.where(mask, _sclamp(q0s - f1), q0s)
        np0 = np.where(mask, _sclamp(p0s + f2), p0s)
        a2 = (f1 + 1) >> 1
        adj = mask & ~hev
        nq1 = np.where(adj, _sclamp(q1s - a2), q1s)
        np1 = np.where(adj, _sclamp(p1s + a2), p1s)
        out = {2: np1 + 128, 3: np0 + 128, 4: nq0 + 128, 5: nq1 + 128}
    else:
        # MB-edge filter: hev pixels get the common adjust, the rest
        # the wide 27/18/9 taps
        a = _sclamp(_sclamp(p1s - q1s) + 3 * (q0s - p0s))
        f1 = _sclamp(a + 4) >> 3
        f2 = _sclamp(a + 3) >> 3
        w = _sclamp(_sclamp(p1s - q1s) + 3 * (q0s - p0s))
        a1 = _sclamp((27 * w + 63) >> 7)
        a2 = _sclamp((18 * w + 63) >> 7)
        a3 = _sclamp((9 * w + 63) >> 7)
        mh = mask & hev
        ml = mask & ~hev
        np0 = np.where(mh, _sclamp(p0s + f2), np.where(ml, _sclamp(p0s + a1), p0s))
        nq0 = np.where(mh, _sclamp(q0s - f1), np.where(ml, _sclamp(q0s - a1), q0s))
        np1 = np.where(ml, _sclamp(p1s + a2), p1s)
        nq1 = np.where(ml, _sclamp(q1s - a2), q1s)
        np2 = np.where(ml, _sclamp(p2s + a3), p2s)
        nq2 = np.where(ml, _sclamp(q2s - a3), q2s)
        out = {1: np2 + 128, 2: np1 + 128, 3: np0 + 128,
               4: nq0 + 128, 5: nq1 + 128, 6: nq2 + 128}
    for i, v in out.items():
        if vertical:
            plane[lo:hi, pos - 4 + i] = v
        else:
            plane[pos - 4 + i, lo:hi] = v


def _loop_filter(hdr, Y, U, V, mb_meta, mbw, mbh):
    sharp = hdr["sharpness"]
    simple = bool(hdr["filter_simple"])
    for mb_y in range(mbh):
        for mb_x in range(mbw):
            lvl, inner = mb_meta[mb_y * mbw + mb_x]
            if lvl == 0:
                continue
            I = _interior_limit(lvl, sharp)
            t = _hev_threshold(lvl)
            E_mb = ((lvl + 2) * 2) + I
            E_sb = (lvl * 2) + I
            x0, y0 = mb_x * 16, mb_y * 16
            cx0, cy0 = mb_x * 8, mb_y * 8
            if mb_x > 0:
                _filter_edge(Y, x0, y0, y0 + 16, True, I, E_mb, t, True,
                             simple)
                if not simple:
                    for P, cx in ((U, cx0), (V, cx0)):
                        _filter_edge(P, cx, cy0, cy0 + 8, True, I, E_mb, t,
                                     True, False)
            if inner:
                for dx in (4, 8, 12):
                    _filter_edge(Y, x0 + dx, y0, y0 + 16, True, I, E_sb, t,
                                 False, simple)
                if not simple:
                    _filter_edge(U, cx0 + 4, cy0, cy0 + 8, True, I, E_sb, t,
                                 False, False)
                    _filter_edge(V, cx0 + 4, cy0, cy0 + 8, True, I, E_sb, t,
                                 False, False)
            if mb_y > 0:
                _filter_edge(Y, y0, x0, x0 + 16, False, I, E_mb, t, True,
                             simple)
                if not simple:
                    _filter_edge(U, cy0, cx0, cx0 + 8, False, I, E_mb, t,
                                 True, False)
                    _filter_edge(V, cy0, cx0, cx0 + 8, False, I, E_mb, t,
                                 True, False)
            if inner:
                for dy in (4, 8, 12):
                    _filter_edge(Y, y0 + dy, x0, x0 + 16, False, I, E_sb, t,
                                 False, simple)
                if not simple:
                    _filter_edge(U, cy0 + 4, cx0, cx0 + 8, False, I, E_sb, t,
                                 False, False)
                    _filter_edge(V, cy0 + 4, cx0, cx0 + 8, False, I, E_sb, t,
                                 False, False)


# ------------------------------------------------------------ public API
def decode_vp8_yuv(data: bytes, max_pixels: int = 1 << 24):
    """Decode a VP8 key-frame chunk payload to cropped (Y, U, V) uint8
    planes — the spec-defined decoder output, pinned bit-for-bit
    against libwebp's WebPDecodeYUV in the test-suite.

    ``max_pixels`` (default 16M) bounds decode work: this is a pure-
    Python reference decoder, and at pipeline scale a corrupted
    dimension field must fail fast as a typed error the containment
    wrapper can catch, never run unbounded."""
    hdr, Y, U, V, mb_meta = _decode_frame(data, max_pixels)
    w, h = hdr["width"], hdr["height"]
    mbw, mbh = (w + 15) // 16, (h + 15) // 16
    if hdr["filter_level"] > 0 or hdr["seg_enabled"] \
            or hdr["lf_delta_enabled"]:
        _loop_filter(hdr, Y, U, V, mb_meta, mbw, mbh)
    cw, ch = (w + 1) // 2, (h + 1) // 2
    return (Y[:h, :w].astype(np.uint8),
            U[:ch, :cw].astype(np.uint8),
            V[:ch, :cw].astype(np.uint8))


def _yuv_to_rgba(y, u, v):
    """BT.601 limited-range integer conversion with 2x2 chroma
    replication — OUR documented display conversion (the VP8 spec does
    not mandate one; libwebp's RGB path uses its own fancy upsampler)."""
    h, w = y.shape
    uu = np.repeat(np.repeat(u, 2, axis=0), 2, axis=1)[:h, :w].astype(np.int32)
    vv = np.repeat(np.repeat(v, 2, axis=0), 2, axis=1)[:h, :w].astype(np.int32)
    yy = y.astype(np.int32)
    c = 298 * (yy - 16)
    r = (c + 409 * (vv - 128) + 128) >> 8
    g = (c - 100 * (uu - 128) - 208 * (vv - 128) + 128) >> 8
    b = (c + 516 * (uu - 128) + 128) >> 8
    out = np.zeros((h, w, 4), dtype=np.uint8)
    out[..., 0] = np.clip(r, 0, 255)
    out[..., 1] = np.clip(g, 0, 255)
    out[..., 2] = np.clip(b, 0, 255)
    out[..., 3] = 255
    return out


def decode_vp8(data: bytes, max_pixels: int = 1 << 24) -> np.ndarray:
    """Decode a VP8 key-frame chunk to an RGBA array (H, W, 4)."""
    y, u, v = decode_vp8_yuv(data, max_pixels)
    return _yuv_to_rgba(y, u, v)


# ============================================================== encoder
class _BoolEnc:
    """Boolean encoder (§7.2 semantics, the public libvpx window
    bookkeeping: 24-bit low value + 8 bits of carry headroom, byte
    emitted per 8 settled bits with ripple-carry into the buffer)."""

    def __init__(self):
        self.out = bytearray()
        self.range = 255
        self.low = 0
        self.count = -24

    def write(self, prob: int, bit: int):
        split = 1 + (((self.range - 1) * prob) >> 8)
        if bit:
            self.low += split
            self.range -= split
        else:
            self.range = split
        shift = 8 - self.range.bit_length()
        self.range <<= shift
        self.count += shift
        if self.count >= 0:
            offset = shift - self.count
            if offset > 0 and (self.low << (offset - 1)) & 0x80000000:
                i = len(self.out) - 1
                while i >= 0 and self.out[i] == 255:
                    self.out[i] = 0
                    i -= 1
                if i < 0:
                    raise Vp8Error("VP8 encode: carry out of stream head")
                self.out[i] += 1
            self.out.append((self.low >> (24 - offset)) & 0xFF)
            self.low = (self.low << offset) & 0xFFFFFF
            shift = self.count
            self.count -= 8
        self.low <<= shift

    def literal(self, v: int, n: int):
        for i in range(n - 1, -1, -1):
            self.write(128, (v >> i) & 1)

    def stop(self) -> bytes:
        for _ in range(32):
            self.write(128, 0)
        return bytes(self.out)


def _fdct4x4(b):
    """Forward DCT matched to the spec iDCT (the public libvpx
    vp8_short_fdct4x4 integer transform)."""
    op = [0] * 16
    for i in range(4):
        r = 4 * i
        a1 = (b[r] + b[r + 3]) * 8
        b1 = (b[r + 1] + b[r + 2]) * 8
        c1 = (b[r + 1] - b[r + 2]) * 8
        d1 = (b[r] - b[r + 3]) * 8
        op[r] = a1 + b1
        op[r + 2] = a1 - b1
        op[r + 1] = (c1 * 2217 + d1 * 5352 + 14500) >> 12
        op[r + 3] = (d1 * 2217 - c1 * 5352 + 7500) >> 12
    out = [0] * 16
    for i in range(4):
        a1 = op[i] + op[12 + i]
        b1 = op[4 + i] + op[8 + i]
        c1 = op[4 + i] - op[8 + i]
        d1 = op[i] - op[12 + i]
        out[i] = (a1 + b1 + 7) >> 4
        out[8 + i] = (a1 - b1 + 7) >> 4
        out[4 + i] = ((c1 * 2217 + d1 * 5352 + 12000) >> 16) \
            + (1 if d1 else 0)
        out[12 + i] = (d1 * 2217 - c1 * 5352 + 51000) >> 16
    return out


def _write_coeffs(be, block_probs, levels, first, ctx):
    """Token-encode one block's zigzag LEVELS — the exact mirror of
    ``_decode_coeffs``. Returns True when any level is nonzero."""
    bands = T.COEFF_BANDS
    last = -1
    for i in range(15, first - 1, -1):
        if levels[i]:
            last = i
            break
    n = first
    allow_eob = True
    while True:
        p = block_probs[bands[n]][ctx] if n < 16 else None
        if n > last:
            if n < 16 and allow_eob:
                be.write(p[0], 0)               # EOB
            break
        if allow_eob:
            be.write(p[0], 1)                   # not EOB
        v = levels[n]
        if v == 0:
            be.write(p[1], 0)
            ctx = 0
            allow_eob = False
            n += 1
            continue
        be.write(p[1], 1)
        allow_eob = True
        a = abs(v)
        if a == 1:
            be.write(p[2], 0)
            ctx = 1
        else:
            be.write(p[2], 1)
            ctx = 2
            if a <= 4:
                be.write(p[3], 0)
                if a == 2:
                    be.write(p[4], 0)
                else:
                    be.write(p[4], 1)
                    be.write(p[5], a - 3)
            else:
                be.write(p[3], 1)
                cat = next(c for c in range(5, -1, -1)
                           if a >= CAT_BASE[c])
                if cat <= 1:
                    be.write(p[6], 0)
                    be.write(p[7], cat)
                else:
                    be.write(p[6], 1)
                    if cat <= 3:
                        be.write(p[8], 0)
                        be.write(p[9], cat - 2)
                    else:
                        be.write(p[8], 1)
                        be.write(p[10], cat - 4)
                extra = a - CAT_BASE[cat]
                nbits = len(PCAT[cat])
                for i, prob in enumerate(PCAT[cat]):
                    be.write(prob, (extra >> (nbits - 1 - i)) & 1)
        be.write(128, 1 if v < 0 else 0)        # sign
        n += 1
    return last >= first


def _rgb_to_yuv(rgba):
    """BT.601 studio-swing integer conversion + 2x2 box chroma."""
    r = rgba[..., 0].astype(np.int32)
    g = rgba[..., 1].astype(np.int32)
    b = rgba[..., 2].astype(np.int32)
    y = ((66 * r + 129 * g + 25 * b + 128) >> 8) + 16
    u = ((-38 * r - 74 * g + 112 * b + 128) >> 8) + 128
    v = ((112 * r - 94 * g - 18 * b + 128) >> 8) + 128
    h, w = y.shape
    if h % 2 or w % 2:
        u = np.pad(u, ((0, h % 2), (0, w % 2)), mode="edge")
        v = np.pad(v, ((0, h % 2), (0, w % 2)), mode="edge")
    u = (u[0::2, 0::2] + u[0::2, 1::2] + u[1::2, 0::2] + u[1::2, 1::2] + 2) >> 2
    v = (v[0::2, 0::2] + v[0::2, 1::2] + v[1::2, 0::2] + v[1::2, 1::2] + 2) >> 2
    return (np.clip(y, 0, 255), np.clip(u, 0, 255), np.clip(v, 0, 255))


def _pad_mb(plane, mb_size):
    h, w = plane.shape
    H = (h + mb_size - 1) // mb_size * mb_size
    W = (w + mb_size - 1) // mb_size * mb_size
    return np.pad(plane, ((0, H - h), (0, W - w)), mode="edge")


def _quantize(coeffs, dq_dc, dq_ac):
    out = [0] * 16
    for i in range(16):
        t = coeffs[T.ZIGZAG[i]]
        dq = dq_dc if i == 0 else dq_ac
        q = abs(t) // dq
        if q > 2114:                    # cat6 ceiling (67 + 2^11 - 1)
            q = 2114
        out[i] = -q if t < 0 else q
    return out


def encode_vp8(rgba: np.ndarray, q_index: int = 24) -> bytes:
    """Encode RGBA to a complete lossy WebP file (RIFF + "VP8 " chunk):
    a spec-conformant intra key frame — every macroblock B_PRED with
    all-B_DC subblocks (so no Y2/WHT path), default coefficient
    probabilities, one token partition, loop filter level 0.
    Coverage-focused like the VP8L companion encoder: it exercises the
    decoder's token/prediction/reconstruction machinery, not rate —
    ``q_index`` (0-127) picks the quantizer row. Cross-validated both
    directions against libwebp in the test-suite."""
    rgba = np.asarray(rgba, dtype=np.uint8)
    if rgba.ndim != 3 or rgba.shape[2] < 3:
        raise Vp8Error("encode_vp8: need (H, W, 3|4) uint8")
    h, w = rgba.shape[:2]
    if h == 0 or w == 0 or h > 0x3FFF or w > 0x3FFF:
        raise Vp8Error("encode_vp8: dimensions out of range")
    if rgba.shape[2] == 3:
        rgba = np.dstack([rgba, np.full((h, w), 255, np.uint8)])
    q_index = _clamp_q(int(q_index))
    y_src, u_src, v_src = _rgb_to_yuv(rgba)
    Yp = _pad_mb(y_src, 16).astype(np.int32)
    Up = _pad_mb(u_src, 8).astype(np.int32)
    Vp = _pad_mb(v_src, 8).astype(np.int32)
    mbh, mbw = Yp.shape[0] // 16, Yp.shape[1] // 16
    Y = np.zeros_like(Yp)               # reconstruction (decoder mirror)
    U = np.zeros_like(Up)
    V = np.zeros_like(Vp)
    y1dc, y1ac = T.DC_QLOOKUP[q_index], T.AC_QLOOKUP[q_index]
    uvdc = min(T.DC_QLOOKUP[q_index], 132)
    uvac = T.AC_QLOOKUP[q_index]

    # ---- first partition: header + modes
    b1 = _BoolEnc()
    b1.literal(0, 1)                    # color space
    b1.literal(0, 1)                    # clamping
    b1.write(128, 0)                    # segmentation disabled
    b1.literal(0, 1)                    # filter type (normal)
    b1.literal(0, 6)                    # filter level 0
    b1.literal(0, 3)                    # sharpness
    b1.write(128, 0)                    # lf deltas disabled
    b1.literal(0, 2)                    # 1 token partition
    b1.literal(q_index, 7)              # y_ac_qi
    for _ in range(5):
        b1.write(128, 0)                # no quantizer deltas
    b1.write(128, 1)                    # refresh entropy probs
    upd = T.COEFF_UPDATE_PROBS
    for t in range(4):
        for bb in range(8):
            for c in range(3):
                for p in range(11):
                    b1.write(upd[t][bb][c][p], 0)   # keep default probs
    b1.write(128, 0)                    # mb_no_coeff_skip off

    kfb00 = T.KF_BMODE_PROBS[B_DC][B_DC]
    for _ in range(mbh * mbw):
        b1.write(KF_YMODE_PROBS[0], 0)  # ymode = B_PRED
        for _ in range(16):
            b1.write(kfb00[0], 0)       # bmode = B_DC (all ctx stay DC)
        b1.write(KF_UV_MODE_PROBS[0], 0)  # uv = DC_PRED

    # ---- token partition: residuals, reconstructing as the decoder will
    b2 = _BoolEnc()
    probs = T.DEFAULT_COEFF_PROBS
    a_l = [[0] * 4 for _ in range(mbw)]
    a_u = [[0] * 2 for _ in range(mbw)]
    a_v = [[0] * 2 for _ in range(mbw)]
    for mb_y in range(mbh):
        l_l = [0] * 4
        l_u = [0] * 2
        l_v = [0] * 2
        for mb_x in range(mbw):
            x0, y0 = mb_x * 16, mb_y * 16
            for r in range(4):
                for c in range(4):
                    bx, by = x0 + 4 * c, y0 + 4 * r
                    A, L, TL, _, _ = _edges(Y, bx, by, 4)
                    pred = _pred_b(B_DC, A, L, TL, [0] * 4)
                    res = [int(Yp[by + i, bx + j]) - pred[i][j]
                           for i in range(4) for j in range(4)]
                    lv = _quantize(_fdct4x4(res), y1dc, y1ac)
                    ctx = a_l[mb_x][c] + l_l[r]
                    nz = _write_coeffs(b2, probs[3], lv, 0, ctx)
                    a_l[mb_x][c] = l_l[r] = 1 if nz else 0
                    deq = [0] * 16
                    for i in range(16):
                        deq[T.ZIGZAG[i]] = lv[i] * (y1dc if i == 0 else y1ac)
                    _add_residual(Y, bx, by, pred, _idct4x4(deq))
            cx0, cy0 = mb_x * 8, mb_y * 8
            for plane, src, anz, lnz in ((U, Up, a_u, l_u),
                                         (V, Vp, a_v, l_v)):
                A, L, TL, aa, al = _edges(plane, cx0, cy0, 8)
                pred8 = _pred_block(DC_PRED, 8, A, L, TL, aa, al)
                for r in range(2):
                    for c in range(2):
                        bx, by = cx0 + 4 * c, cy0 + 4 * r
                        res = [int(src[by + i, bx + j])
                               - pred8[4 * r + i][4 * c + j]
                               for i in range(4) for j in range(4)]
                        lv = _quantize(_fdct4x4(res), uvdc, uvac)
                        ctx = anz[mb_x][c] + lnz[r]
                        nz = _write_coeffs(b2, probs[2], lv, 0, ctx)
                        anz[mb_x][c] = lnz[r] = 1 if nz else 0
                        deq = [0] * 16
                        for i in range(16):
                            deq[T.ZIGZAG[i]] = lv[i] * (uvdc if i == 0
                                                        else uvac)
                        px = [pred8[4 * r + i][4 * c:4 * c + 4]
                              for i in range(4)]
                        _add_residual(plane, bx, by, px, _idct4x4(deq))

    part1 = b1.stop()
    part2 = b2.stop()
    tag = (len(part1) << 5) | (1 << 4) | 0      # show_frame, version 0, key
    frame = bytes((tag & 0xFF, (tag >> 8) & 0xFF, (tag >> 16) & 0xFF)) \
        + b"\x9d\x01\x2a" + struct.pack("<HH", w, h) + part1 + part2
    riff = b"WEBPVP8 " + struct.pack("<I", len(frame)) + frame
    if len(frame) & 1:
        riff += b"\x00"
    return b"RIFF" + struct.pack("<I", len(riff)) + riff
