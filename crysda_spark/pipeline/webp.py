"""Pure-stdlib WebP *lossless* (VP8L) codec.

Implements the public WebP Lossless Bitstream Specification (RFC 9649):
RIFF/WEBP container (plain or VP8X-extended), LSB-first bitstream,
canonical prefix (Huffman) codes with DEFLATE bit order, the
code-length code, all four transforms (predictor ×14 modes,
cross-color, subtract-green, color-indexing with pixel bundling),
color cache, LZ77 backward references with the 120-entry 2D distance
mapping, and meta-prefix (per-tile Huffman group) images.

Lossy "VP8 " chunks route to the RFC 6386 intra decoder in ``vp8.py``
(r9 — boolean coder, token trees, dequant, exact integer iDCT/iWHT,
intra prediction, both loop filters; YUV planes pinned bit-for-bit
against libwebp). Only inter frames still raise — at pipeline level
those rows degrade to stub output via the containment wrapper in
``multimodal``.

The companion encoder emits spec-conformant streams exercising every
decoder feature (transform combos, bundled palettes, color cache,
RLE backrefs) so the Hypothesis roundtrips cover each path; when the
system libwebp is present the test-suite additionally cross-validates
both directions against it (golden checks only — the production path
never loads native code).

No reference parity: the reference engine has no media handling; this
closes the last declared image-format stub (multimodal.py).
"""

from __future__ import annotations

import struct

import numpy as np

__all__ = ["WebpError", "decode_webp", "encode_webp"]


class WebpError(ValueError):
    pass


# --------------------------------------------------------------- bit I/O
class _BitReader:
    """LSB-first over bytes (RFC 9649 §4) — DEFLATE-style: multi-bit
    reads take the next n bits with the FIRST-read bit as the LSB of
    the value; prefix-code bits are consumed one at a time (the code's
    first bit is its most significant — the zlib convention libwebp's
    table builder replicates)."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0          # absolute bit position

    def read(self, n: int) -> int:
        v = 0
        for i in range(n):
            v |= self.read_bit() << i
        return v

    def read_bit(self) -> int:
        byte = self.pos >> 3
        if byte >= len(self.data):
            raise WebpError("VP8L: bitstream truncated")
        b = (self.data[byte] >> (self.pos & 7)) & 1
        self.pos += 1
        return b


# ------------------------------------------------------- canonical codes
def _canonical_codes(lengths: list[int]) -> dict[int, tuple[int, int]]:
    """symbol → (code, length), DEFLATE canonical assignment (codes
    increase with symbol within a length, shorter lengths first)."""
    pairs = sorted((l, s) for s, l in enumerate(lengths) if l > 0)
    codes = {}
    code = 0
    prev_len = pairs[0][0] if pairs else 0
    for l, s in pairs:
        code <<= (l - prev_len)
        codes[s] = (code, l)
        code += 1
        prev_len = l
    return codes


class _HuffmanCode:
    """Decoder for one prefix code. Single-symbol codes consume zero
    bits (RFC 9649 §5.2.1)."""

    def __init__(self, lengths: list[int]):
        used = [s for s, l in enumerate(lengths) if l > 0]
        if not used:
            raise WebpError("VP8L: empty prefix code")
        if len(used) == 1:
            self.single = used[0]
            self.table = None
            return
        self.single = None
        codes = _canonical_codes(lengths)
        # Kraft check: an over/under-subscribed code means a corrupt
        # stream and would loop or mis-decode silently
        kraft = sum(1 / (1 << l) for _, l in codes.values())
        if abs(kraft - 1.0) > 1e-9:
            raise WebpError("VP8L: invalid (non-complete) prefix code")
        self.table = {(l, c): s for s, (c, l) in codes.items()}
        self.max_len = max(l for _, (c, l) in codes.items())

    def read(self, br: _BitReader) -> int:
        if self.single is not None:
            return self.single
        acc = 0
        for l in range(1, self.max_len + 1):
            acc = (acc << 1) | br.read_bit()
            s = self.table.get((l, acc))
            if s is not None:
                return s
        raise WebpError("VP8L: invalid prefix code word")


_CL_ORDER = [17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15]


def _read_code_lengths(br: _BitReader, alphabet_size: int) -> list[int]:
    """§5.2.2 'normal' code length code."""
    num_codes = br.read(4) + 4
    cl_lengths = [0] * 19
    for i in range(num_codes):
        cl_lengths[_CL_ORDER[i]] = br.read(3)
    cl_code = _HuffmanCode(cl_lengths)
    if br.read_bit():                       # use length / max_symbol
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet_size
    lengths = [0] * alphabet_size
    prev = 8
    i = 0
    while i < alphabet_size:
        if max_symbol == 0:
            break
        max_symbol -= 1
        s = cl_code.read(br)
        if s < 16:
            lengths[i] = s
            i += 1
            if s != 0:
                prev = s
        elif s == 16:
            for _ in range(3 + br.read(2)):
                if i < alphabet_size:
                    lengths[i] = prev
                    i += 1
        elif s == 17:
            i += 3 + br.read(3)
        else:                               # 18
            i += 11 + br.read(7)
    return lengths


def _read_prefix_code(br: _BitReader, alphabet_size: int) -> _HuffmanCode:
    if br.read_bit():                       # simple code
        n_sym = br.read_bit() + 1
        if br.read_bit():                   # first symbol is 8 bits
            first = br.read(8)
        else:
            first = br.read_bit()
        lengths = [0] * alphabet_size
        if n_sym == 1:
            lengths[first] = 1              # single symbol: 0-bit reads
        else:
            second = br.read(8)
            if first == second:
                raise WebpError("VP8L: duplicate simple-code symbols")
            lengths[first] = 1
            lengths[second] = 1
        return _HuffmanCode(lengths)
    return _HuffmanCode(_read_code_lengths(br, alphabet_size))


# -------------------------------------------------------- distance codes
# RFC 9649 §5.2.3: codes 1..120 address 2D neighbors; >120 are linear.
# Table verified against libwebp: streams crafted with each code 1..120
# decoded by the system library reproduce exactly these (dx, dy).
_DIST_MAP = [
    (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
    (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
    (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
    (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
    (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0),
    (1, 5), (-1, 5), (5, 1), (-5, 1), (2, 5), (-2, 5), (5, 2), (-5, 2),
    (4, 4), (-4, 4), (3, 5), (-3, 5), (5, 3), (-5, 3), (0, 6), (6, 0),
    (1, 6), (-1, 6), (6, 1), (-6, 1), (2, 6), (-2, 6), (6, 2), (-6, 2),
    (4, 5), (-4, 5), (5, 4), (-5, 4), (3, 6), (-3, 6), (6, 3), (-6, 3),
    (0, 7), (7, 0), (1, 7), (-1, 7), (5, 5), (-5, 5), (7, 1), (-7, 1),
    (4, 6), (-4, 6), (6, 4), (-6, 4), (2, 7), (-2, 7), (7, 2), (-7, 2),
    (3, 7), (-3, 7), (7, 3), (-7, 3), (5, 6), (-5, 6), (6, 5), (-6, 5),
    (8, 0), (4, 7), (-4, 7), (7, 4), (-7, 4), (8, 1), (8, 2), (6, 6),
    (-6, 6), (8, 3), (5, 7), (-5, 7), (7, 5), (-7, 5), (8, 4), (6, 7),
    (-6, 7), (7, 6), (-7, 6), (8, 5), (7, 7), (-7, 7), (8, 6), (8, 7),
]
assert len(_DIST_MAP) == 120


def _prefix_value(code: int, br: _BitReader) -> int:
    """LZ77 length/distance prefix decoding (§5.2.3)."""
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + br.read(extra) + 1


def _plane_distance(code: int, width: int) -> int:
    if code <= 120:
        dx, dy = _DIST_MAP[code - 1]
        d = dy * width + dx
        return d if d >= 1 else 1
    return code - 120


# --------------------------------------------------------- entropy image
_CACHE_MUL = 0x1E35A7BD


def _decode_entropy_image(br: _BitReader, width: int, height: int,
                          is_level0: bool):
    """§5: one 'image stream' minus the transforms — returns a flat
    uint32 ARGB array of width*height (and the meta info for level 0).

    Pixels are uint32 0xAARRGGBB. Used for the main image AND every
    subimage (transform data, meta-prefix image, palette)."""
    cache_bits = 0
    cache = None
    if br.read_bit():
        cache_bits = br.read(4)
        if not 1 <= cache_bits <= 11:
            raise WebpError(f"VP8L: bad color-cache bits {cache_bits}")
        cache = [0] * (1 << cache_bits)

    meta_codes = None
    meta_bits = 0
    n_groups = 1
    if is_level0 and br.read_bit():         # meta prefix codes
        meta_bits = br.read(3) + 2
        mw = _subsample(width, meta_bits)
        mh = _subsample(height, meta_bits)
        meta_img = _decode_entropy_image(br, mw, mh, False)
        meta_codes = [((p >> 8) & 0xFFFF) for p in meta_img]
        n_groups = max(meta_codes) + 1

    green_size = 256 + 24 + (1 << cache_bits if cache_bits else 0)
    groups = []
    for _ in range(n_groups):
        groups.append((
            _read_prefix_code(br, green_size),
            _read_prefix_code(br, 256),      # red
            _read_prefix_code(br, 256),      # blue
            _read_prefix_code(br, 256),      # alpha
            _read_prefix_code(br, 40),       # distance
        ))

    n = width * height
    out = [0] * n
    pos = 0
    x = 0
    while pos < n:
        if meta_codes is not None:
            y = pos // width
            g = groups[meta_codes[(y >> meta_bits)
                                  * _subsample(width, meta_bits)
                                  + (x >> meta_bits)]]
        else:
            g = groups[0]
        s = g[0].read(br)
        if s < 256:
            red = g[1].read(br)
            blue = g[2].read(br)
            alpha = g[3].read(br)
            px = (alpha << 24) | (red << 16) | (s << 8) | blue
            out[pos] = px
            if cache is not None:
                cache[((_CACHE_MUL * px) & 0xFFFFFFFF)
                      >> (32 - cache_bits)] = px
            pos += 1
            x += 1
            if x == width:
                x = 0
        elif s < 256 + 24:
            length = _prefix_value(s - 256, br)
            dist_code = _prefix_value(g[4].read(br), br)
            dist = _plane_distance(dist_code, width)
            if dist > pos:
                raise WebpError("VP8L: backward reference before start")
            for _ in range(length):
                if pos >= n:
                    raise WebpError("VP8L: backward reference overruns")
                px = out[pos - dist]
                out[pos] = px
                if cache is not None:
                    cache[((_CACHE_MUL * px) & 0xFFFFFFFF)
                          >> (32 - cache_bits)] = px
                pos += 1
                x += 1
                if x == width:
                    x = 0
        else:
            if cache is None:
                raise WebpError("VP8L: cache symbol without color cache")
            px = cache[s - 256 - 24]
            out[pos] = px
            pos += 1
            x += 1
            if x == width:
                x = 0
    return out


def _subsample(size: int, bits: int) -> int:
    return (size + (1 << bits) - 1) >> bits


# ----------------------------------------------------- inverse transforms
def _avg2(a: int, b: int) -> int:
    return (((a ^ b) & 0xFEFEFEFE) >> 1) + (a & b)  # per-byte average


def _channels(p: int) -> tuple[int, int, int, int]:
    return (p >> 24) & 0xFF, (p >> 16) & 0xFF, (p >> 8) & 0xFF, p & 0xFF


def _pack(a: int, r: int, g: int, b: int) -> int:
    return (a << 24) | (r << 16) | (g << 8) | b


def _select(l: int, t: int, tl: int) -> int:
    la, lr, lg, lb = _channels(l)
    ta, tr, tg, tb = _channels(t)
    ca, cr, cg, cb = _channels(tl)
    pa, pr, pg, pb = la + ta - ca, lr + tr - cr, lg + tg - cg, lb + tb - cb
    p_l = abs(pa - la) + abs(pr - lr) + abs(pg - lg) + abs(pb - lb)
    p_t = abs(pa - ta) + abs(pr - tr) + abs(pg - tg) + abs(pb - tb)
    return l if p_l < p_t else t


def _clamp(v: int) -> int:
    return 0 if v < 0 else 255 if v > 255 else v


def _cas_full(l: int, t: int, tl: int) -> int:
    out = 0
    for sh in (24, 16, 8, 0):
        out |= _clamp(((l >> sh) & 0xFF) + ((t >> sh) & 0xFF)
                      - ((tl >> sh) & 0xFF)) << sh
    return out


def _cas_half(l: int, t: int, tl: int) -> int:
    ave = _avg2(l, t)
    out = 0
    for sh in (24, 16, 8, 0):
        a = (ave >> sh) & 0xFF
        b = (tl >> sh) & 0xFF
        d = a - b
        half = d // 2 if d >= 0 else -((-d) // 2)   # C truncation
        out |= _clamp(a + half) << sh
    return out


def _predict(mode: int, l: int, t: int, tr: int, tl: int) -> int:
    if mode == 0:
        return 0xFF000000
    if mode == 1:
        return l
    if mode == 2:
        return t
    if mode == 3:
        return tr
    if mode == 4:
        return tl
    if mode == 5:
        return _avg2(_avg2(l, tr), t)
    if mode == 6:
        return _avg2(l, tl)
    if mode == 7:
        return _avg2(l, t)
    if mode == 8:
        return _avg2(tl, t)
    if mode == 9:
        return _avg2(t, tr)
    if mode == 10:
        return _avg2(_avg2(l, tl), _avg2(t, tr))
    if mode == 11:
        return _select(l, t, tl)
    if mode == 12:
        return _cas_full(l, t, tl)
    if mode == 13:
        return _cas_half(l, t, tl)
    raise WebpError(f"VP8L: bad predictor mode {mode}")


def _add_pixels(px: int, pred: int) -> int:
    out = 0
    for sh in (24, 16, 8, 0):
        out |= ((((px >> sh) & 0xFF) + ((pred >> sh) & 0xFF)) & 0xFF) << sh
    return out


def _inv_predictor(pix: list[int], width: int, height: int,
                   bits: int, tiles: list[int]) -> None:
    tw = _subsample(width, bits)
    for y in range(height):
        for x in range(width):
            i = y * width + x
            if x == 0 and y == 0:
                pred = 0xFF000000
            elif y == 0:
                pred = pix[i - 1]                       # L
            elif x == 0:
                pred = pix[i - width]                   # T
            else:
                mode = (tiles[(y >> bits) * tw + (x >> bits)] >> 8) & 0xFF
                l = pix[i - 1]
                t = pix[i - width]
                tl = pix[i - width - 1]
                # TR at x==width-1 reads the flat successor of the row
                # above == first pixel of the current row (libwebp's
                # contiguous-buffer semantics)
                tr = pix[i - width + 1]
                pred = _predict(mode, l, t, tr, tl)
            pix[i] = _add_pixels(pix[i], pred)


def _ct_delta(t: int, c: int) -> int:
    """ColorTransformDelta: signed-int8 multiply, arithmetic >> 5."""
    t8 = t - 256 if t >= 128 else t
    c8 = c - 256 if c >= 128 else c
    return (t8 * c8) >> 5


def _inv_color_transform(pix: list[int], width: int, height: int,
                         bits: int, tiles: list[int]) -> None:
    tw = _subsample(width, bits)
    for y in range(height):
        for x in range(width):
            i = y * width + x
            elt = tiles[(y >> bits) * tw + (x >> bits)]
            g2r = elt & 0xFF                 # blue channel
            g2b = (elt >> 8) & 0xFF          # green channel
            r2b = (elt >> 16) & 0xFF         # red channel
            a, r, g, b = _channels(pix[i])
            r = (r + _ct_delta(g2r, g)) & 0xFF
            b = (b + _ct_delta(g2b, g) + _ct_delta(r2b, r)) & 0xFF
            pix[i] = _pack(a, r, g, b)


def _inv_subtract_green(pix: list[int]) -> None:
    for i, p in enumerate(pix):
        a, r, g, b = _channels(p)
        pix[i] = _pack(a, (r + g) & 0xFF, g, (b + g) & 0xFF)


def _palette_xbits(size: int) -> int:
    if size <= 2:
        return 3
    if size <= 4:
        return 2
    if size <= 16:
        return 1
    return 0


def _inv_color_indexing(pix: list[int], width: int, height: int,
                        palette: list[int]) -> list[int]:
    xbits = _palette_xbits(len(palette))
    out = [0] * (width * height)
    packed_w = _subsample(width, xbits)
    per = 1 << xbits
    idx_bits = 8 >> xbits
    mask = (1 << idx_bits) - 1
    for y in range(height):
        for x in range(width):
            packed = pix[y * packed_w + (x >> xbits)]
            green = (packed >> 8) & 0xFF
            k = (x % per) if xbits else 0
            idx = (green >> (k * idx_bits)) & mask if xbits else green
            out[y * width + x] = palette[idx] if idx < len(palette) else 0
    return out


# ----------------------------------------------------------- decode entry
def _find_vp8l(payload: bytes) -> bytes:
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WEBP":
        raise WebpError("not a RIFF/WEBP container")
    pos = 12
    while pos + 8 <= len(payload):
        tag = payload[pos:pos + 4]
        size = struct.unpack("<I", payload[pos + 4:pos + 8])[0]
        body = payload[pos + 8:pos + 8 + size]
        if tag == b"VP8L":
            return body
        if tag == b"VP8 ":
            # lossy payload: hand the chunk to the VP8 intra decoder
            # (vp8.py — key frames only; inter frames raise there)
            return ("vp8", body)
        pos += 8 + size + (size & 1)         # chunks are even-padded
    raise WebpError("no VP8L/VP8 chunk in container")


def decode_webp(payload: bytes) -> np.ndarray:
    """Decode a WebP to HxWx3/HxWx4 uint8: lossless (VP8L) natively
    here; lossy key frames via the RFC 6386 intra decoder in
    ``vp8.py`` (returned as HxWx4 through the documented BT.601
    conversion — plane-level parity is pinned against libwebp)."""
    body = _find_vp8l(payload)
    if isinstance(body, tuple):
        from .vp8 import Vp8Error, decode_vp8
        try:
            return decode_vp8(body[1])
        except Vp8Error as e:
            raise WebpError(str(e)) from e
    return _decode_vp8l_body(body)


def _decode_vp8l_body(body: bytes) -> np.ndarray:
    """Decode a raw VP8L chunk body (shared by the still path and the
    animation frame path)."""
    if not body or body[0] != 0x2F:
        raise WebpError("VP8L: bad signature byte")
    br = _BitReader(body[1:])
    width = br.read(14) + 1
    height = br.read(14) + 1
    alpha_hint = br.read_bit()
    version = br.read(3)
    if version != 0:
        raise WebpError(f"VP8L: unsupported version {version}")

    # transforms, in stream order
    transforms = []
    seen = set()
    cur_w = width
    while br.read_bit():
        ttype = br.read(2)
        if ttype in seen:
            raise WebpError("VP8L: repeated transform")
        seen.add(ttype)
        if ttype in (0, 1):                  # predictor / cross-color
            bits = br.read(3) + 2
            tw = _subsample(cur_w, bits)
            th = _subsample(height, bits)
            tiles = _decode_entropy_image(br, tw, th, False)
            transforms.append((ttype, bits, tiles))
        elif ttype == 2:                     # subtract green
            transforms.append((2, None, None))
        else:                                # color indexing
            psize = br.read(8) + 1
            praw = _decode_entropy_image(br, psize, 1, False)
            palette = []
            prev = 0
            for p in praw:                   # delta-summed per channel
                a = ((p >> 24) + (prev >> 24)) & 0xFF
                r = (((p >> 16) & 0xFF) + ((prev >> 16) & 0xFF)) & 0xFF
                g = (((p >> 8) & 0xFF) + ((prev >> 8) & 0xFF)) & 0xFF
                b = ((p & 0xFF) + (prev & 0xFF)) & 0xFF
                prev = _pack(a, r, g, b)
                palette.append(prev)
            transforms.append((3, None, palette))
            cur_w = _subsample(width, _palette_xbits(psize))

    pix = _decode_entropy_image(br, cur_w, height, True)

    for ttype, bits, data in reversed(transforms):
        if ttype == 3:
            pix = _inv_color_indexing(pix, width, height, data)
            cur_w = width
        elif ttype == 2:
            _inv_subtract_green(pix)
        elif ttype == 1:
            _inv_color_transform(pix, cur_w, height, bits, data)
        else:
            _inv_predictor(pix, cur_w, height, bits, data)

    arr = np.array(pix, dtype=np.uint32).reshape(height, width)
    rgba = np.empty((height, width, 4), dtype=np.uint8)
    rgba[..., 0] = (arr >> 16) & 0xFF
    rgba[..., 1] = (arr >> 8) & 0xFF
    rgba[..., 2] = arr & 0xFF
    rgba[..., 3] = (arr >> 24) & 0xFF
    return rgba if alpha_hint else rgba[..., :3].copy()


# ================================================================ encoder
class _BitWriter:
    def __init__(self):
        self.bits: list[int] = []

    def write(self, v: int, n: int) -> None:
        for i in range(n):
            self.bits.append((v >> i) & 1)

    def write_code(self, code: int, length: int) -> None:
        """Prefix-code bits: MSB of the canonical code first."""
        for i in range(length - 1, -1, -1):
            self.bits.append((code >> i) & 1)

    def tobytes(self) -> bytes:
        out = bytearray()
        for i in range(0, len(self.bits), 8):
            b = 0
            for j, bit in enumerate(self.bits[i:i + 8]):
                b |= bit << j
            out.append(b)
        return bytes(out)


def _huffman_lengths(freqs: dict[int, int], max_len: int) -> dict[int, int]:
    """Code lengths for the used symbols (heap Huffman + Kraft repair
    to the length limit). ≥2 symbols → a complete prefix code."""
    import heapq
    syms = [s for s, f in freqs.items() if f > 0]
    if not syms:
        raise WebpError("VP8L encode: empty alphabet")
    if len(syms) == 1:
        return {syms[0]: 1}
    heap = [(freqs[s], i, (s,)) for i, s in enumerate(syms)]
    heapq.heapify(heap)
    nxt = len(syms)
    depth = {s: 0 for s in syms}
    while len(heap) > 1:
        fa, _, a = heapq.heappop(heap)
        fb, _, b = heapq.heappop(heap)
        for s in a + b:
            depth[s] += 1
        heapq.heappush(heap, (fa + fb, nxt, a + b))
        nxt += 1
    lengths = depth
    # length-limit repair: clamp, then restore Kraft <= 1 by pushing
    # the shortest over-budget codes deeper
    for s in lengths:
        if lengths[s] > max_len:
            lengths[s] = max_len
    def kraft():
        return sum(1 / (1 << l) for l in lengths.values())
    while kraft() > 1.0:
        s = min((s for s in lengths if lengths[s] < max_len),
                key=lambda s: lengths[s])
        lengths[s] += 1
    # tighten back to exactly 1 (a complete code) — required by the
    # decoder's Kraft check: shorten the deepest codes where possible
    changed = True
    while changed:
        changed = False
        for s in sorted(lengths, key=lambda s: -lengths[s]):
            lengths[s] -= 1
            if kraft() <= 1.0:
                changed = True
                break
            lengths[s] += 1
    assert abs(kraft() - 1.0) < 1e-12, "incomplete huffman repair"
    return lengths


def _write_prefix_code(bw: _BitWriter, freqs: dict[int, int],
                       alphabet_size: int) -> dict[int, tuple[int, int]]:
    """Write one prefix-code header; return symbol → (code, length)."""
    used = sorted(s for s, f in freqs.items() if f > 0)
    if len(used) <= 2 and all(s < 256 for s in used):
        bw.write(1, 1)                       # simple
        bw.write(len(used) - 1, 1)
        if used[0] < 2 and len(used) == 1:
            bw.write(0, 1)                   # 1-bit first symbol
            bw.write(used[0], 1)
        else:
            bw.write(1, 1)
            bw.write(used[0], 8)
        if len(used) == 2:
            bw.write(used[1], 8)
        if len(used) == 1:
            return {used[0]: (0, 0)}
        return {used[0]: (0, 1), used[1]: (1, 1)}

    bw.write(0, 1)                           # normal code
    lengths_map = _huffman_lengths(freqs, 15)
    lengths = [lengths_map.get(s, 0) for s in range(alphabet_size)]
    # code-length stream: literals + 17/18 zero-runs. The reader keeps
    # decoding until it has ALL alphabet_size lengths (we don't use the
    # max_symbol shortcut), so trailing zeros must be emitted too.
    cl_stream: list[tuple[int, int, int]] = []  # (symbol, extra, extra_bits)
    i = 0
    while i < alphabet_size:
        if lengths[i] == 0:
            run = 0
            while i < alphabet_size and lengths[i] == 0:
                run += 1
                i += 1
            while run >= 11:
                n = min(run, 138)
                cl_stream.append((18, n - 11, 7))
                run -= n
            while run >= 3:
                n = min(run, 10)
                cl_stream.append((17, n - 3, 3))
                run -= n
            for _ in range(run):
                cl_stream.append((0, 0, 0))
        else:
            cl_stream.append((lengths[i], 0, 0))
            i += 1
    cl_freqs: dict[int, int] = {}
    for s, _, _ in cl_stream:
        cl_freqs[s] = cl_freqs.get(s, 0) + 1
    cl_lengths_map = _huffman_lengths(cl_freqs, 7)
    bw.write(19 - 4, 4)                      # all 19 slots
    for s in _CL_ORDER:
        bw.write(cl_lengths_map.get(s, 0), 3)
    if len(cl_lengths_map) == 1:
        cl_codes = {next(iter(cl_lengths_map)): (0, 0)}
    else:
        cl_codes = {
            s: (c, l) for s, (c, l) in _canonical_codes(
                [cl_lengths_map.get(s, 0) for s in range(19)]).items()}
    bw.write(0, 1)                           # no max_symbol shortcut
    for s, extra, ebits in cl_stream:
        c, l = cl_codes[s]
        bw.write_code(c, l)
        if ebits:
            bw.write(extra, ebits)
    codes = _canonical_codes(lengths)
    out = {s: codes[s] for s in used}
    if len(used) == 1:
        out = {used[0]: (0, 0)}
    return out


def _prefix_code_of(v: int) -> tuple[int, int, int]:
    """Inverse of _prefix_value: value → (code, extra, extra_bits)."""
    if v <= 4:
        return v - 1, 0, 0
    b = v - 1
    nbits = b.bit_length() - 1
    code = 2 * nbits + ((b >> (nbits - 1)) & 1)
    offset = (2 + ((code & 1))) << (nbits - 1)
    return code, v - offset - 1, nbits - 1


def _fwd_subtract_green(pix: list[int]) -> list[int]:
    out = []
    for p in pix:
        a, r, g, b = _channels(p)
        out.append(_pack(a, (r - g) & 0xFF, g, (b - g) & 0xFF))
    return out


def _fwd_color_transform(pix: list[int], width: int, height: int,
                         g2r: int, g2b: int, r2b: int) -> list[int]:
    out = []
    for p in pix:
        a, r, g, b = _channels(p)
        nr = (r - _ct_delta(g2r, g)) & 0xFF
        nb = (b - _ct_delta(g2b, g) - _ct_delta(r2b, r)) & 0xFF
        out.append(_pack(a, nr, g, nb))
    return out


def _fwd_predictor(pix: list[int], width: int, height: int,
                   mode: int) -> list[int]:
    out = []
    for y in range(height):
        for x in range(width):
            i = y * width + x
            if x == 0 and y == 0:
                pred = 0xFF000000
            elif y == 0:
                pred = pix[i - 1]
            elif x == 0:
                pred = pix[i - width]
            else:
                pred = _predict(mode, pix[i - 1], pix[i - width],
                                pix[i - width + 1], pix[i - width - 1])
            res = 0
            for sh in (24, 16, 8, 0):
                res |= ((((pix[i] >> sh) & 0xFF)
                         - ((pred >> sh) & 0xFF)) & 0xFF) << sh
            out.append(res)
    return out


def _emit_entropy_image(bw: _BitWriter, pix: list[int], width: int,
                        cache_bits: int | None, rle: bool,
                        level0: bool = False) -> None:
    """One image stream (no transforms written here): tokens → code
    headers → coded pixels. ``level0`` adds the meta-prefix-codes bit
    (always 0 — this encoder writes one group) in its §5 slot: after
    the color-cache info, before the code headers."""
    cache = [None] * (1 << cache_bits) if cache_bits else None
    tokens = []                              # (kind, payload)
    i = 0
    n = len(pix)
    while i < n:
        px = pix[i]
        if cache is not None:
            key = ((_CACHE_MUL * px) & 0xFFFFFFFF) >> (32 - cache_bits)
        if rle and i > 0 and pix[i - 1] == px:
            run = 0
            while i + run < n and pix[i + run] == px:
                run += 1
            if run >= 3:
                tokens.append(("ref", run))
                if cache is not None:
                    cache[key] = px          # run pixels all equal px
                i += run
                continue
        if cache is not None and cache[key] == px:
            tokens.append(("cache", key))
            i += 1
            continue
        tokens.append(("lit", px))
        if cache is not None:
            cache[key] = px
        i += 1

    green_size = 256 + 24 + ((1 << cache_bits) if cache_bits else 0)
    gf: dict[int, int] = {}
    rf: dict[int, int] = {}
    bf: dict[int, int] = {}
    af: dict[int, int] = {}
    df: dict[int, int] = {}
    for kind, v in tokens:
        if kind == "lit":
            a, r, g, b = _channels(v)
            gf[g] = gf.get(g, 0) + 1
            rf[r] = rf.get(r, 0) + 1
            bf[b] = bf.get(b, 0) + 1
            af[a] = af.get(a, 0) + 1
        elif kind == "ref":
            code, _, _ = _prefix_code_of(v)
            gf[256 + code] = gf.get(256 + code, 0) + 1
            dcode, _, _ = _prefix_code_of(121)   # linear distance 1
            df[dcode] = df.get(dcode, 0) + 1
        else:
            gf[256 + 24 + v] = gf.get(256 + 24 + v, 0) + 1
    for m in (rf, bf, af, df):
        if not m:
            m[0] = 1                         # unused channel: 1-symbol code

    if cache_bits:
        bw.write(1, 1)
        bw.write(cache_bits, 4)
    else:
        bw.write(0, 1)
    if level0:
        bw.write(0, 1)                       # no meta prefix codes
    gc = _write_prefix_code(bw, gf, green_size)
    rc = _write_prefix_code(bw, rf, 256)
    bc = _write_prefix_code(bw, bf, 256)
    ac = _write_prefix_code(bw, af, 256)
    dc = _write_prefix_code(bw, df, 40)

    for kind, v in tokens:
        if kind == "lit":
            a, r, g, b = _channels(v)
            for code_map, s in ((gc, g), (rc, r), (bc, b), (ac, a)):
                c, l = code_map[s]
                bw.write_code(c, l)
        elif kind == "ref":
            code, extra, ebits = _prefix_code_of(v)
            c, l = gc[256 + code]
            bw.write_code(c, l)
            if ebits:
                bw.write(extra, ebits)
            dcode, dextra, debits = _prefix_code_of(121)
            c, l = dc[dcode]
            bw.write_code(c, l)
            if debits:
                bw.write(dextra, debits)
        else:
            c, l = gc[256 + 24 + v]
            bw.write_code(c, l)


def encode_webp(arr: np.ndarray, *, subtract_green: bool = False,
                color_transform: tuple[int, int, int] | None = None,
                predictor: int | None = None, palette: bool = False,
                cache_bits: int | None = None, rle: bool = False) -> bytes:
    """Spec-conformant VP8L encoder. Feature flags exist to exercise
    every decoder path — production corpora should still prefer
    libwebp-encoded inputs; this encoder optimizes for coverage, not
    ratio. ``palette`` is mutually exclusive with the pixel
    transforms."""
    if arr.ndim != 3 or arr.shape[2] not in (3, 4):
        raise WebpError("encode_webp expects HxWx3 or HxWx4 uint8")
    if palette and (subtract_green or color_transform or predictor is not None):
        raise WebpError("palette excludes other transforms")
    h, w, ch = arr.shape
    if not (1 <= w <= 1 << 14 and 1 <= h <= 1 << 14):
        raise WebpError("VP8L: dimensions out of range")
    a = arr.astype(np.uint32)
    alpha = a[..., 3] if ch == 4 else np.full((h, w), 255, np.uint32)
    pix = ((alpha << 24) | (a[..., 0] << 16) | (a[..., 1] << 8)
           | a[..., 2]).flatten().tolist()

    bw = _BitWriter()
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(1 if ch == 4 else 0, 1)
    bw.write(0, 3)                           # version

    cur_w = w
    if palette:
        uniq = list(dict.fromkeys(pix))
        if len(uniq) > 256:
            raise WebpError("palette: more than 256 distinct colors")
        lut = {p: i for i, p in enumerate(uniq)}
        bw.write(1, 1)
        bw.write(3, 2)                       # COLOR_INDEXING
        bw.write(len(uniq) - 1, 8)
        deltas = []
        prev = 0
        for p in uniq:                       # componentwise deltas
            d = 0
            for sh in (24, 16, 8, 0):
                d |= ((((p >> sh) & 0xFF) - ((prev >> sh) & 0xFF))
                      & 0xFF) << sh
            deltas.append(d)
            prev = p
        _emit_entropy_image(bw, deltas, len(uniq), None, False)
        xbits = _palette_xbits(len(uniq))
        packed_w = _subsample(w, xbits)
        idx_bits = 8 >> xbits
        packed = [0] * (packed_w * h)
        for y in range(h):
            for x in range(w):
                idx = lut[pix[y * w + x]]
                if xbits:
                    k = x % (1 << xbits)
                    packed[y * packed_w + (x >> xbits)] |= \
                        idx << (8 + k * idx_bits)
                else:
                    packed[y * packed_w + x] = idx << 8
        pix = packed
        cur_w = packed_w
    else:
        if subtract_green:
            bw.write(1, 1)
            bw.write(2, 2)                   # SUBTRACT_GREEN
            pix = _fwd_subtract_green(pix)
        if color_transform is not None:
            g2r, g2b, r2b = (v & 0xFF for v in color_transform)
            bw.write(1, 1)
            bw.write(1, 2)                   # COLOR_TRANSFORM
            bits = 9                         # one tile covers <=512px
            while (1 << bits) < max(w, h):
                raise WebpError("color_transform demo limited to 512px")
            bw.write(bits - 2, 3)
            elt = (r2b << 16) | (g2b << 8) | g2r
            tw = _subsample(cur_w, bits)
            th = _subsample(h, bits)
            _emit_entropy_image(bw, [elt] * (tw * th), tw, None, False)
            pix = _fwd_color_transform(pix, cur_w, h, g2r, g2b, r2b)
        if predictor is not None:
            if not 0 <= predictor <= 13:
                raise WebpError("predictor mode out of range")
            bw.write(1, 1)
            bw.write(0, 2)                   # PREDICTOR
            bits = 9
            while (1 << bits) < max(w, h):
                raise WebpError("predictor demo limited to 512px")
            bw.write(bits - 2, 3)
            tw = _subsample(cur_w, bits)
            th = _subsample(h, bits)
            _emit_entropy_image(bw, [0xFF000000 | (predictor << 8)]
                                * (tw * th), tw, None, False)
            pix = _fwd_predictor(pix, cur_w, h, predictor)
    bw.write(0, 1)                           # no more transforms
    _emit_entropy_image(bw, pix, cur_w, cache_bits, rle, level0=True)

    body = b"\x2f" + bw.tobytes()
    vp8l = b"VP8L" + struct.pack("<I", len(body)) + body
    if len(body) & 1:
        vp8l += b"\x00"
    riff = b"RIFF" + struct.pack("<I", 4 + len(vp8l)) + b"WEBP" + vp8l
    return riff




# ===================================================== animation (VP8X/ANMF)
# WebP container spec (public): an extended file is RIFF/WEBP with a
# VP8X chunk whose animation flag gates ANIM (global params) and ANMF
# (per-frame) chunks. Each ANMF frame is an INDEPENDENTLY-CODED WebP
# image (VP8 key frame or VP8L) composited onto a shared canvas — no
# inter-frame prediction exists at the container level, so the intra
# decoders above make animation complete. Compositing contract
# (documented, deterministic): the canvas starts fully transparent;
# 'alpha blend' uses exact integer arithmetic with round-half-up at
# each /255 (the spec defines the real-valued formula and leaves
# integer rounding to the implementation); 'dispose to background'
# clears the frame rectangle to transparent.

_ANIM_FLAG = 0x02
_ALPHA_FLAG = 0x10


def _iter_chunks(payload: bytes):
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WEBP":
        raise WebpError("not a RIFF/WEBP container")
    pos = 12
    while pos + 8 <= len(payload):
        tag = payload[pos:pos + 4]
        size = struct.unpack("<I", payload[pos + 4:pos + 8])[0]
        yield tag, payload[pos + 8:pos + 8 + size]
        pos += 8 + size + (size & 1)         # chunks are even-padded


def is_webp_anim(payload: bytes) -> bool:
    """True when the payload is an animated WebP (VP8X anim flag +
    at least the header structure of an ANIM chunk)."""
    try:
        for tag, body in _iter_chunks(bytes(payload)):
            if tag == b"VP8X":
                return len(body) >= 10 and bool(body[0] & _ANIM_FLAG)
            return False                     # VP8X must be first
    except (WebpError, struct.error):
        return False
    return False


def _decode_frame_image(sub: bytes) -> np.ndarray:
    """Decode an ANMF frame's image payload (its sub-chunks) to RGBA.
    Lossy frames ignore a preceding ALPH chunk (alpha = opaque) — the
    documented lossy-alpha containment, matching decode_webp."""
    for tag, body in _chunk_pairs(sub):
        if tag == b"VP8L":
            rgba = _decode_vp8l_body(body)
            break
        if tag == b"VP8 ":
            from .vp8 import Vp8Error, decode_vp8
            try:
                rgba = decode_vp8(body)
            except Vp8Error as e:
                raise WebpError(str(e)) from e
            break
    else:
        raise WebpError("ANMF frame: no VP8/VP8L sub-chunk")
    if rgba.shape[2] == 3:
        rgba = np.concatenate(
            [rgba, np.full(rgba.shape[:2] + (1,), 255, np.uint8)], axis=2)
    return rgba


def _chunk_pairs(sub: bytes):
    pos = 0
    while pos + 8 <= len(sub):
        tag = sub[pos:pos + 4]
        size = struct.unpack("<I", sub[pos + 4:pos + 8])[0]
        yield tag, sub[pos + 8:pos + 8 + size]
        pos += 8 + size + (size & 1)


def _blend_rect(canvas: np.ndarray, frame: np.ndarray, x: int, y: int,
                blend: bool) -> None:
    h, w = frame.shape[:2]
    dst = canvas[y:y + h, x:x + w]
    if not blend:
        dst[:] = frame
        return
    # non-premultiplied 'over', exact integers, round-half-up at /255:
    #   A = As + Ad(255-As)/255 ; C = (Cs·As·255 + Cd·Ad·(255-As)) / (255·A)
    sa = frame[..., 3].astype(np.int64)
    da = dst[..., 3].astype(np.int64)
    da_part = da * (255 - sa)                        # 255-scaled
    a_num = sa * 255 + da_part                       # A·255 (exact)
    out_a = (a_num + 127) // 255
    for c in range(3):
        num = (frame[..., c].astype(np.int64) * sa * 255
               + dst[..., c].astype(np.int64) * da_part)
        den = a_num
        ch = np.zeros_like(num)
        nz = den > 0
        ch[nz] = (num[nz] + den[nz] // 2) // den[nz]
        dst[..., c] = ch.astype(np.uint8)
    dst[..., 3] = out_a.astype(np.uint8)


def decode_webp_anim(payload: bytes):
    """Demux + composite an animated WebP. Returns
    ``(frames, loop_count, bg_rgba)`` where ``frames`` is a list of
    ``(duration_ms, canvas)`` — each canvas the full composited RGBA
    state after that frame renders (what a player shows). Frame
    images decode through the SAME VP8/VP8L intra decoders the still
    path uses (libwebp plane-parity pinned there)."""
    payload = bytes(payload)
    if not is_webp_anim(payload):
        raise WebpError("not an animated WebP (no VP8X anim flag)")
    canvas_w = canvas_h = None
    loop = 0
    bg = (0, 0, 0, 0)
    frames = []
    canvas = None
    pending_dispose = None                   # rect to clear before next
    saw_anim = False
    for tag, body in _iter_chunks(payload):
        if tag == b"VP8X":
            if len(body) < 10 or not body[0] & _ANIM_FLAG:
                raise WebpError("not an animated WebP (no VP8X anim flag)")
            canvas_w = int.from_bytes(body[4:7], "little") + 1
            canvas_h = int.from_bytes(body[7:10], "little") + 1
            canvas = np.zeros((canvas_h, canvas_w, 4), np.uint8)
        elif tag == b"ANIM":
            if len(body) < 6:
                raise WebpError("ANIM chunk too short")
            bg = tuple(body[0:4])            # stored B,G,R,A
            loop = struct.unpack("<H", body[4:6])[0]
            saw_anim = True
        elif tag == b"ANMF":
            if canvas is None or not saw_anim:
                raise WebpError("ANMF before VP8X/ANIM")
            if len(body) < 16:
                raise WebpError("ANMF chunk too short")
            fx = int.from_bytes(body[0:3], "little") * 2
            fy = int.from_bytes(body[3:6], "little") * 2
            fw = int.from_bytes(body[6:9], "little") + 1
            fh = int.from_bytes(body[9:12], "little") + 1
            dur = int.from_bytes(body[12:15], "little")
            flags = body[15]
            no_blend = bool(flags & 0x02)
            dispose_bg = bool(flags & 0x01)
            if fx + fw > canvas_w or fy + fh > canvas_h:
                raise WebpError("ANMF frame exceeds the canvas")
            img = _decode_frame_image(body[16:])
            if img.shape[:2] != (fh, fw):
                raise WebpError(
                    f"ANMF geometry {fw}x{fh} != decoded "
                    f"{img.shape[1]}x{img.shape[0]}")
            if pending_dispose is not None:
                px, py, pw, ph = pending_dispose
                canvas[py:py + ph, px:px + pw] = 0
            _blend_rect(canvas, img, fx, fy, blend=not no_blend)
            frames.append((dur, canvas.copy()))
            pending_dispose = (fx, fy, fw, fh) if dispose_bg else None
    if not frames:
        raise WebpError("animated WebP with no ANMF frames")
    return frames, loop, bg


def encode_webp_anim(frames, canvas_w: int, canvas_h: int,
                     loop: int = 0, bg=(0, 0, 0, 0)) -> bytes:
    """Mux an animated WebP from RGBA frames — each encoded LOSSLESSLY
    (VP8L, exact) so demux→composite round-trips are bit-exact.
    ``frames``: iterable of (rgba_array, x, y, duration_ms, dispose_bg,
    blend) — x/y must be even (the container stores them /2)."""
    if not (1 <= canvas_w <= 1 << 24 and 1 <= canvas_h <= 1 << 24):
        raise WebpError("canvas dimensions out of range")
    chunks = []
    for arr, x, y, dur, dispose_bg, blend in frames:
        if x % 2 or y % 2:
            raise WebpError("ANMF offsets must be even")
        h, w = arr.shape[:2]
        if x + w > canvas_w or y + h > canvas_h:
            raise WebpError("frame exceeds the canvas")
        sub = encode_webp(arr)[12:]          # strip RIFF header: chunks only
        flags = (0x02 if not blend else 0) | (0x01 if dispose_bg else 0)
        head = ((x // 2).to_bytes(3, "little")
                + (y // 2).to_bytes(3, "little")
                + (w - 1).to_bytes(3, "little")
                + (h - 1).to_bytes(3, "little")
                + int(dur).to_bytes(3, "little") + bytes([flags]))
        body = head + sub
        chunk = b"ANMF" + struct.pack("<I", len(body)) + body
        if len(body) & 1:
            chunk += b"\x00"
        chunks.append(chunk)
    vp8x = bytes([_ANIM_FLAG | _ALPHA_FLAG, 0, 0, 0]) \
        + (canvas_w - 1).to_bytes(3, "little") \
        + (canvas_h - 1).to_bytes(3, "little")
    anim = bytes(bg[:4]) + struct.pack("<H", loop)
    payload = (b"WEBP"
               + b"VP8X" + struct.pack("<I", len(vp8x)) + vp8x
               + b"ANIM" + struct.pack("<I", len(anim)) + anim
               + b"".join(chunks))
    return b"RIFF" + struct.pack("<I", len(payload)) + payload
