"""Native WebP **lossless** (VP8L) codec — no external libraries.

``decode_webp`` implements the public VP8L bitstream (RFC 9649 /
"WebP Lossless Bitstream Specification"): RIFF/VP8X container walk,
LSB-first bit reading, canonical prefix codes (simple and normal forms,
code-length-coded with 16/17/18 repeats), optional meta-prefix image,
color cache, LZ77 backward references with the 120-entry 2D distance
map, and all four transforms (predictor with its 14 modes, cross-color,
subtract-green, color-indexing with sub-byte packing).  Lossy ``VP8 ``
chunks dispatch to the key-frame decoder in ``media_vp8.py``.

The decoder is pinned by encoder output committed as test fixtures
(``tests/fixtures/media/``, with a manifest of hashes and the encoder
call behind each payload), like the JPEG, FLAC and VP8 decoders.

Scale posture: identical to every codec in ``media.py`` — payloads are
opaque bytes decoded per Arrow batch inside ``mapInPandas``; nothing
here touches the driver.  Reference parity note: the reference repo has
no media pipeline at all; this module exists for the training-data
extension (SURVEY.md §2 media rows).
"""

from __future__ import annotations

import struct

import numpy as np

# Code-length code symbol order (RFC 9649 §4.2.1.1).
_CL_ORDER = [17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15]

#: 2D offsets for LZ77 distance codes 1..120 (RFC 9649 §4.2.2.2):
#: every (dx, dy) with dy in 0..7, dx in -7..8 strictly "behind" the
#: current pixel, ordered by squared distance, then dy descending,
#: then dx descending (positive before negative) — the generated list
#: reproduces the spec's table exactly.
_DIST_MAP: list[tuple[int, int]] = sorted(
    (
        (dx, dy)
        for dy in range(8)
        for dx in range(-7, 9)
        if dy > 0 or dx > 0
    ),
    key=lambda p: (p[0] * p[0] + p[1] * p[1], -p[1], -p[0]),
)

_HASH_MUL = 0x1E35A7BD  # color-cache hash multiplier (RFC 9649 §4.2.3)


# ---------------------------------------------------------------------------
# LSB-first bit I/O
# ---------------------------------------------------------------------------

class _LsbReader:
    """VP8L bit reader: bytes are consumed LSB-first; prefix-code bits
    are read one at a time (MSB of the canonical code arrives first)."""

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.byte = pos
        self.bit = 0

    def read(self, n: int) -> int:
        v = 0
        for i in range(n):
            if self.byte >= len(self.data):
                raise ValueError("truncated VP8L stream")
            v |= ((self.data[self.byte] >> self.bit) & 1) << i
            self.bit += 1
            if self.bit == 8:
                self.bit = 0
                self.byte += 1
        return v


# ---------------------------------------------------------------------------
# Canonical prefix codes
# ---------------------------------------------------------------------------

def _canonical_codes(lengths: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length), deflate-style canonical assignment
    (sorted by (length, symbol), codes increment, left-shift on length
    increase)."""
    pairs = sorted((l, s) for s, l in enumerate(lengths) if l > 0)
    out: dict[int, tuple[int, int]] = {}
    code = 0
    cur = 0
    for l, s in pairs:
        code <<= l - cur
        cur = l
        out[s] = (code, l)
        code += 1
    return out


class _PrefixCode:
    """Decoder-side prefix code: walk one bit at a time."""

    def __init__(self, lengths: list[int]):
        nz = [(s, l) for s, l in enumerate(lengths) if l > 0]
        if not nz:
            raise ValueError("empty prefix code")
        if len(nz) == 1:
            self.single: int | None = nz[0][0]
            self.table: dict[tuple[int, int], int] = {}
            return
        maxlen = max(l for _, l in nz)
        if sum(1 << (maxlen - l) for _, l in nz) != (1 << maxlen):
            raise ValueError("incomplete prefix code")
        self.single = None
        self.table = {
            (l, code): s
            for s, (code, l) in _canonical_codes(lengths).items()
        }

    def decode(self, br: _LsbReader) -> int:
        if self.single is not None:
            return self.single
        acc = 0
        for depth in range(1, 16):
            acc = (acc << 1) | br.read(1)
            sym = self.table.get((depth, acc))
            if sym is not None:
                return sym
        raise ValueError("prefix code desync")


def _read_prefix_code(br: _LsbReader, alphabet_size: int) -> _PrefixCode:
    """One prefix code: simple form (1-2 symbols) or normal form
    (code-length-coded lengths with 16/17/18 repeats, RFC 9649
    §4.2.1)."""
    if br.read(1):  # simple
        num_symbols = br.read(1) + 1
        first_8bit = br.read(1)
        lengths = [0] * alphabet_size
        s0 = br.read(8 if first_8bit else 1)
        if s0 >= alphabet_size:
            raise ValueError("simple-code symbol out of range")
        pc = _PrefixCode.__new__(_PrefixCode)
        if num_symbols == 2:
            s1 = br.read(8)
            if s1 >= alphabet_size or s1 == s0:
                raise ValueError("simple-code symbol invalid")
            # stream order assigns the codes: first symbol reads as 0
            pc.single = None
            pc.table = {(1, 0): s0, (1, 1): s1}
        else:
            pc.single = s0
            pc.table = {}
        return pc
    num_cl = 4 + br.read(4)
    cl_lengths = [0] * 19
    for i in range(num_cl):
        cl_lengths[_CL_ORDER[i]] = br.read(3)
    cl_code = _PrefixCode(cl_lengths)
    if br.read(1):  # explicit symbol-count cap
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet_size
    lengths = [0] * alphabet_size
    symbol = 0
    prev_len = 8
    while symbol < alphabet_size:
        if max_symbol == 0:
            break
        max_symbol -= 1
        s = cl_code.decode(br)
        if s < 16:
            lengths[symbol] = s
            symbol += 1
            if s:
                prev_len = s
        elif s == 16:
            rep = 3 + br.read(2)
            for _ in range(rep):
                if symbol < alphabet_size:
                    lengths[symbol] = prev_len
                    symbol += 1
        elif s == 17:
            symbol += 3 + br.read(3)
        else:
            symbol += 11 + br.read(7)
    return _PrefixCode(lengths)


def _prefix_value(br: _LsbReader, code: int) -> int:
    """LZ77 length/distance prefix decode (RFC 9649 §4.2.2.1)."""
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + br.read(extra) + 1


# ---------------------------------------------------------------------------
# Decoder
# ---------------------------------------------------------------------------

def _decode_image_stream(
    br: _LsbReader, w: int, h: int, level0: bool
) -> np.ndarray:
    """Entropy-coded ARGB image (RFC 9649 §5); returns int32 (h*w, 4)
    in [a, r, g, b] order.  ``level0`` streams carry transforms and may
    carry a meta-prefix image; sub-resolution streams carry neither."""
    transforms: list[tuple[int, object]] = []
    xsize = w
    if level0:
        while br.read(1):
            ttype = br.read(2)
            if any(t == ttype for t, _ in transforms):
                raise ValueError("duplicate VP8L transform")
            if ttype == 0 or ttype == 1:  # predictor / cross-color
                bits = br.read(3) + 2
                sw = (xsize + (1 << bits) - 1) >> bits
                sh = (h + (1 << bits) - 1) >> bits
                sub = _decode_image_stream(br, sw, sh, False)
                transforms.append((ttype, (bits, sw, sub)))
            elif ttype == 2:  # subtract green
                transforms.append((2, None))
            else:  # color indexing
                psize = br.read(8) + 1
                praw = _decode_image_stream(br, psize, 1, False)
                pal = np.cumsum(praw, axis=0, dtype=np.int64) & 0xFF
                if psize <= 2:
                    pbits = 3
                elif psize <= 4:
                    pbits = 2
                elif psize <= 16:
                    pbits = 1
                else:
                    pbits = 0
                transforms.append((3, (pal.astype(np.int32), pbits, xsize)))
                xsize = (xsize + (1 << pbits) - 1) >> pbits
    cache_bits = br.read(4) if br.read(1) else 0
    if cache_bits > 11:
        raise ValueError("invalid color-cache size")
    cache_size = (1 << cache_bits) if cache_bits else 0
    meta = None
    meta_bits = 0
    num_groups = 1
    if level0 and br.read(1):  # meta-prefix image
        meta_bits = br.read(3) + 2
        mw = (xsize + (1 << meta_bits) - 1) >> meta_bits
        mh = (h + (1 << meta_bits) - 1) >> meta_bits
        mimg = _decode_image_stream(br, mw, mh, False)
        meta = ((mimg[:, 1].astype(np.int64) << 8) | mimg[:, 2]).reshape(
            mh, mw
        )
        num_groups = int(meta.max()) + 1
    green_size = 256 + 24 + cache_size
    groups = []
    for _ in range(num_groups):
        groups.append(
            (
                _read_prefix_code(br, green_size),
                _read_prefix_code(br, 256),
                _read_prefix_code(br, 256),
                _read_prefix_code(br, 256),
                _read_prefix_code(br, 40),
            )
        )
    n = xsize * h
    px = np.zeros((n, 4), dtype=np.int32)
    cache = [0] * cache_size
    shift = 32 - cache_bits if cache_bits else 0

    def cache_insert(argb: int) -> None:
        cache[((_HASH_MUL * argb) & 0xFFFFFFFF) >> shift] = argb

    pos = 0
    gcode, rcode, bcode, acode, dcode = groups[0]
    while pos < n:
        if meta is not None:
            x = pos % xsize
            y = pos // xsize
            gi = int(meta[y >> meta_bits, x >> meta_bits])
            gcode, rcode, bcode, acode, dcode = groups[gi]
        s = gcode.decode(br)
        if s < 256:
            g = s
            r = rcode.decode(br)
            b = bcode.decode(br)
            a = acode.decode(br)
            px[pos] = (a, r, g, b)
            if cache_bits:
                cache_insert((a << 24) | (r << 16) | (g << 8) | b)
            pos += 1
        elif s < 280:
            length = _prefix_value(br, s - 256)
            dist_code = _prefix_value(br, dcode.decode(br))
            if dist_code > 120:
                dist = dist_code - 120
            else:
                dx, dy = _DIST_MAP[dist_code - 1]
                dist = max(dy * xsize + dx, 1)
            if dist > pos or pos + length > n:
                raise ValueError("LZ77 reference out of range")
            for _ in range(length):
                px[pos] = px[pos - dist]
                if cache_bits:
                    a, r, g, b = (int(v) for v in px[pos])
                    cache_insert((a << 24) | (r << 16) | (g << 8) | b)
                pos += 1
        else:
            if s - 280 >= cache_size:
                raise ValueError("color-cache index out of range")
            argb = cache[s - 280]
            px[pos] = (
                (argb >> 24) & 0xFF,
                (argb >> 16) & 0xFF,
                (argb >> 8) & 0xFF,
                argb & 0xFF,
            )
            cache_insert(argb)
            pos += 1
    # inverse transforms, reverse of reading order (RFC 9649 §4)
    for ttype, data in reversed(transforms):
        if ttype == 3:
            pal, pbits, full_w = data
            img = px.reshape(h, xsize, 4)
            if pbits:
                per = 1 << pbits
                bits = 8 >> pbits
                mask = (1 << bits) - 1
                idx = np.zeros((h, xsize * per), dtype=np.int32)
                for i in range(per):  # LSB-first sub-byte packing
                    idx[:, i::per] = (img[:, :, 2] >> (i * bits)) & mask
                idx = idx[:, :full_w]
            else:
                idx = img[:, :, 2]
            if int(idx.max(initial=0)) >= len(pal):
                raise ValueError("palette index out of range")
            px = pal[idx.reshape(-1)]
            xsize = full_w
        elif ttype == 2:
            px[:, 1] = (px[:, 1] + px[:, 2]) & 0xFF
            px[:, 3] = (px[:, 3] + px[:, 2]) & 0xFF
        elif ttype == 1:
            bits, sw, sub = data
            img = px.reshape(h, xsize, 4)
            by = np.arange(h) >> bits
            bx = np.arange(xsize) >> bits
            cte = sub.reshape(-1, sw, 4)[by][:, bx]  # (h, w, 4)
            g2r = cte[:, :, 3].astype(np.int8).astype(np.int32)
            g2b = cte[:, :, 2].astype(np.int8).astype(np.int32)
            r2b = cte[:, :, 1].astype(np.int8).astype(np.int32)
            green = img[:, :, 2].astype(np.int8).astype(np.int32)
            red = (img[:, :, 1] + ((g2r * green) >> 5)) & 0xFF
            reds = red.astype(np.int8).astype(np.int32)
            blue = (
                img[:, :, 3] + ((g2b * green) >> 5) + ((r2b * reds) >> 5)
            ) & 0xFF
            img[:, :, 1] = red
            img[:, :, 3] = blue
            px = img.reshape(-1, 4)
        else:  # predictor
            bits, sw, sub = data
            modes = sub[:, 2].reshape(-1, sw)
            px = _inverse_predictor(px, xsize, h, modes, bits)
    return px


def _avg2(a: tuple, b: tuple) -> tuple:
    return tuple((x + y) >> 1 for x, y in zip(a, b))


def _inverse_predictor(
    px: np.ndarray, w: int, h: int, modes: np.ndarray, bits: int
) -> np.ndarray:
    """Sequential predictor inversion (RFC 9649 §4.2): residual + pred
    mod 256 per channel; linear addressing makes the rightmost column's
    top-right neighbor wrap to the current row's first pixel."""
    out = px.copy()

    def at(i: int) -> tuple:
        return tuple(int(v) for v in out[i])

    for pos in range(w * h):
        x = pos % w
        y = pos // w
        if pos == 0:
            pred = (255, 0, 0, 0)
        elif y == 0:
            pred = at(pos - 1)
        elif x == 0:
            pred = at(pos - w)
        else:
            mode = int(modes[y >> bits, x >> bits])
            left = at(pos - 1)
            top = at(pos - w)
            tl = at(pos - w - 1)
            tr = at(pos - w + 1)  # wraps to row start at x == w-1
            if mode == 0:
                pred = (255, 0, 0, 0)
            elif mode == 1:
                pred = left
            elif mode == 2:
                pred = top
            elif mode == 3:
                pred = tr
            elif mode == 4:
                pred = tl
            elif mode == 5:
                pred = _avg2(_avg2(left, tr), top)
            elif mode == 6:
                pred = _avg2(left, tl)
            elif mode == 7:
                pred = _avg2(left, top)
            elif mode == 8:
                pred = _avg2(tl, top)
            elif mode == 9:
                pred = _avg2(top, tr)
            elif mode == 10:
                pred = _avg2(_avg2(left, tl), _avg2(top, tr))
            elif mode == 11:
                dl = sum(abs(l - c) for l, c in zip(left, tl))
                dt = sum(abs(t - c) for t, c in zip(top, tl))
                pred = top if dl <= dt else left
            elif mode == 12:
                pred = tuple(
                    min(255, max(0, l + t - c))
                    for l, t, c in zip(left, top, tl)
                )
            elif mode == 13:
                ave = _avg2(left, top)
                pred = tuple(
                    min(255, max(0, a + _trunc_half(a - c)))
                    for a, c in zip(ave, tl)
                )
            else:
                raise ValueError(f"invalid predictor mode {mode}")
        out[pos] = [(int(r) + p) & 0xFF for r, p in zip(out[pos], pred)]
    return out


def _trunc_half(t: int) -> int:
    """C-style (truncate toward zero) division by 2."""
    return t // 2 if t >= 0 else -((-t) // 2)


def decode_webp(payload: bytes) -> np.ndarray:
    """Decode a lossless WebP (VP8L) to an (h, w, 3|4) float32 array —
    RGBA when the stream's alpha-hint bit is set, RGB otherwise.  The
    VP8X extended container is walked to find the VP8L chunk; lossy
    ``VP8 `` streams raise the plug-point error (``strict_codec``
    convention: that path needs a real codec library)."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WEBP":
        raise ValueError("not a WebP payload")
    i = 12
    vp8l = None
    while i + 8 <= len(payload):
        tag = payload[i : i + 4]
        (size,) = struct.unpack("<I", payload[i + 4 : i + 8])
        body = payload[i + 8 : i + 8 + size]
        if tag == b"VP8L":
            vp8l = body
            break
        if tag == b"VP8 ":
            from conte_to_fresco_etl_spark.operators.media_vp8 import (
                decode_vp8,
            )

            return decode_vp8(body)
        i += 8 + size + (size & 1)
    if vp8l is None:
        raise ValueError("WebP container has no VP8L chunk")
    if not vp8l or vp8l[0] != 0x2F:
        raise ValueError("bad VP8L signature")
    br = _LsbReader(vp8l, 1)
    w = br.read(14) + 1
    h = br.read(14) + 1
    alpha_used = br.read(1)
    if br.read(3) != 0:
        raise ValueError("unsupported VP8L version")
    px = _decode_image_stream(br, w, h, True)
    img = px.reshape(h, w, 4).astype(np.float32)
    if alpha_used:
        return img[:, :, [1, 2, 3, 0]]  # ARGB -> RGBA
    return img[:, :, [1, 2, 3]]
