"""Lossless WebP (VP8L) codec: RIFF container walk + full VP8L
bitstream decode, pure numpy/stdlib, plus the deterministic encoder
twin used by fixtures.

Why this exists: WebP is a major share of modern web images, so it is
the largest ``decode_media`` gate real crawl bytes hit (r12 verdict,
"What's missing #2"). The reference never decodes pixels
(/root/reference/cc2dataset/main.py:166-177) — this is a north-star
decode path, not reference parity. Everything here derives from the
PUBLIC WebP lossless bitstream specification (RFC 9649): LSB-first
bit packing, canonical prefix codes (simple and normal forms with the
code-length code), optional color cache, optional meta prefix image,
LZ77 backrefs with the 120-entry 2D distance map, and the four
transforms (predictor, color, subtract-green, color-indexing with
sub-byte packing), applied inverse in reverse read order.

Scope and honesty:

- Lossless VP8L decodes fully (this module) — still images AND
  animations (:func:`decode_webp_frames`: real ANMF compositing with
  blend/dispose semantics over the ANIM background canvas).
- Lossy VP8 — still or as animation frames (ALPH implies lossy) —
  raises ``NotImplementedError`` LOUDLY; the X7 containment layer
  classifies it ``gated`` in lenient modes, so it is drop-accounted,
  never wrong-answered.
- Pure-Python prefix decoding is a per-image constant inside an
  embarrassingly-parallel Arrow map; production swaps libwebp into
  the same batch function, plan shape unchanged.

The 120-entry distance map is GENERATED from the spec's ordering rule
(all causal offsets with dy in 0..7, dx in -7..8, sorted by squared
euclidean distance, then |dx|, positive dx before negative) rather
than transcribed, and the generated prefix is pinned by hand in the
tests.
"""

from __future__ import annotations

import struct

import numpy as np

# --------------------------------------------------------------------------
# bit IO (LSB-first, per the VP8L spec)
# --------------------------------------------------------------------------


class _BitReader:
    """LSB-first bit reader over bytes; overrun raises ValueError."""

    __slots__ = ("data", "bit")

    def __init__(self, data: bytes, start_bit: int = 0):
        self.data = data
        self.bit = start_bit

    def read_bit(self) -> int:
        i = self.bit
        byte = i >> 3
        if byte >= len(self.data):
            raise ValueError("VP8L bitstream truncated")
        self.bit = i + 1
        return (self.data[byte] >> (i & 7)) & 1

    def read(self, n: int) -> int:
        v = 0
        for k in range(n):
            v |= self.read_bit() << k
        return v


class _BitWriter:
    """LSB-first bit writer (encoder twin)."""

    __slots__ = ("out", "cur", "nbits")

    def __init__(self):
        self.out = bytearray()
        self.cur = 0
        self.nbits = 0

    def write(self, value: int, n: int) -> None:
        for k in range(n):
            self.cur |= ((value >> k) & 1) << self.nbits
            self.nbits += 1
            if self.nbits == 8:
                self.out.append(self.cur)
                self.cur = 0
                self.nbits = 0

    def write_code(self, code: int, length: int) -> None:
        """Prefix-code bits are written MSB-first (spec: codes are
        read starting from the most significant code bit)."""
        for k in range(length - 1, -1, -1):
            self.write((code >> k) & 1, 1)

    def payload(self) -> bytes:
        out = bytes(self.out)
        if self.nbits:
            out += bytes([self.cur])
        return out


# --------------------------------------------------------------------------
# canonical prefix codes
# --------------------------------------------------------------------------

_CL_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16)
_MAX_CODE_LENGTH = 15


class _Prefix:
    """Decodable prefix code: either a 0-bit single symbol or a
    canonical (length, code) -> symbol table walked bit by bit."""

    __slots__ = ("single", "table")

    def __init__(self, single=None, table=None):
        self.single = single
        self.table = table

    def read(self, br: _BitReader) -> int:
        if self.single is not None:
            return self.single
        code = 0
        table = self.table
        for length in range(1, _MAX_CODE_LENGTH + 1):
            code = (code << 1) | br.read_bit()
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid VP8L prefix code bits")


def _canonical(code_lengths) -> _Prefix:
    """Canonical prefix code per the DEFLATE convention the spec
    adopts: codes assigned in (length, symbol) order. Incomplete or
    over-subscribed codes raise (single-symbol codes decode with 0
    bits, mirroring the reference decoder)."""
    nz = [(l, s) for s, l in enumerate(code_lengths) if l]
    if not nz:
        raise ValueError("empty VP8L prefix code")
    if len(nz) == 1:
        return _Prefix(single=nz[0][1])
    max_len = max(l for l, _ in nz)
    if max_len > _MAX_CODE_LENGTH:
        raise ValueError("VP8L code length exceeds 15")
    bl_count = [0] * (max_len + 1)
    for l, _ in nz:
        bl_count[l] += 1
    # Kraft equality: the code must be exactly complete
    kraft = sum(bl_count[l] << (max_len - l) for l in range(1, max_len + 1))
    if kraft != (1 << max_len):
        raise ValueError("VP8L prefix code not complete")
    next_code = [0] * (max_len + 2)
    code = 0
    for l in range(1, max_len + 1):
        code = (code + bl_count[l - 1]) << 1
        next_code[l] = code
    table = {}
    for l, s in sorted(nz):
        table[(l, next_code[l])] = s
        next_code[l] += 1
    return _Prefix(table=table)


def _read_prefix_code(br: _BitReader, alphabet_size: int) -> _Prefix:
    """One prefix code: 'simple' (1 or 2 literal symbols) or 'normal'
    (code lengths themselves prefix-coded via the code-length code
    read in _CL_ORDER, with 16/17/18 repeat ops and the optional
    max_symbol early stop)."""
    if br.read_bit():  # simple code
        num_symbols = br.read_bit() + 1
        if br.read_bit():
            sym0 = br.read(8)
        else:
            sym0 = br.read_bit()
        if sym0 >= alphabet_size:
            raise ValueError("VP8L simple code symbol out of range")
        if num_symbols == 1:
            return _Prefix(single=sym0)
        sym1 = br.read(8)
        if sym1 >= alphabet_size:
            raise ValueError("VP8L simple code symbol out of range")
        # both get 1-bit codes in READ order (not value order)
        return _Prefix(table={(1, 0): sym0, (1, 1): sym1})
    num_cl = 4 + br.read(4)
    cl_lengths = [0] * 19
    for i in range(num_cl):
        cl_lengths[_CL_ORDER[i]] = br.read(3)
    cl_code = _canonical(cl_lengths)
    if br.read_bit():
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet_size
    code_lengths = [0] * alphabet_size
    prev_len = 8
    symbol = 0
    while symbol < alphabet_size:
        if max_symbol == 0:
            break
        max_symbol -= 1
        cl = cl_code.read(br)
        if cl < 16:
            code_lengths[symbol] = cl
            symbol += 1
            if cl:
                prev_len = cl
        else:
            if cl == 16:
                repeat, fill = 3 + br.read(2), prev_len
            elif cl == 17:
                repeat, fill = 3 + br.read(3), 0
            else:
                repeat, fill = 11 + br.read(7), 0
            if symbol + repeat > alphabet_size:
                raise ValueError("VP8L code-length repeat overflows")
            for _ in range(repeat):
                code_lengths[symbol] = fill
                symbol += 1
    return _canonical(code_lengths)


# --------------------------------------------------------------------------
# LZ77 prefix values + distance map
# --------------------------------------------------------------------------


def _lz77_value(br: _BitReader, prefix_code: int) -> int:
    if prefix_code < 4:
        return prefix_code + 1
    extra_bits = (prefix_code - 2) >> 1
    offset = (2 + (prefix_code & 1)) << extra_bits
    return offset + br.read(extra_bits) + 1


def _lz77_code(value: int):
    """(prefix_code, extra_bits, extra_value) for a value >= 1 —
    encoder-side inverse of _lz77_value."""
    if value <= 4:
        return value - 1, 0, 0
    v = value - 1
    extra_bits = v.bit_length() - 2
    offset = (2 + ((v >> extra_bits) & 1)) << extra_bits
    return (
        2 * extra_bits + ((v >> extra_bits) & 1) + 2,
        extra_bits,
        v - offset,
    )


def _build_distance_map():
    """The spec's 120 short-distance 2D offsets, generated from the
    documented ordering: causal offsets (dy 0..7, dx -7..8; dy>0 or
    dx>0) sorted by squared euclidean distance, then |dx|, with
    positive dx before negative."""
    offs = [
        (dx, dy)
        for dy in range(8)
        for dx in range(-7, 9)
        if dy > 0 or dx > 0
    ]
    offs.sort(key=lambda t: (t[0] * t[0] + t[1] * t[1], abs(t[0]), t[0] < 0))
    return tuple(offs)


_DISTANCE_MAP = _build_distance_map()


def _plane_code_to_distance(xsize: int, code: int) -> int:
    if code > 120:
        return code - 120
    dx, dy = _DISTANCE_MAP[code - 1]
    dist = dx + dy * xsize
    return dist if dist >= 1 else 1


# --------------------------------------------------------------------------
# entropy-coded image decode
# --------------------------------------------------------------------------

_CACHE_MULT = 0x1E35A7BD


def _cache_index(argb: int, cache_bits: int) -> int:
    return ((_CACHE_MULT * argb) & 0xFFFFFFFF) >> (32 - cache_bits)


def _read_image_data(br, w, h, allow_meta):
    """color-cache-info, [meta prefix image], prefix groups, then the
    LZ77-coded pixel stream. Returns a list of w*h ARGB ints."""
    cache_bits = 0
    if br.read_bit():
        cache_bits = br.read(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError("VP8L color cache bits out of range")
    meta = None
    meta_bits = 0
    meta_xsize = 0
    num_groups = 1
    if allow_meta and br.read_bit():
        meta_bits = br.read(3) + 2
        meta_xsize = -(-w // (1 << meta_bits))
        meta_ysize = -(-h // (1 << meta_bits))
        meta = _read_image_data(br, meta_xsize, meta_ysize, False)
        num_groups = 1 + max(
            ((px >> 8) & 0xFFFF) for px in meta
        )
    cache_size = (1 << cache_bits) if cache_bits else 0
    groups = []
    for _ in range(num_groups):
        green = _read_prefix_code(br, 256 + 24 + cache_size)
        red = _read_prefix_code(br, 256)
        blue = _read_prefix_code(br, 256)
        alpha = _read_prefix_code(br, 256)
        dist = _read_prefix_code(br, 40)
        groups.append((green, red, blue, alpha, dist))
    n = w * h
    out = [0] * n
    cache = [0] * cache_size if cache_bits else None
    pos = 0
    x = 0
    y = 0

    def emit(px: int) -> None:
        nonlocal pos, x, y
        out[pos] = px
        if cache is not None:
            cache[_cache_index(px, cache_bits)] = px
        pos += 1
        x += 1
        if x == w:
            x = 0
            y += 1

    g_code, r_code, b_code, a_code, d_code = groups[0]
    while pos < n:
        if meta is not None:
            mp = meta[(y >> meta_bits) * meta_xsize + (x >> meta_bits)]
            g_code, r_code, b_code, a_code, d_code = groups[
                (mp >> 8) & 0xFFFF
            ]
        s = g_code.read(br)
        if s < 256:
            red = r_code.read(br)
            blue = b_code.read(br)
            alpha = a_code.read(br)
            emit((alpha << 24) | (red << 16) | (s << 8) | blue)
        elif s < 280:
            length = _lz77_value(br, s - 256)
            dist_code = _lz77_value(br, d_code.read(br))
            dist = _plane_code_to_distance(w, dist_code)
            if dist > pos:
                raise ValueError("VP8L backref before image start")
            if pos + length > n:
                raise ValueError("VP8L backref overruns image")
            for _ in range(length):
                emit(out[pos - dist])
        else:
            if cache is None:
                raise ValueError("VP8L cache symbol without color cache")
            emit(cache[s - 280])
    return out


# --------------------------------------------------------------------------
# inverse transforms (applied in reverse read order)
# --------------------------------------------------------------------------


def _sub_block_dims(size: int, bits: int) -> int:
    return -(-size // (1 << bits))


def _split(px: int):
    return (px >> 24) & 0xFF, (px >> 16) & 0xFF, (px >> 8) & 0xFF, px & 0xFF


def _predict(mode: int, left: int, top: int, tl: int, tr: int) -> int:
    """The 14 spatial predictors (spec §4.2 / the reference decoder's
    Predictor0..13), exact integer semantics including the truncated
    (toward-zero) halving in ClampAddSubtractHalf."""
    if mode == 0:
        return 0xFF000000
    if mode == 1:
        return left
    if mode == 2:
        return top
    if mode == 3:
        return tr
    if mode == 4:
        return tl
    sl, st = _split(left), _split(top)
    if mode == 5:
        str_ = _split(tr)
        inner = tuple((sl[i] + str_[i]) >> 1 for i in range(4))
        return sum(
            (((inner[i] + st[i]) >> 1) << (24 - 8 * i)) for i in range(4)
        )
    stl = _split(tl)
    if mode == 6:
        return sum(
            (((sl[i] + stl[i]) >> 1) << (24 - 8 * i)) for i in range(4)
        )
    if mode == 7:
        return sum(
            (((sl[i] + st[i]) >> 1) << (24 - 8 * i)) for i in range(4)
        )
    if mode == 8:
        return sum(
            (((stl[i] + st[i]) >> 1) << (24 - 8 * i)) for i in range(4)
        )
    if mode == 9:
        str_ = _split(tr)
        return sum(
            (((st[i] + str_[i]) >> 1) << (24 - 8 * i)) for i in range(4)
        )
    if mode == 10:
        str_ = _split(tr)
        a = tuple((sl[i] + stl[i]) >> 1 for i in range(4))
        b = tuple((st[i] + str_[i]) >> 1 for i in range(4))
        return sum((((a[i] + b[i]) >> 1) << (24 - 8 * i)) for i in range(4))
    if mode == 11:
        # Select: Manhattan distance of L and T to the full gradient
        p_l = sum(abs(st[i] - stl[i]) for i in range(4))
        p_t = sum(abs(sl[i] - stl[i]) for i in range(4))
        return left if p_l < p_t else top
    if mode == 12:
        return sum(
            (
                min(255, max(0, sl[i] + st[i] - stl[i]))
                << (24 - 8 * i)
            )
            for i in range(4)
        )
    if mode == 13:
        out = 0
        for i in range(4):
            ave = (sl[i] + st[i]) >> 1
            d = ave - stl[i]
            # C integer division truncates toward zero
            half = d // 2 if d >= 0 else -((-d) // 2)
            out |= min(255, max(0, ave + half)) << (24 - 8 * i)
        return out
    raise ValueError(f"VP8L predictor mode {mode} out of range")


def _add_pixels(residual: int, pred: int) -> int:
    """Per-channel addition mod 256 of packed ARGB values."""
    return (
        (((residual >> 24) + (pred >> 24)) & 0xFF) << 24
        | ((((residual >> 16) & 0xFF) + ((pred >> 16) & 0xFF)) & 0xFF) << 16
        | ((((residual >> 8) & 0xFF) + ((pred >> 8) & 0xFF)) & 0xFF) << 8
        | (((residual & 0xFF) + (pred & 0xFF)) & 0xFF)
    )


def _inverse_predictor(pixels, xs, h, bits, sub):
    sub_xs = _sub_block_dims(xs, bits)
    out = [0] * (xs * h)
    for y in range(h):
        row = y * xs
        sub_row = (y >> bits) * sub_xs
        for x in range(xs):
            pos = row + x
            if y == 0 and x == 0:
                pred = 0xFF000000
            elif y == 0:
                pred = out[pos - 1]
            elif x == 0:
                pred = out[pos - xs]
            else:
                mode = (sub[sub_row + (x >> bits)] >> 8) & 0xFF
                if mode > 13:
                    raise ValueError(
                        f"VP8L predictor mode {mode} out of range"
                    )
                left = out[pos - 1]
                top = out[pos - xs]
                tl = out[pos - xs - 1]
                # rightmost column: TR is the leftmost pixel of the
                # CURRENT row (contiguous-buffer semantics the spec
                # canonizes)
                tr = out[row] if x == xs - 1 else out[pos - xs + 1]
                pred = _predict(mode, left, top, tl, tr)
            out[pos] = _add_pixels(pixels[pos], pred)
    return out


def _s8(v: int) -> int:
    return v - 256 if v >= 128 else v


def _ct_delta(t: int, c: int) -> int:
    """ColorTransformDelta: both args as signed 8-bit, product
    arithmetic-shifted right 5 (exact C semantics)."""
    return (_s8(t & 0xFF) * _s8(c & 0xFF)) >> 5


def _inverse_color_transform(pixels, xs, h, bits, sub):
    sub_xs = _sub_block_dims(xs, bits)
    out = [0] * (xs * h)
    for y in range(h):
        row = y * xs
        sub_row = (y >> bits) * sub_xs
        for x in range(xs):
            px = pixels[row + x]
            cte = sub[sub_row + (x >> bits)]
            g2r = cte & 0xFF  # blue channel of the element pixel
            g2b = (cte >> 8) & 0xFF  # green channel
            r2b = (cte >> 16) & 0xFF  # red channel
            green = (px >> 8) & 0xFF
            red = (((px >> 16) & 0xFF) + _ct_delta(g2r, green)) & 0xFF
            blue = (
                (px & 0xFF) + _ct_delta(g2b, green) + _ct_delta(r2b, red)
            ) & 0xFF
            out[row + x] = (px & 0xFF00FF00) | (red << 16) | blue
    return out


def _inverse_subtract_green(pixels):
    out = [0] * len(pixels)
    for i, px in enumerate(pixels):
        g = (px >> 8) & 0xFF
        r = (((px >> 16) & 0xFF) + g) & 0xFF
        b = ((px & 0xFF) + g) & 0xFF
        out[i] = (px & 0xFF00FF00) | (r << 16) | b
    return out


def _palette_width_bits(n_colors: int) -> int:
    if n_colors <= 2:
        return 3
    if n_colors <= 4:
        return 2
    if n_colors <= 16:
        return 1
    return 0


def _inverse_color_indexing(pixels, packed_xs, h, target_xs, palette):
    wb = _palette_width_bits(len(palette))
    bpp = 8 >> wb
    mask = (1 << bpp) - 1
    out = [0] * (target_xs * h)
    for y in range(h):
        src_row = y * packed_xs
        dst_row = y * target_xs
        for x in range(target_xs):
            src = pixels[src_row + (x >> wb)]
            shift = (x & ((1 << wb) - 1)) * bpp
            idx = ((src >> 8) >> shift) & mask
            if idx >= len(palette):
                raise ValueError("VP8L palette index out of range")
            out[dst_row + x] = palette[idx]
    return out


# --------------------------------------------------------------------------
# VP8L stream decode
# --------------------------------------------------------------------------

_T_PREDICTOR, _T_COLOR, _T_SUBTRACT_GREEN, _T_COLOR_INDEXING = 0, 1, 2, 3


def decode_vp8l(data: bytes):
    """Decode a VP8L chunk payload to (width, height, alpha_hint,
    list of width*height ARGB ints)."""
    if not data or data[0] != 0x2F:
        raise ValueError("bad VP8L signature byte")
    br = _BitReader(data, 8)
    w = br.read(14) + 1
    h = br.read(14) + 1
    alpha_hint = br.read_bit()
    version = br.read(3)
    if version != 0:
        raise ValueError(f"VP8L version {version} unsupported")
    transforms = []
    xsize = w
    seen = set()
    while br.read_bit():
        t = br.read(2)
        if t in seen:
            raise ValueError("duplicate VP8L transform")
        seen.add(t)
        if t in (_T_PREDICTOR, _T_COLOR):
            bits = br.read(3) + 2
            sub = _read_image_data(
                br, _sub_block_dims(xsize, bits), _sub_block_dims(h, bits),
                False,
            )
            transforms.append((t, bits, sub, xsize))
        elif t == _T_SUBTRACT_GREEN:
            transforms.append((t,))
        else:
            n_colors = br.read(8) + 1
            deltas = _read_image_data(br, n_colors, 1, False)
            palette = []
            prev = 0
            for d in deltas:
                prev = _add_pixels(d, prev)
                palette.append(prev)
            transforms.append((t, palette, xsize))
            wb = _palette_width_bits(n_colors)
            xsize = _sub_block_dims(xsize, wb) if wb else xsize
    pixels = _read_image_data(br, xsize, h, True)
    for tr in reversed(transforms):
        if tr[0] == _T_PREDICTOR:
            pixels = _inverse_predictor(pixels, tr[3], h, tr[1], tr[2])
            xsize = tr[3]
        elif tr[0] == _T_COLOR:
            pixels = _inverse_color_transform(pixels, tr[3], h, tr[1], tr[2])
            xsize = tr[3]
        elif tr[0] == _T_SUBTRACT_GREEN:
            pixels = _inverse_subtract_green(pixels)
        else:
            pixels = _inverse_color_indexing(
                pixels, xsize, h, tr[2], tr[1]
            )
            xsize = tr[2]
    if xsize != w:
        raise ValueError("VP8L transform width bookkeeping corrupt")
    return w, h, alpha_hint, pixels


# --------------------------------------------------------------------------
# RIFF container
# --------------------------------------------------------------------------


def _walk_riff_chunks(payload: bytes):
    pos = 12
    while pos + 8 <= len(payload):
        fourcc = payload[pos : pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + size]
        if len(body) < size:
            raise ValueError("WebP chunk truncated")
        yield fourcc, body
        pos += 8 + size + (size & 1)


def decode_webp(payload: bytes):
    """Decode a WebP payload to (width, height, channels, raw bytes):
    RGBA (channels=4) when the VP8L alpha hint is set, RGB otherwise.

    Lossy VP8 and animated WebP (VP8X ANIM flag / ANMF chunks) raise
    NotImplementedError — honestly gated, classified ``gated`` by the
    X7 containment layer; structural damage raises ValueError."""
    if (
        payload is None
        or len(payload) < 12
        or payload[:4] != b"RIFF"
        or payload[8:12] != b"WEBP"
    ):
        raise ValueError("not a WebP payload")
    vp8l_body = None
    for fourcc, body in _walk_riff_chunks(payload):
        if fourcc == b"VP8L":
            vp8l_body = body
            break
        if fourcc == b"VP8 ":
            raise NotImplementedError(
                "lossy VP8 WebP: DCT entropy decode requires the full "
                "VP8 keyframe codec"
            )
        if fourcc in (b"ANIM", b"ANMF"):
            # legitimate animations lead with a VP8X whose ANIM flag
            # routes them to decode_webp_frames before this walk; an
            # ANIM/ANMF chunk HERE means the container violates the
            # spec (no VP8X first, or flag unset) — structural
            # damage, not a gated class (r13 review finding #4)
            raise ValueError(
                "ANIM/ANMF chunk in a non-animated WebP container"
            )
        if fourcc == b"VP8X":
            if len(body) < 10:
                raise ValueError("VP8X chunk truncated")
            if body[0] & 0x02:
                raise NotImplementedError("animated WebP")
            continue  # keep walking for the image chunk
    if vp8l_body is None:
        raise ValueError("WebP has no decodable image chunk")
    w, h, alpha_hint, argb = decode_vp8l(vp8l_body)
    ch = 4 if alpha_hint else 3
    arr = np.array(argb, dtype=np.uint32).reshape(h, w)
    if ch == 4:
        out = np.empty((h, w, 4), dtype=np.uint8)
        out[..., 0] = (arr >> 16) & 0xFF
        out[..., 1] = (arr >> 8) & 0xFF
        out[..., 2] = arr & 0xFF
        out[..., 3] = (arr >> 24) & 0xFF
    else:
        out = np.empty((h, w, 3), dtype=np.uint8)
        out[..., 0] = (arr >> 16) & 0xFF
        out[..., 1] = (arr >> 8) & 0xFF
        out[..., 2] = arr & 0xFF
    return w, h, ch, out.tobytes()


def webp_dims(payload: bytes):
    """(width, height) from the container header walk alone — the
    cheap metadata twin of decode_webp (image_dims-style)."""
    if (
        payload is None
        or len(payload) < 12
        or payload[:4] != b"RIFF"
        or payload[8:12] != b"WEBP"
    ):
        raise ValueError("not a WebP payload")
    for fourcc, body in _walk_riff_chunks(payload):
        if fourcc == b"VP8L":
            if len(body) < 5 or body[0] != 0x2F:
                raise ValueError("bad VP8L signature byte")
            bits = int.from_bytes(body[1:5], "little")
            return (bits & 0x3FFF) + 1, ((bits >> 14) & 0x3FFF) + 1
        if fourcc == b"VP8X":
            if len(body) < 10:
                raise ValueError("VP8X chunk truncated")
            return (
                int.from_bytes(body[4:7], "little") + 1,
                int.from_bytes(body[7:10], "little") + 1,
            )
        if fourcc == b"VP8 ":
            if len(body) < 10:
                raise ValueError("VP8 chunk truncated")
            w, h = struct.unpack("<HH", body[6:10])
            return w & 0x3FFF, h & 0x3FFF
    raise ValueError("WebP has no image chunk")


# --------------------------------------------------------------------------
# encoder twin (fixtures)
# --------------------------------------------------------------------------


def _balanced_lengths(symbols):
    """A complete canonical prefix code over >=2 used symbols: with
    k symbols and L = ceil(log2 k), the first (2^L - k) symbols (in
    value order) get length L-1 and the rest length L — Kraft-exact
    by construction. Compression-optimal codes don't matter for
    fixtures; VALID codes do."""
    k = len(symbols)
    L = max(1, (k - 1).bit_length())
    n_short = (1 << L) - k
    lengths = {}
    for i, s in enumerate(sorted(symbols)):
        lengths[s] = L - 1 if i < n_short else L
    return lengths


def _encoder_codes(lengths_by_symbol):
    """Canonical (code, length) per symbol from a lengths dict."""
    by_len = {}
    for s, l in lengths_by_symbol.items():
        by_len.setdefault(l, []).append(s)
    max_len = max(by_len)
    codes = {}
    code = 0
    for l in range(1, max_len + 1):
        for s in sorted(by_len.get(l, [])):
            codes[s] = (code, l)
            code += 1
        code <<= 1
    return codes


def _write_prefix_code(bw: _BitWriter, used, alphabet_size: int):
    """Emit one prefix code for the used symbol set; returns the
    symbol -> (code, length) map for the data pass.

    Simple codes carry at most 8-bit symbols (the spec's field
    widths), so any used symbol >= 256 — LZ77 length codes (256+)
    and color-cache codes (280+) — forces the normal-code path even
    for 1-2 symbols (r13 review finding: the old writer silently
    truncated such symbols to 8 bits, producing wrong-pixel or
    unparseable streams)."""
    used = sorted(set(used))
    if not used:
        # an unused code still must parse: single symbol 0
        used = [0]
    if used[-1] >= alphabet_size:
        raise ValueError(
            f"prefix-code symbol {used[-1]} outside alphabet "
            f"{alphabet_size}"
        )
    if len(used) <= 2 and used[-1] <= 255:
        if len(used) == 1:
            bw.write(1, 1)  # simple
            bw.write(0, 1)  # one symbol
            s = used[0]
            if s <= 1:
                bw.write(0, 1)
                bw.write(s, 1)
            else:
                bw.write(1, 1)
                bw.write(s, 8)
            return {used[0]: (0, 0)}
        bw.write(1, 1)  # simple
        bw.write(1, 1)  # two symbols
        s0, s1 = used
        if s0 <= 1:
            bw.write(0, 1)
            bw.write(s0, 1)
        else:
            bw.write(1, 1)
            bw.write(s0, 8)
        bw.write(s1, 8)
        return {s0: (0, 1), s1: (1, 1)}
    bw.write(0, 1)  # normal code
    if len(used) == 1:
        # one-symbol canonical code decodes with 0 bits
        lengths = {used[0]: 1}
    elif len(used) == 2:
        lengths = {used[0]: 1, used[1]: 1}
    else:
        lengths = _balanced_lengths(used)
    max_used = max(used)
    # code-length code over the length values we will literally emit
    cl_used = sorted({lengths.get(s, 0) for s in range(max_used + 1)})
    if len(cl_used) == 1:
        # every emitted code length is the same value: a one-symbol
        # code-length code decodes it with 0 bits
        cl_lengths = {cl_used[0]: 1}
        cl_codes = {cl_used[0]: (0, 0)}
    else:
        cl_lengths = _balanced_lengths(cl_used)
        cl_codes = _encoder_codes(cl_lengths)
    num_cl = max(4, max(_CL_ORDER.index(v) for v in cl_used) + 1)
    bw.write(num_cl - 4, 4)
    for i in range(num_cl):
        bw.write(cl_lengths.get(_CL_ORDER[i], 0), 3)
    # max_symbol early stop: emit exactly max_used+1 literal lengths
    n_emit = max_used + 1
    bw.write(1, 1)
    length_nbits = max(2, (n_emit - 2).bit_length())
    length_nbits += length_nbits & 1  # field stores (nbits-2)/2
    bw.write((length_nbits - 2) // 2, 3)
    bw.write(n_emit - 2, length_nbits)
    for s in range(n_emit):
        c, l = cl_codes[lengths.get(s, 0)]
        bw.write_code(c, l)
    if len(used) == 1:
        # the decoder's one-symbol canonical code reads 0 bits
        return {used[0]: (0, 0)}
    return _encoder_codes(lengths)


def _forward_predictor(pixels, xs, h, bits, mode_for_block):
    """Residuals = pixel - predict(...), per channel mod 256, sharing
    _predict with the decoder (fixture-twin protocol: round trips
    prove the decode because both sides use one predictor table)."""
    sub_xs = _sub_block_dims(xs, bits)
    res = [0] * (xs * h)
    for y in range(h):
        row = y * xs
        for x in range(xs):
            pos = row + x
            if y == 0 and x == 0:
                pred = 0xFF000000
            elif y == 0:
                pred = pixels[pos - 1]
            elif x == 0:
                pred = pixels[pos - xs]
            else:
                mode = mode_for_block(x >> bits, y >> bits)
                left = pixels[pos - 1]
                top = pixels[pos - xs]
                tl = pixels[pos - xs - 1]
                tr = pixels[row] if x == xs - 1 else pixels[pos - xs + 1]
                pred = _predict(mode, left, top, tl, tr)
            res[pos] = _sub_pixels(pixels[pos], pred)
    return res, sub_xs


def _sub_pixels(a: int, b: int) -> int:
    return (
        (((a >> 24) - (b >> 24)) & 0xFF) << 24
        | ((((a >> 16) & 0xFF) - ((b >> 16) & 0xFF)) & 0xFF) << 16
        | ((((a >> 8) & 0xFF) - ((b >> 8) & 0xFF)) & 0xFF) << 8
        | (((a & 0xFF) - (b & 0xFF)) & 0xFF)
    )


def _write_image_data(bw, pixels, w, h, cache_bits=0, use_rle=False,
                      is_main=False):
    """Literal (optionally RLE-backref + color-cache) emission of an
    ARGB pixel list as one prefix-code group."""
    bw.write(1 if cache_bits else 0, 1)
    if cache_bits:
        bw.write(cache_bits, 4)
    # token pass: decide symbol stream first so code tables cover it
    cache = [None] * (1 << cache_bits) if cache_bits else None
    tokens = []  # ("lit", px) | ("cache", idx) | ("copy", length)
    i = 0
    n = len(pixels)
    while i < n:
        px = pixels[i]
        if use_rle and i > 0 and px == pixels[i - 1]:
            run = 1
            while i + run < n and pixels[i + run] == px and run < 4096:
                run += 1
            tokens.append(("copy", run))
            if cache is not None:
                cache[_cache_index(px, cache_bits)] = px
            i += run
            continue
        if cache is not None:
            ci = _cache_index(px, cache_bits)
            if cache[ci] == px:
                tokens.append(("cache", ci))
                i += 1
                continue
            cache[ci] = px
        tokens.append(("lit", px))
        i += 1
    greens, reds, blues, alphas, dists = set(), set(), set(), set(), set()
    for kind, v in tokens:
        if kind == "lit":
            greens.add((v >> 8) & 0xFF)
            reds.add((v >> 16) & 0xFF)
            blues.add(v & 0xFF)
            alphas.add((v >> 24) & 0xFF)
        elif kind == "cache":
            greens.add(280 + v)
        else:
            code, _, _ = _lz77_code(v)
            greens.add(256 + code)
            dcode, _, _ = _lz77_code(121)  # direct distance 1 (120+1)
            dists.add(dcode)
    if is_main:
        bw.write(0, 1)  # no meta prefix image (main image only)
    g_codes = _write_prefix_code(bw, greens, 280 + (1 << cache_bits if cache_bits else 0))
    r_codes = _write_prefix_code(bw, reds, 256)
    b_codes = _write_prefix_code(bw, blues, 256)
    a_codes = _write_prefix_code(bw, alphas, 256)
    d_codes = _write_prefix_code(bw, dists, 40)
    for kind, v in tokens:
        if kind == "lit":
            c, l = g_codes[(v >> 8) & 0xFF]
            bw.write_code(c, l)
            c, l = r_codes[(v >> 16) & 0xFF]
            bw.write_code(c, l)
            c, l = b_codes[v & 0xFF]
            bw.write_code(c, l)
            c, l = a_codes[(v >> 24) & 0xFF]
            bw.write_code(c, l)
        elif kind == "cache":
            c, l = g_codes[280 + v]
            bw.write_code(c, l)
        else:
            code, eb, ev = _lz77_code(v)
            c, l = g_codes[256 + code]
            bw.write_code(c, l)
            bw.write(ev, eb)
            dcode, deb, dev = _lz77_code(121)
            c, l = d_codes[dcode]
            bw.write_code(c, l)
            bw.write(dev, deb)


def _write_image_data_meta(bw, pixels, w, h, meta_bits, group_fn):
    """Main-image emission through a META PREFIX IMAGE: pixels in
    block (bx, by) decode through prefix-code group ``group_fn(bx,
    by)``. Literal-only (no cache / LZ77) so the per-pixel group
    selection stays the whole story. Exercises the decoder's
    multi-group path, which single-group emission never touches."""
    bw.write(0, 1)  # no color cache
    bw.write(1, 1)  # meta prefix image present
    bw.write(meta_bits - 2, 3)
    meta_xs = _sub_block_dims(w, meta_bits)
    meta_ys = _sub_block_dims(h, meta_bits)
    groups = sorted(
        {group_fn(bx, by) for by in range(meta_ys) for bx in range(meta_xs)}
    )
    if groups != list(range(len(groups))):
        raise ValueError("group ids must be dense from 0")
    # meta pixel: group id in (red<<8)|green -> green carries ids <256
    meta_px = [
        0xFF000000 | (group_fn(bx, by) << 8)
        for by in range(meta_ys)
        for bx in range(meta_xs)
    ]
    _write_image_data(bw, meta_px, meta_xs, meta_ys)
    # per-group symbol sets
    per_group = {g: ([], [], [], []) for g in groups}
    assignments = []
    for i, px in enumerate(pixels):
        x, y = i % w, i // w
        g = group_fn(x >> meta_bits, y >> meta_bits)
        assignments.append(g)
        gs, rs, bs, as_ = per_group[g]
        gs.append((px >> 8) & 0xFF)
        rs.append((px >> 16) & 0xFF)
        bs.append(px & 0xFF)
        as_.append((px >> 24) & 0xFF)
    codes = {}
    for g in groups:
        gs, rs, bs, as_ = per_group[g]
        codes[g] = (
            _write_prefix_code(bw, set(gs), 280),
            _write_prefix_code(bw, set(rs), 256),
            _write_prefix_code(bw, set(bs), 256),
            _write_prefix_code(bw, set(as_), 256),
            _write_prefix_code(bw, {0}, 40),
        )
    for px, g in zip(pixels, assignments):
        g_codes, r_codes, b_codes, a_codes, _ = codes[g]
        c, l = g_codes[(px >> 8) & 0xFF]
        bw.write_code(c, l)
        c, l = r_codes[(px >> 16) & 0xFF]
        bw.write_code(c, l)
        c, l = b_codes[px & 0xFF]
        bw.write_code(c, l)
        c, l = a_codes[(px >> 24) & 0xFF]
        bw.write_code(c, l)


def _encode_vp8l_stream(
    width: int,
    height: int,
    channels: int,
    raw: bytes,
    *,
    subtract_green: bool = False,
    predictor_bits: int = 0,
    predictor_mode=None,
    color_transform=None,
    use_palette: bool = False,
    cache_bits: int = 0,
    use_rle: bool = False,
    meta_bits: int = 0,
    meta_group_fn=None,
) -> bytes:
    """Deterministic VP8L writer for fixtures (lossless, so the
    formula-oracle protocol applies end to end).

    - ``subtract_green``: apply the subtract-green transform.
    - ``predictor_bits``/``predictor_mode``: spatial prediction with
      block size 2**bits; mode is an int (all blocks) or a callable
      (bx, by) -> mode.
    - ``color_transform``: (bits, (g2r, g2b, r2b)) signed-int tuple
      applied to every block.
    - ``use_palette``: color-indexing transform (packs sub-byte
      indices when <=16 colors).
    - ``cache_bits``/``use_rle``: color-cache symbols and distance-1
      LZ77 run backrefs in the pixel stream.
    """
    if channels not in (3, 4):
        raise ValueError("encode_webp_lossless needs 3 or 4 channels")
    if len(raw) != width * height * channels:
        raise ValueError("raw size mismatch")
    n = width * height
    px = []
    for i in range(n):
        off = i * channels
        r, g, b = raw[off], raw[off + 1], raw[off + 2]
        a = raw[off + 3] if channels == 4 else 0xFF
        px.append((a << 24) | (r << 16) | (g << 8) | b)
    bw = _BitWriter()
    bw.write(0x2F, 8)
    bw.write(width - 1, 14)
    bw.write(height - 1, 14)
    bw.write(1 if channels == 4 else 0, 1)
    bw.write(0, 3)  # version
    xsize = width
    if use_palette:
        palette = sorted(set(px))
        if len(palette) > 256:
            raise ValueError("use_palette needs <=256 distinct colors")
        index_of = {c: i for i, c in enumerate(palette)}
        wb = _palette_width_bits(len(palette))
        bw.write(1, 1)
        bw.write(_T_COLOR_INDEXING, 2)
        bw.write(len(palette) - 1, 8)
        deltas = []
        prev = 0
        for c in palette:
            deltas.append(_sub_pixels(c, prev))
            prev = c
        _write_image_data(bw, deltas, len(palette), 1)
        if wb:
            packed_xs = _sub_block_dims(width, wb)
            bpp = 8 >> wb
            packed = [0] * (packed_xs * height)
            for y in range(height):
                for x in range(width):
                    idx = index_of[px[y * width + x]]
                    pos = y * packed_xs + (x >> wb)
                    shift = (x & ((1 << wb) - 1)) * bpp
                    packed[pos] |= idx << (8 + shift)
            px = [0xFF000000 | v for v in packed]
            xsize = packed_xs
        else:
            px = [0xFF000000 | (index_of[c] << 8) for c in px]
    if color_transform is not None:
        ct_bits, (g2r, g2b, r2b) = color_transform
        bw.write(1, 1)
        bw.write(_T_COLOR, 2)
        bw.write(ct_bits - 2, 3)
        cte = (
            0xFF000000
            | ((r2b & 0xFF) << 16)
            | ((g2b & 0xFF) << 8)
            | (g2r & 0xFF)
        )
        sub_xs = _sub_block_dims(xsize, ct_bits)
        sub_ys = _sub_block_dims(height, ct_bits)
        _write_image_data(bw, [cte] * (sub_xs * sub_ys), sub_xs, sub_ys)
        out = []
        for p in px:
            green = (p >> 8) & 0xFF
            red = (p >> 16) & 0xFF
            blue = p & 0xFF
            new_red = (red - _ct_delta(g2r & 0xFF, green)) & 0xFF
            new_blue = (
                blue
                - _ct_delta(g2b & 0xFF, green)
                - _ct_delta(r2b & 0xFF, red)
            ) & 0xFF
            out.append((p & 0xFF00FF00) | (new_red << 16) | new_blue)
        px = out
    if subtract_green:
        bw.write(1, 1)
        bw.write(_T_SUBTRACT_GREEN, 2)
        out = []
        for p in px:
            g = (p >> 8) & 0xFF
            r = (((p >> 16) & 0xFF) - g) & 0xFF
            b = ((p & 0xFF) - g) & 0xFF
            out.append((p & 0xFF00FF00) | (r << 16) | b)
        px = out
    if predictor_bits:
        mode = predictor_mode if predictor_mode is not None else 2
        mode_fn = mode if callable(mode) else (lambda bx, by: mode)
        bw.write(1, 1)
        bw.write(_T_PREDICTOR, 2)
        bw.write(predictor_bits - 2, 3)
        res, sub_xs = _forward_predictor(
            px, xsize, height, predictor_bits, mode_fn
        )
        sub_ys = _sub_block_dims(height, predictor_bits)
        sub = [
            0xFF000000 | (mode_fn(bx, by) << 8)
            for by in range(sub_ys)
            for bx in range(sub_xs)
        ]
        _write_image_data(bw, sub, sub_xs, sub_ys)
        px = res
    bw.write(0, 1)  # end of transforms
    if meta_bits:
        # meta prefix image: per-block prefix-code groups (mutually
        # exclusive with cache/rle in this writer — literal-only so
        # group selection stays the variable under test)
        if cache_bits or use_rle:
            raise ValueError("meta_bits excludes cache_bits/use_rle")
        group_fn = (
            meta_group_fn
            if meta_group_fn is not None
            else (lambda bx, by: (bx + by) % 2)
        )
        _write_image_data_meta(bw, px, xsize, height, meta_bits, group_fn)
    else:
        _write_image_data(
            bw, px, xsize, height, cache_bits=cache_bits, use_rle=use_rle,
            is_main=True,
        )
    return bw.payload()


def _vp8l_chunk(body: bytes) -> bytes:
    chunk = b"VP8L" + struct.pack("<I", len(body)) + body
    if len(body) & 1:
        chunk += b"\x00"
    return chunk


def encode_webp_lossless(width, height, channels, raw, **opts) -> bytes:
    """RIFF-wrapped single-image VP8L writer — see
    :func:`_encode_vp8l_stream` for the feature options."""
    chunk = _vp8l_chunk(
        _encode_vp8l_stream(width, height, channels, raw, **opts)
    )
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk


# --------------------------------------------------------------------------
# animated WebP (lossless frames) — r13
# --------------------------------------------------------------------------


def webp_is_animated(payload: bytes) -> bool:
    """True when the container is VP8X with the ANIM flag set."""
    if (
        payload is None
        or len(payload) < 12
        or payload[:4] != b"RIFF"
        or payload[8:12] != b"WEBP"
    ):
        raise ValueError("not a WebP payload")
    for fourcc, body in _walk_riff_chunks(payload):
        if fourcc == b"VP8X":
            if len(body) < 10:
                raise ValueError("VP8X chunk truncated")
            return bool(body[0] & 0x02)
        return False  # first chunk decides; still images have no VP8X ANIM
    return False


def _blend_over(canvas, src, top, left):
    """Alpha-composite src (h, w, 4 uint8) OVER the canvas rectangle
    in place — the container spec's non-premultiplied 'over' formula
    realized in exact integer arithmetic (round-half-up on the 255
    scale; degenerates exactly for alpha in {0, 255}, the class the
    oracle fixtures use)."""
    h, w = src.shape[0], src.shape[1]
    region = canvas[top : top + h, left : left + w].astype(np.int64)
    s = src.astype(np.int64)
    sa = s[..., 3:4]
    da = region[..., 3:4]
    ba_num = sa * 255 + da * (255 - sa)  # alpha numerator, /255^2 scale
    out_a = (ba_num + 127) // 255
    num_rgb = s[..., :3] * sa * 255 + region[..., :3] * da * (255 - sa)
    safe = np.maximum(ba_num, 1)
    out_rgb = (num_rgb + safe // 2) // safe
    out_rgb = np.where(ba_num > 0, out_rgb, 0)
    out = np.concatenate([out_rgb, out_a], axis=-1).astype(np.uint8)
    canvas[top : top + h, left : left + w] = out


def decode_webp_frames(payload: bytes):
    """Decode an ANIMATED WebP whose frames are LOSSLESS (VP8L):
    returns (canvas_w, canvas_h, [RGBA canvas bytes after each
    frame]) with real ANMF compositing — frame rectangles at even
    (x, y) offsets, blend method B (0 = alpha-blend over the canvas,
    1 = overwrite), disposal method D (0 = keep, 1 = restore the
    frame rectangle to the ANIM background color). The canvas starts
    at the ANIM background color (the spec's stated default fill).

    Frames carrying lossy VP8 (or a separate ALPH plane, which only
    accompanies lossy frames) raise NotImplementedError — the same
    honest gate as still lossy WebP; structural damage raises
    ValueError."""
    if (
        payload is None
        or len(payload) < 12
        or payload[:4] != b"RIFF"
        or payload[8:12] != b"WEBP"
    ):
        raise ValueError("not a WebP payload")
    canvas = None
    bg = None
    cw = ch = None
    frames_out = []
    saw_vp8x = saw_anim = False
    for fourcc, body in _walk_riff_chunks(payload):
        if fourcc == b"VP8X":
            if len(body) < 10:
                raise ValueError("VP8X chunk truncated")
            if not body[0] & 0x02:
                raise ValueError("WebP has no animation (ANIM flag unset)")
            saw_vp8x = True
            cw = int.from_bytes(body[4:7], "little") + 1
            ch = int.from_bytes(body[7:10], "little") + 1
        elif fourcc == b"ANIM":
            if not saw_vp8x:
                raise ValueError("ANIM chunk before VP8X")
            if len(body) < 6:
                raise ValueError("ANIM chunk truncated")
            # background color is stored [B, G, R, A]
            b_, g_, r_, a_ = body[0], body[1], body[2], body[3]
            bg = np.array([r_, g_, b_, a_], dtype=np.uint8)
            canvas = np.tile(bg, (ch, cw, 1))
            saw_anim = True
        elif fourcc == b"ANMF":
            if not saw_anim:
                raise ValueError("ANMF chunk before ANIM")
            if len(body) < 16:
                raise ValueError("ANMF header truncated")
            fx = int.from_bytes(body[0:3], "little") * 2
            fy = int.from_bytes(body[3:6], "little") * 2
            fw = int.from_bytes(body[6:9], "little") + 1
            fh = int.from_bytes(body[9:12], "little") + 1
            flags = body[15]
            no_blend = bool(flags & 0x02)
            dispose_bg = bool(flags & 0x01)
            if fx + fw > cw or fy + fh > ch:
                raise ValueError(
                    f"ANMF frame rectangle ({fx},{fy},{fw},{fh}) outside "
                    f"the {cw}x{ch} canvas"
                )
            # frame data: sub-chunks (ALPH? + VP8/VP8L)
            sub = body[16:]
            pos = 0
            frame_rgba = None
            while pos + 8 <= len(sub):
                fcc = sub[pos : pos + 4]
                (sz,) = struct.unpack("<I", sub[pos + 4 : pos + 8])
                payload_f = sub[pos + 8 : pos + 8 + sz]
                if len(payload_f) < sz:
                    raise ValueError("ANMF sub-chunk truncated")
                if fcc == b"VP8L":
                    w, h, _hint, argb = decode_vp8l(payload_f)
                    if (w, h) != (fw, fh):
                        raise ValueError(
                            "ANMF frame dims disagree with its VP8L "
                            "bitstream"
                        )
                    arr = np.array(argb, dtype=np.uint32).reshape(h, w)
                    frame_rgba = np.empty((h, w, 4), dtype=np.uint8)
                    frame_rgba[..., 0] = (arr >> 16) & 0xFF
                    frame_rgba[..., 1] = (arr >> 8) & 0xFF
                    frame_rgba[..., 2] = arr & 0xFF
                    frame_rgba[..., 3] = (arr >> 24) & 0xFF
                    break
                if fcc in (b"VP8 ", b"ALPH"):
                    raise NotImplementedError(
                        "animated WebP with lossy (VP8/ALPH) frames"
                    )
                pos += 8 + sz + (sz & 1)
            if frame_rgba is None:
                raise ValueError("ANMF frame has no image chunk")
            if no_blend:
                canvas[fy : fy + fh, fx : fx + fw] = frame_rgba
            else:
                _blend_over(canvas, frame_rgba, fy, fx)
            frames_out.append(canvas.tobytes())
            if dispose_bg:
                canvas[fy : fy + fh, fx : fx + fw] = bg
        elif fourcc in (b"VP8 ",):
            raise NotImplementedError(
                "lossy VP8 WebP: DCT entropy decode requires the full "
                "VP8 keyframe codec"
            )
    if not frames_out:
        raise ValueError("animated WebP has no ANMF frames")
    return cw, ch, frames_out


def encode_webp_animation(
    canvas_w: int,
    canvas_h: int,
    background,
    frames,
) -> bytes:
    """Deterministic animated-WebP writer for fixtures: VP8X (ANIM
    flag) + ANIM (background RGBA, loop 0) + one ANMF per frame, each
    embedding a lossless VP8L bitstream. ``frames`` is a list of
    dicts with keys ``x y w h rgba`` (x/y even, rgba = w*h*4 bytes)
    and optional ``blend`` (default True = alpha-blend), ``dispose``
    (default False), ``duration`` (ms, default 100)."""
    r, g, b, a = background
    chunks = bytearray()
    vp8x = (
        bytes([0x02]) + b"\x00" * 3
        + (canvas_w - 1).to_bytes(3, "little")
        + (canvas_h - 1).to_bytes(3, "little")
    )
    chunks += b"VP8X" + struct.pack("<I", len(vp8x)) + vp8x
    anim = bytes([b, g, r, a]) + struct.pack("<H", 0)
    chunks += b"ANIM" + struct.pack("<I", len(anim)) + anim
    for fr in frames:
        x, y = fr.get("x", 0), fr.get("y", 0)
        fw, fh = fr["w"], fr["h"]
        if x % 2 or y % 2:
            raise ValueError("ANMF frame offsets must be even")
        if x + fw > canvas_w or y + fh > canvas_h:
            raise ValueError("frame rectangle outside canvas")
        rgba = fr["rgba"]
        if len(rgba) != fw * fh * 4:
            raise ValueError("frame rgba size mismatch")
        body = _vp8l_chunk(_encode_vp8l_stream(fw, fh, 4, rgba))
        flags = 0
        if not fr.get("blend", True):
            flags |= 0x02
        if fr.get("dispose", False):
            flags |= 0x01
        hdr = (
            (x // 2).to_bytes(3, "little")
            + (y // 2).to_bytes(3, "little")
            + (fw - 1).to_bytes(3, "little")
            + (fh - 1).to_bytes(3, "little")
            + int(fr.get("duration", 100)).to_bytes(3, "little")
            + bytes([flags])
        )
        anmf = hdr + body
        chunks += b"ANMF" + struct.pack("<I", len(anmf)) + anmf
        if len(anmf) & 1:
            chunks += b"\x00"
    return (
        b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WEBP"
        + bytes(chunks)
    )


# --------------------------------------------------------------------------
# EXIF orientation in the WebP container — r13
# --------------------------------------------------------------------------


def webp_orientation(payload: bytes) -> int:
    """EXIF orientation (TIFF tag 0x0112) from the container's EXIF
    chunk (VP8X extended files may carry one after the image data).
    Returns 1 when no EXIF chunk or no orientation tag is present;
    a present but malformed TIFF structure raises ValueError (the
    X7 layer classifies it 'corrupt'). Accepts the chunk payload
    with or without the JPEG-style "Exif\\0\\0" prefix — both occur
    in the wild."""
    from cc2dataset_spark.operators.jpeg import (
        _exif_orientation_from_tiff,
    )

    if (
        payload is None
        or len(payload) < 12
        or payload[:4] != b"RIFF"
        or payload[8:12] != b"WEBP"
    ):
        raise ValueError("not a WebP payload")
    for fourcc, body in _walk_riff_chunks(payload):
        if fourcc == b"EXIF":
            t = body[6:] if body[:6] == b"Exif\x00\x00" else body
            return _exif_orientation_from_tiff(t)
    return 1


def add_webp_exif_orientation(
    payload: bytes, orientation: int, byte_order: str = "II"
) -> bytes:
    """Fixture helper: rewrap a still VP8L WebP in a VP8X extended
    container (EXIF flag set) carrying an EXIF chunk with tag
    0x0112."""
    from cc2dataset_spark.operators.jpeg import exif_tiff_blob

    w, h = webp_dims(payload)
    image_chunks = payload[12:]
    vp8x = (
        bytes([0x08]) + b"\x00" * 3  # EXIF flag
        + (w - 1).to_bytes(3, "little")
        + (h - 1).to_bytes(3, "little")
    )
    exif = exif_tiff_blob(orientation, byte_order)
    chunks = (
        b"VP8X" + struct.pack("<I", len(vp8x)) + vp8x
        + image_chunks
        + b"EXIF" + struct.pack("<I", len(exif)) + exif
    )
    if len(exif) & 1:
        chunks += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WEBP" + chunks
