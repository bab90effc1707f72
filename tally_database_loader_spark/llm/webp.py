"""WebP lossless (VP8L) decoder, stdlib-only — no libwebp/libvips.

Round 6 shrinks the multimodal stub once more: "WebP needs libvips" is
true for LOSSY WebP (VP8 intra prediction + the boolean arithmetic
coder) but overstated for the LOSSLESS profile, which is canonical
prefix codes + LZ77 + a color cache + four integer spatial transforms —
the same math class as the PNG/GIF/JPEG decoders this repo already
carries. Lossless WebP is the common wrapper for UI assets and
screenshots in crawl corpora, so rejecting it was a curation bias of
the same kind as progressive JPEG (review r5 #4).

Profile — the full VP8L still-image bitstream:

- RIFF container walk (``VP8X`` extended headers skipped, ``VP8L``
  payload decoded); LOSSY ``VP8 ``/``ALPH`` chunks reject loudly with
  the codec named.
- Prefix codes: simple (1/2-symbol) and full code-length-coded forms,
  the 19-symbol code-length code with 16/17/18 repeats and the
  max_symbol short-circuit, canonical DEFLATE-style assignment,
  single-node zero-bit trees; INCOMPLETE trees reject (never a
  plausible misparse).
- LZ77 backward references with the 120-entry 2D distance
  neighborhood map + plain distances, prefix-coded lengths/distances
  with extra bits.
- Color cache (hash 0x1e35a7bd, 1..11 bits), inserted on literals and
  copies, exactly libwebp's insertion discipline.
- Meta prefix codes (entropy image selecting per-block tree groups).
- All four transforms, inverted in reverse order: PREDICTOR (all 14
  modes, libwebp edge rules: top-right of the last column is the
  current row's first pixel), COLOR (int8 ``(t*c) >> 5`` cross-channel
  deltas), SUBTRACT_GREEN, COLOR_INDEXING (delta-coded palette,
  pixel bundling at ≤16 colors with the packed-width change).

Correctness evidence (tests/test_webp.py): an INDEPENDENT spec-side
encoder — its own canonical-prefix builder, forward transforms,
cache/LZ77 emission — round-trips seeded random images through every
feature to EXACT pixels; malformed streams (truncations, incomplete
trees, palette overruns, oversized dims) reject loudly; the mutation
fuzz harness includes a VP8L payload.

Decode record matches the PNG/GIF/JPEG shape: format "webp", dims,
channels (4 when any alpha < 255 else 3), per-channel RGB means, plus
the (h, w, 3) RGB ``pixels`` raster for the shared resize path.

Throughput note: correctness-first Python entropy loop, like the other
reference decoders — partition-parallel inside ``mapInPandas``.
"""

from __future__ import annotations

import struct

import numpy as np

MAX_PIXELS = 1 << 26

# 2D neighborhood for distance codes 1..120 (spec 4.2.2), derived from
# the canonical 8x16 plane layout (libwebp's plane_to_code_lut): cell
# i = dy*16 + (8 - dx) holds the code for offset (dx, dy), so
# dist = dy*xsize + dx = (i >> 4)*xsize + 8 - (i & 15). The layout is
# structurally self-checking: exactly 120 valid cells forming a
# permutation of the codes 0..119 (asserted below), dy=0 rows only for
# dx > 0 — a transcription slip cannot survive the permutation check.
_PLANE_LUT = (
    96, 73, 55, 39, 23, 13, 5, 1, 255, 255, 255, 255, 255, 255, 255, 255,
    101, 78, 58, 42, 26, 16, 8, 2, 0, 3, 9, 17, 27, 43, 59, 79,
    102, 86, 62, 46, 32, 20, 10, 6, 4, 7, 11, 21, 33, 47, 63, 87,
    105, 90, 70, 52, 37, 28, 18, 14, 12, 15, 19, 29, 38, 53, 71, 91,
    110, 99, 82, 66, 48, 35, 30, 24, 22, 25, 31, 36, 49, 67, 83, 100,
    115, 108, 94, 76, 64, 50, 44, 40, 34, 41, 45, 51, 65, 77, 95, 109,
    118, 113, 103, 92, 80, 68, 60, 56, 54, 57, 61, 69, 81, 93, 104, 114,
    119, 116, 111, 106, 97, 88, 84, 74, 72, 75, 85, 89, 98, 107, 112, 117)
_DIST_MAP = [None] * 120
for _i, _c in enumerate(_PLANE_LUT):
    if _c != 255:
        _DIST_MAP[_c] = (8 - (_i & 15), _i >> 4)
assert all(p is not None for p in _DIST_MAP) and len(_DIST_MAP) == 120
assert all(dx > 0 for dx, dy in _DIST_MAP if dy == 0)
_DIST_MAP = tuple(_DIST_MAP)

_CL_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13,
             14, 15)


class _Bits:
    """LSB-first bit reader over the VP8L payload."""

    def __init__(self, data: bytes):
        self.d = data
        self.pos = 0
        self.end = len(data) * 8

    def read(self, n: int) -> int:
        if self.pos + n > self.end:
            raise ValueError("VP8L bitstream truncated")
        v = 0
        for i in range(n):
            v |= ((self.d[self.pos >> 3] >> (self.pos & 7)) & 1) << i
            self.pos += 1
        return v


class _Tree:
    """Canonical prefix-code decoder built from code lengths (DEFLATE
    assignment: within a length, codes in increasing symbol order;
    symbols read MSB-first). A single-symbol tree consumes zero bits.
    Incomplete or oversubscribed trees reject."""

    def __init__(self, lengths: list[int]):
        nz = [(ln, sym) for sym, ln in enumerate(lengths) if ln > 0]
        if not nz:
            raise ValueError("VP8L prefix code with no symbols")
        if len(nz) == 1:
            self.single = nz[0][1]
            self.lookup = {}
            return
        self.single = None
        max_len = max(ln for ln, _ in nz)
        if max_len > 15:
            raise ValueError("VP8L code length > 15")
        # kraft: complete code required
        if sum(1 << (max_len - ln) for ln, _ in nz) != (1 << max_len):
            raise ValueError("VP8L incomplete/oversubscribed prefix code")
        counts = [0] * (max_len + 1)
        for ln, _ in nz:
            counts[ln] += 1
        next_code = [0] * (max_len + 1)
        code = 0
        for ln in range(1, max_len + 1):
            code = (code + counts[ln - 1]) << 1
            next_code[ln] = code
        self.lookup = {}
        for ln, sym in sorted(nz, key=lambda t: (t[0], t[1])):
            self.lookup[(ln, next_code[ln])] = sym
            next_code[ln] += 1

    def decode(self, br: _Bits) -> int:
        if self.single is not None:
            return self.single
        code = 0
        for ln in range(1, 16):
            code = (code << 1) | br.read(1)
            sym = self.lookup.get((ln, code))
            if sym is not None:
                return sym
        raise ValueError("invalid VP8L prefix code in stream")


def _simple_tree(br: _Bits) -> _Tree:
    num_symbols = br.read(1) + 1
    first_8bit = br.read(1)
    s0 = br.read(8 if first_8bit else 1)
    if num_symbols == 2:
        s1 = br.read(8)
        if s0 == s1:
            raise ValueError("VP8L simple code repeats a symbol")
        t = _Tree.__new__(_Tree)
        t.single = None
        # CANONICAL assignment, not stream order: libwebp feeds the two
        # unit code lengths through the same canonical table builder as
        # the full form, so the SMALLER symbol value always takes code 0
        # regardless of which was written first (review r6: stream-order
        # mapping silently swapped the two symbols for every conforming
        # stream that lists the larger one first)
        t.lookup = {(1, 0): min(s0, s1), (1, 1): max(s0, s1)}
        return t
    t = _Tree.__new__(_Tree)
    t.single = s0
    t.lookup = {}
    return t


def _read_tree(br: _Bits, alphabet: int) -> _Tree:
    if br.read(1):
        return _simple_tree(br)
    num_codes = br.read(4) + 4
    cl_lengths = [0] * 19
    for i in range(num_codes):
        cl_lengths[_CL_ORDER[i]] = br.read(3)
    cl_tree = _Tree(cl_lengths)
    if br.read(1):                      # explicit max_symbol
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
        if max_symbol > alphabet:
            raise ValueError("VP8L max_symbol exceeds alphabet")
    else:
        max_symbol = alphabet
    lengths = [0] * alphabet
    symbol, prev_len = 0, 8
    while symbol < alphabet and max_symbol > 0:
        max_symbol -= 1
        code = cl_tree.decode(br)
        if code < 16:
            lengths[symbol] = code
            symbol += 1
            if code:
                prev_len = code
        else:
            if code == 16:
                repeat, fill = 3 + br.read(2), prev_len
            elif code == 17:
                repeat, fill = 3 + br.read(3), 0
            else:
                repeat, fill = 11 + br.read(7), 0
            if symbol + repeat > alphabet:
                # libwebp rejects runs past the alphabet end; silently
                # clamping could turn a malformed stream into a
                # complete-looking tree (review r6)
                raise ValueError("VP8L code-length repeat overruns "
                                 "the alphabet")
            while repeat > 0:
                lengths[symbol] = fill
                symbol += 1
                repeat -= 1
    return _Tree(lengths)


def _prefix_value(code: int, br: _Bits) -> int:
    """Length/distance prefix decoding (spec 4.2.1)."""
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + br.read(extra) + 1


def _cache_hash(argb: int, bits: int) -> int:
    return ((0x1E35A7BD * argb) & 0xFFFFFFFF) >> (32 - bits)


class _TreeGroup:
    __slots__ = ("g", "r", "b", "a", "d")

    def __init__(self, br: _Bits, cache_bits: int):
        self.g = _read_tree(br, 256 + 24 + (1 << cache_bits if cache_bits
                                            else 0))
        self.r = _read_tree(br, 256)
        self.b = _read_tree(br, 256)
        self.a = _read_tree(br, 256)
        self.d = _read_tree(br, 40)


def _decode_image(br: _Bits, w: int, h: int, is_main: bool) -> list[int]:
    """One VP8L image stream → flat ARGB int list (len w*h). Sub-images
    (transform data, entropy image, palette) use is_main=False: no
    transforms, no meta prefix codes."""
    transforms: list[tuple] = []
    data_w = w
    if is_main:
        seen = set()
        while br.read(1):
            ttype = br.read(2)
            if ttype in seen:
                raise ValueError("VP8L transform repeated")
            seen.add(ttype)
            if ttype == 0 or ttype == 1:      # predictor / color
                size_bits = br.read(3) + 2
                bw = -(-data_w // (1 << size_bits))
                bh = -(-h // (1 << size_bits))
                sub = _decode_image(br, bw, bh, False)
                transforms.append((ttype, size_bits, bw, sub))
            elif ttype == 2:                  # subtract green
                transforms.append((2,))
            else:                             # color indexing
                psize = br.read(8) + 1
                raw = _decode_image(br, psize, 1, False)
                palette = []
                prev = 0
                for p in raw:
                    # delta-coded per channel, mod 256
                    cur = ((((p >> 24) + (prev >> 24)) & 0xFF) << 24
                           | (((p >> 16) + (prev >> 16)) & 0xFF) << 16
                           | (((p >> 8) + (prev >> 8)) & 0xFF) << 8
                           | ((p + prev) & 0xFF))
                    palette.append(cur)
                    prev = cur
                if psize <= 2:
                    xbits = 3
                elif psize <= 4:
                    xbits = 2
                elif psize <= 16:
                    xbits = 1
                else:
                    xbits = 0
                transforms.append((3, xbits, data_w, palette))
                data_w = -(-data_w // (1 << xbits)) if xbits else data_w
    if br.read(1):
        cache_bits = br.read(4)
        # spec: with the flag set, cache_bits must be 1..11 — libwebp
        # rejects 0 here, and silently treating it as "no cache" would
        # decode a malformed stream to plausible pixels
        if not 1 <= cache_bits <= 11:
            raise ValueError("VP8L color cache bits out of range")
    else:
        cache_bits = 0
    cache = [0] * (1 << cache_bits) if cache_bits else None
    meta = None
    meta_bits = 0
    meta_w = 0
    n_groups = 1
    if is_main and br.read(1):                # meta prefix codes
        meta_bits = br.read(3) + 2
        meta_w = -(-data_w // (1 << meta_bits))
        meta_h = -(-h // (1 << meta_bits))
        meta = _decode_image(br, meta_w, meta_h, False)
        meta = [((p >> 8) & 0xFFFF) for p in meta]
        n_groups = max(meta) + 1
    groups = [_TreeGroup(br, cache_bits) for _ in range(n_groups)]

    n = data_w * h
    out: list[int] = []
    pos = 0
    group = groups[0]
    while pos < n:
        if meta is not None:
            x, y = pos % data_w, pos // data_w
            group = groups[meta[(y >> meta_bits) * meta_w
                                + (x >> meta_bits)]]
        s = group.g.decode(br)
        if s < 256:                            # literal ARGB
            r = group.r.decode(br)
            b = group.b.decode(br)
            a = group.a.decode(br)
            px = (a << 24) | (r << 16) | (s << 8) | b
            out.append(px)
            pos += 1
            if cache is not None:
                cache[_cache_hash(px, cache_bits)] = px
        elif s < 280:                          # backward reference
            length = _prefix_value(s - 256, br)
            dist_code = _prefix_value(group.d.decode(br), br)
            if dist_code > 120:
                dist = dist_code - 120
            else:
                dx, dy = _DIST_MAP[dist_code - 1]
                dist = dy * data_w + dx
                if dist < 1:
                    dist = 1
            if dist > pos:
                raise ValueError("VP8L backward reference before start")
            if pos + length > n:
                raise ValueError("VP8L backward reference overruns image")
            for _ in range(length):
                px = out[pos - dist]
                out.append(px)
                pos += 1
                if cache is not None:
                    cache[_cache_hash(px, cache_bits)] = px
        else:                                  # color cache
            if cache is None:
                raise ValueError("VP8L cache symbol without a cache")
            idx = s - 280
            if idx >= len(cache):
                raise ValueError("VP8L cache index out of range")
            out.append(cache[idx])
            pos += 1
    if not is_main:
        return out
    # apply inverse transforms, newest-read last applied first
    for t in reversed(transforms):
        if t[0] == 3:
            out, data_w = _inv_palette(out, data_w, h, t)
        elif t[0] == 2:
            out = _inv_subtract_green(out)
        elif t[0] == 1:
            out = _inv_color(out, data_w, h, t)
        else:
            out = _inv_predictor(out, data_w, h, t)
    if data_w != w:
        raise ValueError("VP8L width bookkeeping mismatch")
    return out


def _inv_palette(data: list[int], data_w: int, h: int,
                 t: tuple) -> tuple[list[int], int]:
    _, xbits, full_w, palette = t
    out = []
    if xbits == 0:
        for p in data:
            idx = (p >> 8) & 0xFF
            if idx >= len(palette):
                raise ValueError("VP8L palette index out of range")
            out.append(palette[idx])
        return out, full_w
    bpp = 8 >> xbits
    mask = (1 << bpp) - 1
    per = 1 << xbits
    for y in range(h):
        row = data[y * data_w:(y + 1) * data_w]
        for x in range(full_w):
            packed = (row[x >> xbits] >> 8) & 0xFF
            idx = (packed >> ((x % per) * bpp)) & mask
            if idx >= len(palette):
                raise ValueError("VP8L palette index out of range")
            out.append(palette[idx])
    return out, full_w


def _inv_subtract_green(data: list[int]) -> list[int]:
    out = []
    for p in data:
        g = (p >> 8) & 0xFF
        r = ((p >> 16) + g) & 0xFF
        b = (p + g) & 0xFF
        out.append((p & 0xFF00FF00) | (r << 16) | b)
    return out


def _s8(v: int) -> int:
    return v - 256 if v > 127 else v


def _inv_color(data: list[int], w: int, h: int, t: tuple) -> list[int]:
    _, size_bits, bw, sub = t
    out = []
    for y in range(h):
        for x in range(w):
            cm = sub[(y >> size_bits) * bw + (x >> size_bits)]
            g2r, g2b, r2b = _s8(cm & 0xFF), _s8((cm >> 8) & 0xFF), \
                _s8((cm >> 16) & 0xFF)
            p = data[y * w + x]
            a, r, g, b = (p >> 24) & 0xFF, (p >> 16) & 0xFF, \
                (p >> 8) & 0xFF, p & 0xFF
            r = (r + ((g2r * _s8(g)) >> 5)) & 0xFF
            b = (b + ((g2b * _s8(g)) >> 5)) & 0xFF
            b = (b + ((r2b * _s8(r)) >> 5)) & 0xFF
            out.append((a << 24) | (r << 16) | (g << 8) | b)
    return out


def _avg2(a: int, b: int) -> int:
    return ((((a ^ b) & 0xFEFEFEFE) >> 1) + (a & b))


def _add_px(p: int, q: int) -> int:
    """Per-channel mod-256 addition of two packed ARGB values."""
    return ((((p & 0xFF000000) + (q & 0xFF000000)) & 0xFF000000)
            | (((p & 0xFF0000) + (q & 0xFF0000)) & 0xFF0000)
            | (((p & 0xFF00) + (q & 0xFF00)) & 0xFF00)
            | ((p + q) & 0xFF))


def _channels(p: int) -> tuple[int, int, int, int]:
    return (p >> 24) & 0xFF, (p >> 16) & 0xFF, (p >> 8) & 0xFF, p & 0xFF


def _pack(a: int, r: int, g: int, b: int) -> int:
    return (a << 24) | (r << 16) | (g << 8) | b


def _clamp(v: int) -> int:
    return 0 if v < 0 else (255 if v > 255 else v)


def _predict(mode: int, ln: int, tp: int, tl: int, tr: int) -> int:
    if mode == 0:
        return 0xFF000000
    if mode == 1:
        return ln
    if mode == 2:
        return tp
    if mode == 3:
        return tr
    if mode == 4:
        return tl
    if mode == 5:
        return _avg2(_avg2(ln, tr), tp)
    if mode == 6:
        return _avg2(ln, tl)
    if mode == 7:
        return _avg2(ln, tp)
    if mode == 8:
        return _avg2(tl, tp)
    if mode == 9:
        return _avg2(tp, tr)
    if mode == 10:
        return _avg2(_avg2(ln, tl), _avg2(tp, tr))
    if mode == 11:                              # Select
        lc, tc, tlc = _channels(ln), _channels(tp), _channels(tl)
        pl = sum(abs(tc[i] - tlc[i]) for i in range(4))
        pt = sum(abs(lc[i] - tlc[i]) for i in range(4))
        return ln if pl < pt else tp
    if mode == 12:                              # ClampAddSubtractFull
        lc, tc, tlc = _channels(ln), _channels(tp), _channels(tl)
        return _pack(*[_clamp(lc[i] + tc[i] - tlc[i]) for i in range(4)])
    if mode == 13:                              # ClampAddSubtractHalf
        av, tlc = _channels(_avg2(ln, tp)), _channels(tl)
        def half(a, b):
            d = a - b
            return _clamp(a + (d // 2 if d >= 0 else -((-d) // 2)))
        return _pack(*[half(av[i], tlc[i]) for i in range(4)])
    raise ValueError(f"VP8L predictor mode {mode} invalid")


def _inv_predictor(data: list[int], w: int, h: int, t: tuple) -> list[int]:
    _, size_bits, bw, sub = t
    out = [0] * (w * h)
    for y in range(h):
        for x in range(w):
            i = y * w + x
            if x == 0 and y == 0:
                pred = 0xFF000000
            elif y == 0:
                pred = out[i - 1]                       # L
            elif x == 0:
                pred = out[i - w]                       # T
            else:
                mode = (sub[(y >> size_bits) * bw + (x >> size_bits)]
                        >> 8) & 0xFF
                ln, tp, tl = out[i - 1], out[i - w], out[i - w - 1]
                # top-right of the last column = current row's first
                # pixel (libwebp's contiguous-buffer rule: top[1] at
                # x = w-1 aliases data[y*w + 0], already reconstructed)
                tr = out[i - w + 1] if x + 1 < w else out[y * w]
                pred = _predict(mode, ln, tp, tl, tr)
            out[i] = _add_px(data[i], pred)
    return out


def decode_vp8l_payload(b: bytes) -> dict:
    """Decode a raw VP8L chunk payload (after the RIFF walk)."""
    if not b or b[0] != 0x2F:
        raise ValueError("not a VP8L stream (bad signature byte)")
    br = _Bits(b)
    br.read(8)
    w = br.read(14) + 1
    h = br.read(14) + 1
    has_alpha = br.read(1)
    version = br.read(3)
    if version != 0:
        raise ValueError(f"VP8L version {version} unsupported")
    if w * h > MAX_PIXELS:
        raise ValueError(f"implausible WebP dimensions {w}x{h}")
    argb = _decode_image(br, w, h, True)
    arr = np.asarray(argb, dtype=np.uint32).reshape(h, w)
    a = (arr >> 24).astype(np.uint8)
    rgb = np.stack([(arr >> 16).astype(np.uint8),
                    (arr >> 8).astype(np.uint8),
                    arr.astype(np.uint8)], axis=2)
    channels = 4 if (has_alpha and bool((a != 255).any())) else 3
    means = rgb.astype(np.float64).mean(axis=(0, 1))
    return {"format": "webp", "width": w, "height": h,
            "channels": channels, "mean_r": float(means[0]),
            "mean_g": float(means[1]), "mean_b": float(means[2]),
            "pixels": np.ascontiguousarray(rgb)}


def _u24(b: bytes, off: int) -> int:
    return b[off] | (b[off + 1] << 8) | (b[off + 2] << 16)


def _decode_anmf(payload: bytes, canvas: tuple[int, int] | None) -> dict:
    """First animation frame (the thumbnailer convention, like GIF).
    The frame header is 16 bytes (x/2, y/2, w-1, h-1 as 24-bit LE,
    duration, flags), then the frame's own image sub-chunks. Only a
    FULL-CANVAS lossless first frame decodes; a sub-rectangle first
    frame rejects loudly — compositing it would need the ANIM
    background color, and a wrong fill is exactly the
    plausible-but-wrong output this tier never emits."""
    if len(payload) < 16:
        raise ValueError("truncated WebP ANMF header")
    fx, fy = 2 * _u24(payload, 0), 2 * _u24(payload, 3)
    fw, fh = _u24(payload, 6) + 1, _u24(payload, 9) + 1
    pos = 16
    while pos + 8 <= len(payload):
        tag = payload[pos:pos + 4]
        size, = struct.unpack_from("<I", payload, pos + 4)
        sub = payload[pos + 8:pos + 8 + size]
        if len(sub) != size:
            raise ValueError("truncated WebP ANMF sub-chunk")
        if tag == b"VP8L":
            if (fx, fy) != (0, 0) or (canvas is not None
                                      and (fw, fh) != canvas):
                raise ValueError(
                    "animated WebP first frame is a sub-rectangle of "
                    "the canvas — compositing needs the player "
                    "background; rejected rather than decoded wrong")
            rec = decode_vp8l_payload(sub)
            if (rec["width"], rec["height"]) != (fw, fh):
                raise ValueError("WebP ANMF frame size mismatch")
            return rec
        if tag == b"VP8 ":
            raise ValueError("lossy WebP (VP8) needs libwebp/libvips — "
                             "only the lossless (VP8L) profile decodes "
                             "natively")
        pos += 8 + size + (size & 1)        # ALPH etc.: skip
    raise ValueError("WebP ANMF frame has no VP8L data")


def decode_webp_bytes(b: bytes) -> dict:
    """Decode one WebP payload: RIFF walk → VP8L (lossless) decode.
    Extended (VP8X) containers walk through to the still VP8L image or
    the FIRST animation frame (full-canvas lossless frames only).
    Lossy VP8 rejects loudly with the required codec named — NULL
    row, never wrong pixels."""
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WEBP":
        raise ValueError("not a WebP (missing RIFF/WEBP header)")
    pos = 12
    canvas = None
    while pos + 8 <= len(b):
        tag = b[pos:pos + 4]
        size, = struct.unpack_from("<I", b, pos + 4)
        payload = b[pos + 8:pos + 8 + size]
        if len(payload) != size:
            raise ValueError("truncated WebP chunk")
        if tag == b"VP8X":
            if size < 10:
                raise ValueError("truncated WebP VP8X header")
            canvas = (_u24(payload, 4) + 1, _u24(payload, 7) + 1)
        elif tag == b"VP8L":
            rec = decode_vp8l_payload(payload)
            if canvas is not None and (rec["width"],
                                       rec["height"]) != canvas:
                raise ValueError("WebP still image does not fill the "
                                 "VP8X canvas")
            return rec
        elif tag == b"ANMF":
            if canvas is None:
                # the container spec requires VP8X before animation
                # chunks; without it the full-canvas check below would
                # silently pass frame-only stats off as the whole image
                raise ValueError("WebP ANMF without a VP8X canvas")
            return _decode_anmf(payload, canvas)
        elif tag == b"VP8 ":
            raise ValueError("lossy WebP (VP8) needs libwebp/libvips — "
                             "only the lossless (VP8L) profile decodes "
                             "natively")
        # ICCP / EXIF / XMP / ANIM / unknown: skip (+pad byte)
        pos += 8 + size + (size & 1)
    raise ValueError("WebP has no VP8L image chunk")
