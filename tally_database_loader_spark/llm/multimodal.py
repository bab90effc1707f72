"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Pattern for image/audio/video at 100 TB: the payload is a ``binary``
column (or a pointer to object storage); metadata (size, content hash,
decoded dimensions) is computed once at ingest and carried as plain
columns so downstream filters prune without touching bytes.

Decoders:

- **Real** for formats the standard library + numpy can parse — integer
  PCM WAV audio (``wave``; ``_wav_pcm_samples`` feeds
  ``audio_fingerprint``), binary PPM (P6), uncompressed BMP (24/32-bit +
  8-bit palette), PNG and baseline JPEG. PNG's only codec is DEFLATE,
  i.e. stdlib ``zlib``: a full chunk/CRC/unfilter decoder (all five
  filter types, gray / RGB / palette / alpha at bit depth 8) lives in
  ``_decode_png_bytes``. Baseline JPEG's math (huffman entropy decode,
  dequantization, 8×8 inverse DCT, chroma upsampling, YCbCr→RGB) is
  pure numpy — ``llm/jpeg.py``, spec-checked against an independent
  encoder. GIF's LZW is pure bit-twiddling — ``_decode_gif_bytes``
  (variable-width LSB codes, interlacing, local color tables).
  ``decode_image_features`` / ``resize_images`` (all decodable formats
  → nearest resample → P6 re-emit) / ``image_ahash`` /
  ``audio_fingerprint`` run genuine decode/resample math over Arrow
  batches. These pure-Python spec decoders are the only decode path,
  so every value-hash gate sees the same pixels on every host.
- **Not decoded**: lossy VP8 WebP and arithmetic-coded JPEG payloads
  yield NULL-feature rows; float and G.711 WAV payloads yield NULL
  fingerprints; video is only split into byte frames
  (``sample_frames``). The ``fake_*`` operators exercise the identical
  Spark plumbing — Arrow batches through ``mapInPandas``, binary in,
  fixed-schema out — which is the part that must be right at scale
  (batch sizes, schema, partition mapping).
"""

from __future__ import annotations

import io
import struct
import wave
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .jpeg import decode_jpeg_bytes
from .webp import decode_webp_bytes

DECODE_SCHEMA = ("doc_id bigint, n_bytes int, mean_byte double, "
                 "max_byte int, width int, height int")


def binary_payload(text: Column) -> Column:
    """Stand-in payload: utf-8 bytes of the text column. With real data
    this is the image/audio bytes read by ``spark.read.format('binaryFile')``."""
    return F.encode(text, "utf-8")


def payload_metadata(df: DataFrame, id_col: str, payload: Column) -> DataFrame:
    """Ingest-time metadata projection: byte length, sha256, synthetic
    width/height derived from a content hash (deterministic; replaced by
    decoder output when real decoders exist)."""
    h = F.conv(F.substring(F.md5(payload), 1, 15), 16, 10).cast("long")
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.length(payload).alias("n_bytes"),
        F.sha2(payload, 256).alias("sha256"),
        (h % 448 + 64).cast("int").alias("width"),
        (F.conv(F.substring(F.md5(payload), 16, 15), 16, 10).cast("long") % 448 + 64)
            .cast("int").alias("height"),
    )


# ---------------------------------------------------------------------------
# REAL decoders: WAV (stdlib wave), PPM P6 / BMP / PNG / GIF (numpy +
# zlib + LZW); baseline JPEG lives in llm/jpeg.py
# ---------------------------------------------------------------------------

IMAGE_SCHEMA = ("doc_id bigint, format string, width int, height int, "
                "channels int, mean_r double, mean_g double, mean_b double")


def _parse_ppm_header(b: bytes) -> tuple[int, int, int, int]:
    """(width, height, maxval, raster_offset) of a binary PPM: ``P6 <ws>
    width <ws> height <ws> maxval <single ws> data``, '#' comments
    allowed. The returned offset is the PARSED header length — never
    derived from ``len(b)``, which trailing padding would misalign."""
    i, tokens = 2, []
    while len(tokens) < 3:
        while i < len(b) and b[i:i + 1].isspace():
            i += 1
        if b[i:i + 1] == b"#":              # comment to end of line
            while i < len(b) and b[i:i + 1] != b"\n":
                i += 1
            continue
        j = i
        while j < len(b) and not b[j:j + 1].isspace():
            j += 1
        tokens.append(int(b[i:j]))
        i = j
    return tokens[0], tokens[1], tokens[2], i + 1  # +1: ws after maxval


# claimed-dimension cap shared by the compressed-format decoders: a
# flipped header byte must not turn into a multi-GB allocation before
# the (bounded) payload data can contradict it. 2^26 pixels = 67 MP —
# far past any training-corpus image; past it we NULL, never allocate.
MAX_PIXELS = 1 << 26

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# color type → samples per pixel in the raster (before palette expansion)
_PNG_RASTER_CH = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


# Adam7 pass geometry: (x0, y0, dx, dy) per pass (PNG spec §8.2)
_ADAM7 = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
          (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))


def _png_unfilter(raw: bytes, offset: int, h: int, stride: int,
                  bpp: int) -> np.ndarray:
    """Undo the five PNG row filters over one (sub-)image: each scanline
    = filter byte + stride bytes; Sub/Avg/Paeth reference the pixel
    ``bpp`` BYTES to the left (2 bytes/sample at depth 16), Up/Avg/Paeth
    the prior unfiltered row (spec §6 — integer math, exact)."""
    out = np.zeros((h, stride), dtype=np.uint8)
    prior = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        f = raw[offset + y * (1 + stride)]
        line = np.frombuffer(raw, dtype=np.uint8, count=stride,
                             offset=offset + y * (1 + stride) + 1
                             ).astype(np.int32)
        if f == 0:
            cur = line
        elif f == 2:
            cur = (line + prior) & 0xFF
        elif f in (1, 3, 4):
            cur = np.zeros(stride, dtype=np.int32)
            for x in range(stride):
                a = cur[x - bpp] if x >= bpp else 0
                if f == 1:
                    v = line[x] + a
                elif f == 3:
                    v = line[x] + ((a + prior[x]) >> 1)
                else:                       # Paeth
                    c0 = prior[x - bpp] if x >= bpp else 0
                    p = a + prior[x] - c0
                    pa, pb, pc = abs(p - a), abs(p - prior[x]), abs(p - c0)
                    if pa <= pb and pa <= pc:
                        pred = a
                    elif pb <= pc:
                        pred = prior[x]
                    else:
                        pred = c0
                    v = line[x] + pred
                cur[x] = v & 0xFF
        else:
            raise ValueError(f"PNG filter type {f} invalid")
        out[y] = cur
        prior = cur
    return out


def _decode_png_bytes(b: bytes) -> dict:
    """REAL PNG decode, stdlib-only: chunk walk with CRC verification,
    ``zlib`` DEFLATE of the concatenated IDATs, and per-row unfiltering
    of all five PNG filter types (None/Sub/Up/Average/Paeth). Supported:
    bit depths 8 and 16 (16-bit samples fold to their high byte — the
    usual 16 → 8-bit convention — AFTER exact byte-level unfiltering),
    color types 0 (gray), 2 (RGB), 3 (palette), 4 (gray+alpha), 6
    (RGBA), sequential AND Adam7-interlaced (each of the 7 passes is
    its own independently filtered sub-image scattered back on the
    pass grid — round 6, review r5 #5). Sub-byte depths (1/2/4) raise
    loudly (NULL-feature row) rather than decode wrong. Output matches
    the PPM/BMP record shape: per-channel means (gray replicates across
    r/g/b; alpha excluded from the means, like every thumbnailer's RGB
    statistics)."""
    import zlib
    if b[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos, ihdr, plte, idat = 8, None, None, []
    while pos + 8 <= len(b):
        (length,), ctype = struct.unpack_from(">I", b, pos), b[pos + 4:pos + 8]
        data = b[pos + 8:pos + 8 + length]
        if len(data) != length or pos + 12 + length > len(b):
            raise ValueError("truncated PNG chunk")
        crc, = struct.unpack_from(">I", b, pos + 8 + length)
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {ctype!r} CRC mismatch")
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"PLTE":
            plte = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    w, h, depth, ctype_n, comp, filt, interlace = ihdr
    if w <= 0 or h <= 0:
        raise ValueError(f"degenerate PNG dimensions {w}x{h}")
    if depth not in (8, 16):
        raise ValueError(f"PNG bit depth {depth} unsupported "
                         "(8/16 only)")
    if ctype_n not in _PNG_RASTER_CH or comp != 0 or filt != 0:
        raise ValueError(f"PNG color type {ctype_n} / compression {comp} "
                         "unsupported")
    if interlace not in (0, 1):
        raise ValueError(f"PNG interlace method {interlace} invalid")
    if ctype_n == 3 and plte is None:
        raise ValueError("palette PNG missing PLTE")
    if ctype_n == 3 and depth == 16:
        raise ValueError("16-bit palette PNG is not legal")
    if w * h > MAX_PIXELS:
        raise ValueError(f"implausible PNG dimensions {w}x{h}")
    ch = _PNG_RASTER_CH[ctype_n]
    bpp = ch * (depth // 8)

    def to_px8(sub: np.ndarray, sh: int, sw: int) -> np.ndarray:
        # 16-bit big-endian samples fold to the high byte (= first byte)
        if depth == 8:
            return sub.reshape(sh, sw, ch)
        return np.ascontiguousarray(sub.reshape(sh, sw, ch, 2)[..., 0])

    if interlace == 0:
        stride = w * bpp
        expected = h * (1 + stride)
        raw = zlib.decompressobj().decompress(b"".join(idat), expected + 1)
        if len(raw) != expected:
            raise ValueError("PNG raster size mismatch")
        px = to_px8(_png_unfilter(raw, 0, h, stride, bpp), h, w)
    else:
        passes = [(x0, y0, dx, dy,
                   -(-(w - x0) // dx), -(-(h - y0) // dy))
                  for (x0, y0, dx, dy) in _ADAM7]
        expected = sum(ph * (1 + pw * bpp)
                       for (_, _, _, _, pw, ph) in passes if pw and ph)
        raw = zlib.decompressobj().decompress(b"".join(idat), expected + 1)
        if len(raw) != expected:
            raise ValueError("PNG raster size mismatch")
        px = np.zeros((h, w, ch), dtype=np.uint8)
        offset = 0
        for (x0, y0, dx, dy, pw, ph) in passes:
            if pw == 0 or ph == 0:
                continue
            sub = _png_unfilter(raw, offset, ph, pw * bpp, bpp)
            offset += ph * (1 + pw * bpp)
            px[y0::dy, x0::dx] = to_px8(sub, ph, pw)
    if ctype_n == 3:                        # palette indices → RGB
        if int(px.max()) >= len(plte):
            raise ValueError("PNG palette index out of range")
        rgb = plte[px[:, :, 0]]
        channels = 3
    elif ctype_n == 0:
        rgb = np.repeat(px, 3, axis=2)
        channels = 1
    elif ctype_n == 4:                      # gray+alpha: means over gray
        rgb = np.repeat(px[:, :, :1], 3, axis=2)
        channels = 2
    elif ctype_n == 6:                      # RGBA: alpha out of the means
        rgb = px[:, :, :3]
        channels = 4
    else:                                   # 2: RGB
        rgb = px
        channels = 3
    means = rgb.astype(np.float64).mean(axis=(0, 1))
    return {"format": "png", "width": w, "height": h, "channels": channels,
            "mean_r": float(means[0]), "mean_g": float(means[1]),
            "mean_b": float(means[2]),
            "pixels": np.ascontiguousarray(rgb)}


def _decode_image_bytes(b: bytes) -> dict:
    """Parse one image payload — the feature record (no pixel array).
    Thin wrapper over ``_decode_image_pixels``."""
    rec = _decode_image_pixels(b)
    rec.pop("pixels", None)
    return rec


def _gif_lzw_decode(data: bytes, min_code: int,
                    max_pixels: int | None = None) -> list[int]:
    """GIF-variant LZW: LSB-first bit packing, clear/EOI codes, dict
    grows to 12 bits then freezes until the next clear (GIF89a App.F).
    ``max_pixels`` early-stops once enough indices exist for the frame —
    a malformed stream must not expand into an unbounded list (LZW's
    worst case is ~4096× the input; the frame size bounds what any
    well-formed stream can need)."""
    if not 2 <= min_code <= 8:
        raise ValueError(f"GIF LZW min code size {min_code} invalid")
    clear, eoi = 1 << min_code, (1 << min_code) + 1

    def fresh():
        return {i: [i] for i in range(clear)}

    table = fresh()
    width = min_code + 1
    next_code = eoi + 1
    out: list[int] = []
    prev: list[int] | None = None
    acc = nbits = 0
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            nbits -= width
            if code == clear:
                table = fresh()
                width = min_code + 1
                next_code = eoi + 1
                prev = None
                continue
            if code == eoi:
                return out
            if max_pixels is not None and len(out) >= max_pixels:
                return out
            if prev is None:
                if code >= clear:
                    raise ValueError("GIF LZW first code not a literal")
                entry = table[code]
            elif code in table:
                entry = table[code]
            elif code == next_code:        # the KwKwK case
                entry = prev + [prev[0]]
            else:
                raise ValueError("GIF LZW code out of sequence")
            out.extend(entry)
            if prev is not None and next_code < 4096:
                table[next_code] = prev + [entry[0]]
                next_code += 1
                if next_code == (1 << width) and width < 12:
                    width += 1
            prev = entry
    raise ValueError("GIF LZW stream ended without EOI")


_GIF_INTERLACE = ((0, 8), (4, 8), (2, 4), (1, 2))


def _decode_gif_bytes(b: bytes) -> dict:
    """REAL GIF decode, stdlib-only (round 5): header + logical screen
    descriptor, global/local color tables, extension-block skipping, the
    first image descriptor's LZW-compressed index stream (App. F
    variable-width LSB-first codes, clear/EOI, the KwKwK case), and
    Adam-less GIF 4-pass interlacing. Animated GIFs decode their FIRST
    frame (the thumbnailer convention); a first frame that is a
    SUB-RECTANGLE of the logical screen (common in optimized animated
    GIFs) composites onto a background-color canvas and the record
    reports the SCREEN dimensions — never frame-only stats passed off
    as the whole image (ADVICE r5). Malformed streams (frame outside
    the screen, short index stream, bad indices) raise →
    NULL-feature row."""
    if b[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    sw, sh, packed, bg, _ar = struct.unpack_from("<HHBBB", b, 6)
    if sw <= 0 or sh <= 0:
        raise ValueError(f"degenerate GIF screen {sw}x{sh}")
    if sw * sh > MAX_PIXELS:
        raise ValueError(f"implausible GIF screen {sw}x{sh}")
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = np.frombuffer(b, dtype=np.uint8, count=3 * n,
                            offset=pos).reshape(n, 3)
        pos += 3 * n
    while pos < len(b):
        block = b[pos]
        if block == 0x3B:                  # trailer
            break
        if block == 0x21:                  # extension: label + sub-blocks
            pos += 2
            while pos < len(b) and b[pos] != 0:
                pos += 1 + b[pos]
            pos += 1
            continue
        if block != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{block:02X}")
        left, top, w, h, ipack = struct.unpack_from("<HHHHB", b, pos + 1)
        if w <= 0 or h <= 0:
            raise ValueError(f"degenerate GIF dimensions {w}x{h}")
        if left + w > sw or top + h > sh:
            raise ValueError("GIF frame exceeds the logical screen")
        pos += 10
        ct = gct
        if ipack & 0x80:
            n = 2 << (ipack & 0x07)
            ct = np.frombuffer(b, dtype=np.uint8, count=3 * n,
                               offset=pos).reshape(n, 3)
            pos += 3 * n
        if ct is None:
            raise ValueError("GIF image has no color table")
        min_code = b[pos]
        pos += 1
        data = bytearray()
        while pos < len(b) and b[pos] != 0:
            ln = b[pos]
            data += b[pos + 1:pos + 1 + ln]
            pos += 1 + ln
        idx = _gif_lzw_decode(bytes(data), min_code, max_pixels=w * h)
        if len(idx) < w * h:
            raise ValueError("GIF index stream short of w*h pixels")
        arr = np.asarray(idx[:w * h], dtype=np.int64).reshape(h, w)
        if ipack & 0x40:                   # interlaced: 4-pass row order
            rows = [r for start, step in _GIF_INTERLACE
                    for r in range(start, h, step)]
            un = np.zeros_like(arr)
            un[rows] = arr[np.arange(h)]
            arr = un
        if int(arr.max()) >= len(ct):
            raise ValueError("GIF pixel index out of color-table range")
        rgb = ct[arr]
        if (left, top, w, h) != (0, 0, sw, sh):
            # sub-rectangle first frame: composite onto the logical
            # screen filled with the background color (spec: the
            # background color index paints uncovered canvas)
            fill = (gct[bg] if gct is not None and bg < len(gct)
                    else np.zeros(3, dtype=np.uint8))
            canvas = np.empty((sh, sw, 3), dtype=np.uint8)
            canvas[:, :] = fill
            canvas[top:top + h, left:left + w] = rgb
            rgb = canvas
        means = rgb.astype(np.float64).mean(axis=(0, 1))
        return {"format": "gif", "width": int(sw), "height": int(sh),
                "channels": 3, "mean_r": float(means[0]),
                "mean_g": float(means[1]), "mean_b": float(means[2]),
                "pixels": np.ascontiguousarray(rgb)}
    raise ValueError("GIF has no image descriptor")


def _decode_image_pixels(b: bytes) -> dict:
    """REAL decode for every format whose codec needs nothing beyond the
    standard library + numpy: binary PPM (``P6``, raw RGB — full maxval
    range since round 7: 2-byte big-endian samples above 255, exact
    integer rescale to 0..255), PNG (DEFLATE
    = stdlib zlib; 16-bit + Adam7 included; see ``_decode_png_bytes``),
    lossless WebP (``llm/webp.py``), GIF (``_decode_gif_bytes``),
    baseline + progressive huffman JPEG (``llm/jpeg.py``) and
    uncompressed BMP (BITMAPINFOHEADER BI_RGB at 24/32 bits or 8-bit
    palette, bottom-up or top-down rows). Returns the feature record PLUS ``pixels`` —
    the decoded h×w×3 RGB uint8 raster (gray replicated) — so
    resize/transcode operators share one decode path. Raises ValueError
    for other magics (lossy WebP and arithmetic JPEG are not decoded)."""
    if b[:8] == _PNG_SIG:
        return _decode_png_bytes(b)
    if b[:4] == b"RIFF" and b[8:12] == b"WEBP":
        return decode_webp_bytes(b)
    if b[:6] in (b"GIF87a", b"GIF89a"):
        return _decode_gif_bytes(b)
    if b[:3] == b"\xff\xd8\xff":
        rec = decode_jpeg_bytes(b)
        px = rec["pixels"]
        if px.shape[2] == 1:               # gray → replicated RGB raster
            rec["pixels"] = np.repeat(px, 3, axis=2)
        return rec
    if b[:2] == b"P6":
        w, h, maxval, i = _parse_ppm_header(b)
        if w <= 0 or h <= 0:
            # zero-area: px.mean over an empty slice would yield NaN
            # channel means — and NaN orders ABOVE every threshold in
            # Spark, poisoning downstream filters; the module contract
            # is NULL, never confident garbage (ADVICE r4)
            raise ValueError(f"degenerate PPM dimensions {w}x{h}")
        if not 1 <= maxval <= 65535:
            raise ValueError(f"illegal PPM maxval {maxval}")
        if maxval == 255:
            px = np.frombuffer(b, dtype=np.uint8,
                               count=w * h * 3, offset=i).reshape(h, w, 3)
        else:
            # round 7: the full maxval range decodes for real — 2-byte
            # BIG-ENDIAN samples above 255 (PPM spec), 1-byte below —
            # rescaled to 0..255 by exact integer round-half-up
            # (v·255/maxval). NB: deliberate convention difference from
            # 16-bit PNG, which keeps that spec's traditional
            # high-byte fold.
            n_samp = w * h * 3
            dt = ">u2" if maxval > 255 else np.uint8
            raw = np.frombuffer(b, dtype=dt, count=n_samp,
                                offset=i).astype(np.int64)
            if int(raw.max(initial=0)) > maxval:
                raise ValueError("PPM sample exceeds declared maxval")
            px = ((raw * 510 + maxval) // (2 * maxval)) \
                .astype(np.uint8).reshape(h, w, 3)
        means = px.mean(axis=(0, 1))
        return {"format": "ppm", "width": w, "height": h, "channels": 3,
                "mean_r": float(means[0]), "mean_g": float(means[1]),
                "mean_b": float(means[2]), "pixels": px}
    if b[:2] == b"BM":
        off, = struct.unpack_from("<I", b, 10)
        w, h = struct.unpack_from("<ii", b, 18)
        planes, bpp = struct.unpack_from("<HH", b, 26)
        compression, = struct.unpack_from("<I", b, 30)
        if bpp not in (8, 24, 32) or compression != 0:
            raise ValueError(f"BMP variant unsupported "
                             f"(bpp={bpp}, compression={compression})")
        if w <= 0 or h == 0:
            # structurally valid but zero-area (or negative-width) BMP:
            # empty-slice mean is NaN, which Spark orders above every
            # threshold — reject so the wrapper emits the NULL-feature
            # row (ADVICE r4). h < 0 is legal (top-down rows).
            raise ValueError(f"degenerate BMP dimensions {w}x{h}")
        if bpp == 24:
            stride = (w * 3 + 3) & ~3      # rows padded to 4 bytes
            rows = np.frombuffer(b, dtype=np.uint8, count=stride * abs(h),
                                 offset=off).reshape(abs(h), stride)
            px = rows[:, :w * 3].reshape(abs(h), w, 3)
        elif bpp == 32:
            # BI_RGB 32-bit is BGRX; the 4th byte is undefined padding
            # and stays out of the means (round 6)
            rows = np.frombuffer(b, dtype=np.uint8, count=w * 4 * abs(h),
                                 offset=off).reshape(abs(h), w, 4)
            px = rows[:, :, :3]
        else:                               # 8-bit palette (round 6)
            bisize, = struct.unpack_from("<I", b, 14)
            if bisize < 40:
                raise ValueError("BMP core-header palettes (3-byte "
                                 "entries) unsupported")
            clr_used, = struct.unpack_from("<I", b, 46)
            n_pal = clr_used or 256
            pal = np.frombuffer(b, dtype=np.uint8, count=n_pal * 4,
                                offset=14 + bisize).reshape(n_pal, 4)[:, :3]
            stride = (w + 3) & ~3
            rows = np.frombuffer(b, dtype=np.uint8, count=stride * abs(h),
                                 offset=off).reshape(abs(h), stride)
            idx = rows[:, :w]
            if int(idx.max()) >= n_pal:
                raise ValueError("BMP palette index out of range")
            px = pal[idx]
        if h > 0:                           # bottom-up storage
            px = px[::-1]
        means = px.astype(np.float64).mean(axis=(0, 1))   # BGR on disk
        return {"format": "bmp", "width": w, "height": abs(h), "channels": 3,
                "mean_r": float(means[2]), "mean_g": float(means[1]),
                "mean_b": float(means[0]),
                "pixels": np.ascontiguousarray(px[:, :, ::-1])}
    raise ValueError("unsupported image magic (lossy WebP and "
                     "arithmetic JPEG are not decoded)")


def decode_image_features(df: DataFrame, id_col: str = "doc_id",
                          payload_col: str = "payload") -> DataFrame:
    """REAL image decode over Arrow batches (dimensions + per-channel
    means) for every format ``_decode_image_pixels`` handles: PNG
    (incl. 16-bit + Adam7), lossless WebP (VP8L, incl. VP8X containers
    and full-canvas first animation frames), GIF, baseline+progressive
    JPEG, PPM (P6) and uncompressed BMP (24/32-bit BI_RGB and 8-bit
    palette); other formats (or corrupt bytes) yield NULL-feature rows."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["doc_id", "format", "width", "height", "channels",
                "mean_r", "mean_g", "mean_b"]
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                try:
                    rec = _decode_image_pixels(bytes(payload))
                    rec.pop("pixels", None)
                except Exception:
                    rec = dict.fromkeys(cols[1:])
                rows.append({"doc_id": doc_id, **rec})
            yield pd.DataFrame(rows, columns=cols)

    return df.mapInPandas(decode, schema=IMAGE_SCHEMA)


def resize_images(df: DataFrame, width: int, height: int,
                  id_col: str = "doc_id",
                  payload_col: str = "payload") -> DataFrame:
    """REAL resize + transcode for EVERY decodable format (round 5):
    PPM, PNG, BMP and baseline JPEG payloads decode to their RGB raster
    (one shared path, ``_decode_image_pixels``), nearest-neighbor
    resample, and re-emit as binary PPM — the one format this container
    can also ENCODE (raw raster, no codec). This is the thumbnail /
    normalize-for-vision-model stage of a multimodal pipeline run for
    real end-to-end; undecodable or corrupt payloads pass through as
    NULL, never task failures."""
    if width < 1 or height < 1:
        raise ValueError("resize dimensions must be positive")

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        header = f"P6\n{width} {height}\n255\n".encode("ascii")
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                out = src = None
                try:
                    rec = _decode_image_pixels(bytes(payload))
                    px = rec["pixels"]
                    sh, sw = px.shape[:2]
                    yi = (np.arange(height) * sh) // height
                    xi = (np.arange(width) * sw) // width
                    out = header + px[yi][:, xi].tobytes()
                    src = rec["format"]
                except Exception:
                    out = src = None
                rows.append({"doc_id": doc_id, "src_format": src,
                             "width": width, "height": height,
                             "payload": out})
            yield pd.DataFrame(rows, columns=["doc_id", "src_format",
                                              "width", "height", "payload"])

    return df.mapInPandas(
        resize, schema="doc_id bigint, src_format string, width int, "
                       "height int, payload binary")


def fake_resize(df: DataFrame, width: int, height: int,
                id_col: str = "doc_id",
                payload_col: str = "payload") -> DataFrame:
    """Arrow-batched 'resize': binary in → fixed-size binary out via
    ``mapInPandas`` — the exact shape a real resampler plugs into
    (``resize_images`` is that resampler). The fake output is the source bytes
    tiled/truncated to a width×height 'pixel buffer', so tests can assert
    byte-exact results and output size is schema-predictable — the
    property that matters at scale, where the sink partitions by
    (rows × width × height) bytes."""

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        size = width * height
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                if payload is None:  # NULL payload → NULL output, not a
                    rows.append({"doc_id": doc_id, "width": width,  # crash
                                 "height": height, "payload": None})
                    continue
                b = bytes(payload) or b"\x00"
                out = (b * (size // len(b) + 1))[:size]
                rows.append({"doc_id": doc_id, "width": width,
                             "height": height, "payload": out})
            yield pd.DataFrame(rows, columns=["doc_id", "width", "height",
                                              "payload"])

    return df.mapInPandas(
        resize, schema="doc_id bigint, width int, height int, payload binary")


def sample_frames(df: DataFrame, every_n: int = 4, frame_bytes: int = 64,
                  id_col: str = "doc_id",
                  payload_col: str = "payload") -> DataFrame:
    """Frame sampling: one output row per kept frame — the row-expanding
    ``mapInPandas`` shape (batch in, variable rows out) that a real
    ffmpeg keyframe extractor plugs into. The fake treats the payload as
    a stream of ``frame_bytes``-sized frames and keeps every
    ``every_n``-th, emitting (doc_id, frame_idx, frame). Output rows per
    input row = ceil(n_frames / every_n), so at 100 TB the expansion
    factor — and thus output partition sizing — is known up front."""

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                if payload is None:  # NULL payload → no frames (the
                    continue         # relational explode-of-NULL shape)
                b = bytes(payload)
                n_frames = max(1, (len(b) + frame_bytes - 1) // frame_bytes)
                for idx in range(0, n_frames, every_n):
                    rows.append({"doc_id": doc_id, "frame_idx": idx,
                                 "frame": b[idx * frame_bytes:
                                            (idx + 1) * frame_bytes]})
            yield pd.DataFrame(rows, columns=["doc_id", "frame_idx", "frame"])

    return df.mapInPandas(
        sample, schema="doc_id bigint, frame_idx int, frame binary")


def fake_decode_features(df: DataFrame, id_col: str = "doc_id",
                         payload_col: str = "payload") -> DataFrame:
    """Arrow-batched 'decode': per-payload byte statistics + synthetic
    dimensions via ``mapInPandas``. Deterministic, so tests can assert
    exact values; swaps to a real decoder by replacing the inner loop."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                if payload is None:  # NULL payload → NULL features
                    rows.append(dict.fromkeys(
                        ["n_bytes", "mean_byte", "max_byte",
                         "width", "height"]) | {"doc_id": doc_id})
                    continue
                b = bytes(payload)
                n = len(b)
                rows.append({
                    "doc_id": doc_id,
                    "n_bytes": n,
                    "mean_byte": (sum(b) / n) if n else 0.0,
                    "max_byte": max(b) if n else 0,
                    "width": int.from_bytes(b[:4], "big", signed=False) % 448 + 64 if n >= 4 else 64,
                    "height": int.from_bytes(b[4:8], "big", signed=False) % 448 + 64 if n >= 8 else 64,
                })
            yield pd.DataFrame(rows, columns=["doc_id", "n_bytes", "mean_byte",
                                              "max_byte", "width", "height"])

    return df.mapInPandas(decode, schema=DECODE_SCHEMA)


# ---------------------------------------------------------------------------
# perceptual image hashing + near-duplicate detection (round 8)
# ---------------------------------------------------------------------------

def _ahash_record(px: "np.ndarray") -> tuple[int, int, int, int, int]:
    """64-bit average hash of an RGB raster, exact-integer end to end.

    Grid: nearest-neighbor downsample to 8×8 (the same ``(i*src)//dst``
    index rule every resize in this module uses), per-cell gray =
    r+g+b (0..765 — a monotone scale of the mean, division-free so the
    threshold below stays in integers). Bit i (= y*8+x, row-major) is 1
    iff ``64*gray_i > sum(gray)`` — strictly above the mean, ties → 0.
    Returns (ahash_signed_int64, band0..band3) where band j packs bits
    [16j, 16j+16) — the 4×16 split ``ahash_near_duplicates`` buckets on.
    """
    sh, sw = px.shape[:2]
    yi = (np.arange(8) * sh) // 8
    xi = (np.arange(8) * sw) // 8
    g = px[yi][:, xi].astype(np.int64).sum(axis=2).ravel()
    bits = (64 * g > g.sum()).astype(np.uint64)
    weights = np.uint64(1) << np.arange(64, dtype=np.uint64)
    h = int((bits * weights).sum(dtype=np.uint64).astype(np.int64))
    bands = [int((bits[16 * j:16 * j + 16]
                  * weights[:16]).sum(dtype=np.uint64)) for j in range(4)]
    return h, bands[0], bands[1], bands[2], bands[3]


def image_ahash(df: DataFrame, id_col: str = "doc_id",
                payload_col: str = "payload") -> DataFrame:
    """Perceptual hash extraction for image near-dup detection: decode
    (REAL decoders — PPM/PNG/GIF/BMP/JPEG/lossless-WebP via
    ``_decode_image_pixels``),
    8×8 average-hash, and the 4×16-bit band split, one Arrow batch at a
    time. Undecodable payloads yield NULL hash columns — never task
    failures, and never a confident garbage hash.

    Returns (doc_id, ahash bigint, b0..b3 int). At 100 TB this is the
    map-only feature pass; the quadratic work lives downstream in
    ``ahash_near_duplicates`` where banding bounds it."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                rec = dict.fromkeys(("ahash", "b0", "b1", "b2", "b3"))
                try:
                    h, b0, b1, b2, b3 = _ahash_record(
                        _decode_image_pixels(bytes(payload))["pixels"])
                    rec = {"ahash": h, "b0": b0, "b1": b1,
                           "b2": b2, "b3": b3}
                except Exception:
                    pass
                rows.append({"doc_id": doc_id, **rec})
            yield pd.DataFrame(rows, columns=["doc_id", "ahash",
                                              "b0", "b1", "b2", "b3"])

    return df.mapInPandas(
        extract, schema="doc_id bigint, ahash bigint, "
                        "b0 int, b1 int, b2 int, b3 int")


def _wav_pcm_samples(b: bytes) -> "np.ndarray":
    """Integer PCM samples of a RIFF/WAV payload as int64 (widths
    1/2/3/4: 8-bit unsigned, 16/32-bit signed, 24-bit packed
    little-endian sign-extended), kept exact for the fingerprint
    arithmetic. Raises for float (tag 3) and G.711 (tags 6/7) payloads,
    which the stdlib ``wave`` reader rejects, and for any malformed
    container — ``audio_fingerprint`` turns those into NULL rows."""
    with wave.open(io.BytesIO(b)) as w:
        width = w.getsampwidth()
        pcm = w.readframes(w.getnframes())
    if width == 2:
        return np.frombuffer(pcm, dtype="<i2").astype(np.int64)
    if width == 1:
        return np.frombuffer(pcm, dtype=np.uint8).astype(np.int64) - 128
    if width == 4:
        return np.frombuffer(pcm, dtype="<i4").astype(np.int64)
    if width == 3:
        u = np.frombuffer(pcm, dtype=np.uint8)
        u = u[:len(u) - len(u) % 3].reshape(-1, 3).astype(np.int64)
        v = u[:, 0] | (u[:, 1] << 8) | (u[:, 2] << 16)
        return v - ((v >= (1 << 23)).astype(np.int64) << 24)
    raise ValueError(f"unsupported PCM width {width}")


_FP_FRAMES, _FP_FRAME_LEN = 64, 4   # 63 energy-delta bits < 2^63


def _audio_fp_record(samples: "np.ndarray") -> tuple[int, int, int, int,
                                                     int]:
    """63-bit energy-delta fingerprint (the Haitsma-Kalker bit rule on
    integer frame energies): 64 frames of 4 samples, energy_f = Σ s²
    exactly, bit i = 1 iff energy[i+1] > energy[i] (strict, ties → 0).
    Bit 63 is never set, so the value is always a non-negative BIGINT —
    no sign gymnastics in any engine. Short payloads zero-pad to 256
    samples. Returns (fp, band0..band3), bands as in ``_ahash_record``.

    A width-4 (32-bit PCM) frame at full scale reaches 4·(2³¹−1)² ≈
    1.84e19 > int64's 9.22e18, and numpy would wrap silently, breaking
    the documented energy ordering (a full-scale frame would compare
    BELOW silence — ADVICE r8). The vectorized int64 path is provably
    exact while max|s| < 2³⁰ (4·(2³⁰)² = 2⁶² < 2⁶³−1), which covers
    every width ≤ 3 payload (|s| ≤ 2²³) and quiet width-4 audio; hotter
    width-4 samples fall back to arbitrary-precision Python ints over
    the 256 fingerprinted samples. Both paths compute the same exact
    energies, so the branch is value-invisible."""
    need = _FP_FRAMES * _FP_FRAME_LEN
    sa = samples[:need]
    if sa.shape[0] < need:
        sa = np.concatenate([sa, np.zeros(need - sa.shape[0],
                                          dtype=np.int64)])
    bits = np.zeros(64, dtype=np.uint64)
    if sa.size == 0 or int(np.abs(sa).max()) < 1 << 30:
        e = (sa * sa).reshape(_FP_FRAMES, _FP_FRAME_LEN).sum(axis=1)
        bits[:63] = (e[1:] > e[:-1]).astype(np.uint64)
    else:
        s = [int(x) for x in sa]
        e = [sum(v * v
                 for v in s[f * _FP_FRAME_LEN:(f + 1) * _FP_FRAME_LEN])
             for f in range(_FP_FRAMES)]
        bits[:63] = [1 if e[i + 1] > e[i] else 0 for i in range(63)]
    weights = np.uint64(1) << np.arange(64, dtype=np.uint64)
    fp = int((bits * weights).sum(dtype=np.uint64))
    bands = [int((bits[16 * j:16 * j + 16]
                  * weights[:16]).sum(dtype=np.uint64)) for j in range(4)]
    return fp, bands[0], bands[1], bands[2], bands[3]


def audio_fingerprint(df: DataFrame, id_col: str = "doc_id",
                      payload_col: str = "payload") -> DataFrame:
    """Acoustic fingerprint extraction for audio near-dup detection:
    REAL WAV decode (integer PCM widths 1/2/3/4) → 63-bit energy-delta
    fingerprint + the 4×16-bit band split, Arrow batch at a time. The
    same downstream near-dup machinery as images
    (``ahash_near_duplicates`` with ``hash_col='fp'``) — banded Hamming
    LSH, lossless at distance <= 3. Undecodable / non-integer-PCM
    payloads yield NULL fingerprints, never task failures.

    Returns (doc_id, fp bigint, b0..b3 int)."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                rec = dict.fromkeys(("fp", "b0", "b1", "b2", "b3"))
                try:
                    fp, b0, b1, b2, b3 = _audio_fp_record(
                        _wav_pcm_samples(bytes(payload)))
                    rec = {"fp": fp, "b0": b0, "b1": b1, "b2": b2, "b3": b3}
                except Exception:
                    pass
                rows.append({"doc_id": doc_id, **rec})
            yield pd.DataFrame(rows, columns=["doc_id", "fp",
                                              "b0", "b1", "b2", "b3"])

    return df.mapInPandas(
        extract, schema="doc_id bigint, fp bigint, "
                        "b0 int, b1 int, b2 int, b3 int")


def ahash_near_duplicates(hashes: DataFrame,
                          max_hamming: int = 3,
                          hash_col: str = "ahash") -> DataFrame:
    """Image near-duplicate pairs from an ``image_ahash`` table via
    banded Hamming LSH: explode each hash into its 4 disjoint 16-bit
    bands, self-equi-join on (band_idx, band_val), then verify
    ``popcount(xor) <= max_hamming`` on the survivors.

    For ``max_hamming <= 3`` the banding is LOSSLESS, not approximate:
    two hashes within Hamming distance 3 differ in at most 3 of the 4
    disjoint bands, so at least one band matches exactly (pigeonhole —
    the multi-index hashing identity, Norouzi et al. 2012). A SQL
    oracle can therefore brute-force all pairs and provably reach the
    identical result set, while this plan never goes all-pairs.

    Exact clones collapse BEFORE the band join: the band self-join runs
    over DISTINCT hash values only, so its candidate count is bounded
    by distinct-value bucket occupancy — on a clone-heavy crawl (where
    most duplicates are byte-identical) that is orders of magnitude
    below row count. The irreducible output expansion happens after
    verification, as plain equi-joins of the surviving VALUE pairs back
    to ids: within-value pairs (hamming 0) by one self-join on the full
    64-bit value, cross-value pairs by two hash-value lookups. Hot
    values skew those joins exactly as much as the true answer demands
    (the output IS quadratic in clone count) — AQE's skew-join handles
    the residue. max_hamming above ``bands-1`` would turn banding into
    a recall approximation — rejected loudly rather than silently
    weakened.

    Returns (id_a, id_b, hamming) with id_a < id_b."""
    if not 0 <= max_hamming <= 3:
        raise ValueError("banded join over 4 bands is exact only for "
                         f"max_hamming <= 3 (got {max_hamming})")
    # materialize the slim hash table ONCE: the plan below scans it five
    # times (distinct values, two id lookups, the within-value self-join
    # twice), and without a checkpoint every scan would re-run the
    # upstream extraction lineage — the real image/audio DECODE, the
    # dominant cost at scale (same reasoning as dup_clusters' edge
    # checkpoint: the generator upstream must not re-run per scan)
    h = (hashes.filter(F.col(hash_col).isNotNull())
               .select("doc_id", F.col(hash_col).alias("ahash"),
                       "b0", "b1", "b2", "b3")
               .localCheckpoint(eager=True))
    ids = h.select("doc_id", "ahash")
    vals = h.select("ahash", "b0", "b1", "b2", "b3").distinct()
    b = vals.select("ahash",
                    F.posexplode(F.array("b0", "b1", "b2", "b3"))
                     .alias("band_idx", "band_val"))
    a, bb = b.alias("a"), b.alias("b")
    vpairs = (a.join(bb, (F.col("a.band_idx") == F.col("b.band_idx"))
                         & (F.col("a.band_val") == F.col("b.band_val"))
                         & (F.col("a.ahash") < F.col("b.ahash")))
               .select(F.col("a.ahash").alias("ha"),
                       F.col("b.ahash").alias("hb"))
               .distinct())
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).cast("int")
    vpairs = (vpairs.select("ha", "hb", ham.alias("hamming"))
                    .filter(F.col("hamming") <= max_hamming))
    cross = (vpairs
             .join(ids.select(F.col("doc_id").alias("da"),
                              F.col("ahash").alias("ha")), "ha")
             .join(ids.select(F.col("doc_id").alias("db"),
                              F.col("ahash").alias("hb")), "hb")
             .select(F.least("da", "db").alias("id_a"),
                     F.greatest("da", "db").alias("id_b"), "hamming"))
    i2 = ids.alias("y")
    within = (ids.alias("x")
                 .join(i2, (F.col("x.ahash") == F.col("y.ahash"))
                           & (F.col("x.doc_id") < F.col("y.doc_id")))
                 .select(F.col("x.doc_id").alias("id_a"),
                         F.col("y.doc_id").alias("id_b"),
                         F.lit(0).cast("int").alias("hamming")))
    return within.unionByName(cross)


def fp_cluster_edges(hashes: DataFrame, max_hamming: int = 3,
                     hash_col: str = "ahash") -> DataFrame:
    """Connectivity-equivalent SPARSE edge set for fingerprint
    CLUSTERING — the clone collapse extended from the pair stage to the
    closure: instead of feeding ``dup_clusters`` the full near-dup pair
    listing (output-quadratic in clone count: Σ c² id pairs), emit

    - one VALUE-pair edge between the min-id representatives of each
      surviving distinct-value pair (bounded by distinct-value bucket
      occupancy, like the band join itself), and
    - one STAR edge from each clone to its value's representative
      (≤ one edge per input row).

    Components are PROVABLY identical to the full listing's: every
    sparse edge is itself a true near-dup pair (star edges are Hamming
    0; representative edges passed the Hamming check), so the sparse
    graph is a subgraph of the full one — and every full edge (a, b)
    is covered by the path a—rep(val(a))—rep(val(b))—b, so the full
    graph is contained in the sparse graph's transitive closure.
    Identical components ⇒ identical min-id cluster labels ⇒ identical
    keepers. Use this for the clustering pipelines; the pair-LISTING
    gates keep ``ahash_near_duplicates`` because the listing IS their
    semantics. Returns (id_a, id_b)."""
    h = (hashes.filter(F.col(hash_col).isNotNull())
               .select("doc_id", F.col(hash_col).alias("ahash"),
                       "b0", "b1", "b2", "b3")
               .localCheckpoint(eager=True))
    vmin = (h.groupBy("ahash", "b0", "b1", "b2", "b3")
             .agg(F.min("doc_id").alias("vid_min")))
    stars = (h.join(vmin.select("ahash", "vid_min"), "ahash")
              .filter(F.col("doc_id") != F.col("vid_min"))
              .select(F.least("doc_id", "vid_min").alias("id_a"),
                      F.greatest("doc_id", "vid_min").alias("id_b")))
    b = vmin.select("vid_min", "ahash",
                    F.posexplode(F.array("b0", "b1", "b2", "b3"))
                     .alias("band_idx", "band_val"))
    x, y = b.alias("x"), b.alias("y")
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).cast("int")
    rep_edges = (x.join(y, (F.col("x.band_idx") == F.col("y.band_idx"))
                           & (F.col("x.band_val") == F.col("y.band_val"))
                           & (F.col("x.ahash") < F.col("y.ahash")))
                  .select(F.col("x.ahash").alias("ha"),
                          F.col("y.ahash").alias("hb"),
                          F.col("x.vid_min").alias("va"),
                          F.col("y.vid_min").alias("vb"))
                  .distinct()
                  .filter(ham <= max_hamming)
                  .select(F.least("va", "vb").alias("id_a"),
                          F.greatest("va", "vb").alias("id_b")))
    return stars.unionByName(rep_edges).distinct()


def incremental_fp_dedup(corpus: DataFrame, batch: DataFrame,
                         max_hamming: int = 3,
                         hash_col: str = "ahash") -> DataFrame:
    """Incremental fingerprint near-dup: every pair (Hamming ≤
    ``max_hamming``) that INVOLVES a batch document — batch↔corpus and
    batch↔batch — without re-pairing the corpus against itself. The
    fingerprint twin of ``incremental_dedup`` (MinHash) and
    ``incremental_substring_dedup`` (gram index): as batches commit, the
    corpus side reduces to its DISTINCT-fingerprint index (values +
    band split, plus the value→id expansion map — both persistable and
    append-only), and the per-batch cost is a batch-sized probe of the
    band buckets, never a corpus×corpus join.

    Equivalence contract (pinned in tests/test_llm.py): the result
    equals ``ahash_near_duplicates(corpus ∪ batch)`` minus its
    corpus-internal pairs — same lossless banding (pigeonhole at
    ``max_hamming <= 3``), same exact-clone collapse (value pairs are
    found over DISTINCT fingerprints, then expanded to id pairs by
    equi-joins). At 100 TB the corpus band index is the big static
    side: pre-partitioned by (band_idx, band_val) it is probed, not
    reshuffled, and the probe volume is the batch's 4 bands per
    distinct value."""
    def prep(df):
        return (df.filter(F.col(hash_col).isNotNull())
                  .select("doc_id", F.col(hash_col).alias("ahash"),
                          "b0", "b1", "b2", "b3"))

    # the corpus side is consumed twice (the DISTINCT-value band index
    # and the value→id expansion join), so materialize the slim prepped
    # projection once — otherwise an expensive upstream (a real image
    # decode) re-runs per scan (ADVICE r9). In production the persisted
    # corpus index makes this a cheap snapshot read; here the checkpoint
    # is the in-session equivalent.
    c = prep(corpus).localCheckpoint(eager=True)
    b = prep(batch).localCheckpoint(eager=True)
    c_ids = c.select("doc_id", "ahash")
    b_ids = b.select("doc_id", "ahash")

    def bands(vals):
        return vals.select(
            "ahash", F.posexplode(F.array("b0", "b1", "b2", "b3"))
                      .alias("band_idx", "band_val"))

    c_vals = c.select("ahash", "b0", "b1", "b2", "b3").distinct()
    b_vals = b.select("ahash", "b0", "b1", "b2", "b3").distinct()
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).cast("int")

    # batch value ↔ corpus value candidates through the band buckets
    # (hamming >= 1; equal values pair by the cheaper equi-join below)
    cb, bbnd = bands(c_vals).alias("c"), bands(b_vals).alias("b")
    cross_vals = (bbnd.join(cb, (F.col("b.band_idx") == F.col("c.band_idx"))
                                & (F.col("b.band_val") == F.col("c.band_val"))
                                & (F.col("b.ahash") != F.col("c.ahash")))
                      .select(F.col("b.ahash").alias("ha"),
                              F.col("c.ahash").alias("hb"))
                      .distinct()
                      .select("ha", "hb", ham.alias("hamming"))
                      .filter(F.col("hamming") <= max_hamming))
    cross = (cross_vals
             .join(b_ids.select(F.col("doc_id").alias("da"),
                                F.col("ahash").alias("ha")), "ha")
             .join(c_ids.select(F.col("doc_id").alias("db"),
                                F.col("ahash").alias("hb")), "hb")
             .select(F.least("da", "db").alias("id_a"),
                     F.greatest("da", "db").alias("id_b"), "hamming"))
    # batch value == corpus value: exact clones across the boundary
    eq = (b_ids.select(F.col("doc_id").alias("da"), "ahash")
               .join(c_ids.select(F.col("doc_id").alias("db"), "ahash"),
                     "ahash")
               .select(F.least("da", "db").alias("id_a"),
                       F.greatest("da", "db").alias("id_b"),
                       F.lit(0).cast("int").alias("hamming")))
    # batch-internal pairs: the normal operator over the batch alone
    within = ahash_near_duplicates(b, max_hamming=max_hamming)
    return within.unionByName(eq).unionByName(cross)


def video_fingerprint(frame_hashes: DataFrame,
                      id_col: str = "doc_id") -> DataFrame:
    """Temporal video fingerprint from per-frame perceptual hashes: one
    64-bit hash per VIDEO whose bit i is the strict per-bit MAJORITY of
    the sampled frames' ``image_ahash`` bits (2·Σ bit_i > n_frames,
    ties → 0) — robust to a minority of intro/outro/corrupt frames the
    way a single keyframe hash is not. Input is the frame-level hash
    table (one row per sampled frame, duplicate ids); NULL frame hashes
    (undecodable frames) are excluded from the vote, and a video with
    zero decodable frames yields no row (the explode-of-NULL shape).

    All integer: 64 conditional sums + one count per video, partial-
    aggregated — the same relational shape as SimHash. Returns
    (doc_id, fp bigint, b0..b3 int, n_frames int); near-dup pairs come
    from the SAME lossless banded join (``ahash_near_duplicates`` with
    ``hash_col='fp'``)."""
    h = frame_hashes.filter(F.col("ahash").isNotNull())
    aggs = [F.sum(F.shiftrightunsigned(F.col("ahash"), i)
                  .bitwiseAND(F.lit(1))).alias(f"s{i}")
            for i in range(64)]
    g = (h.groupBy(F.col(id_col).alias("doc_id"))
          .agg(*aggs, F.count(F.lit(1)).alias("n_frames")))
    n2 = F.col("n_frames")
    fp = None
    for i in range(64):
        bit = (F.lit(2) * F.col(f"s{i}") > n2)
        term = F.when(bit, F.lit(1 << i if i < 63 else -(1 << 63))
                      .cast("long")).otherwise(F.lit(0).cast("long"))
        fp = term if fp is None else fp + term
    bands = []
    for j in range(4):
        b = None
        for i in range(16 * j, 16 * j + 16):
            bit = (F.lit(2) * F.col(f"s{i}") > n2)
            term = F.when(bit, F.lit(1 << (i - 16 * j))
                          .cast("int")).otherwise(F.lit(0).cast("int"))
            b = term if b is None else b + term
        bands.append(b.alias(f"b{j}"))
    return g.select("doc_id", fp.alias("fp"), *bands, "n_frames")
