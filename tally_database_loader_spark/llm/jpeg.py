"""Baseline + progressive JPEG (ITU-T T.81) decoder, numpy-only — no
native codec library.

Round 5 added JPEG decode the same way round 4/5 added WAV/PPM/BMP/PNG; round 6 adds progressive (SOF2) and
multi-scan baseline, closing the two honest gaps the round-5 review
called out: progressive decode is the same numpy math (spectral
selection + successive approximation over the identical huffman/
dequant/IDCT path — ~10–15% of real crawl JPEGs are progressive, so
rejecting them was a curation bias at scale), and a legal baseline
non-interleaved multi-scan file previously decoded its first scan alone
(ADVICE r5: confidently-wrong grayscale from the Y scan of a 3-scan
color image).

Scope — DCT JPEGs with huffman entropy coding, the overwhelmingly
dominant profile on the web:

- SOF0 (baseline) and SOF2 (progressive), 8-bit precision, 1 or 3
  components, any sampling factors ≤ 4 (4:4:4, 4:2:0, 4:2:2, … all
  fall out of the generic h/v block loop), restart markers (DRI/RSTn),
  multi-segment DQT/DHT, interleaved and non-interleaved scans, any
  spectral-selection / successive-approximation scan script.
- Arithmetic coding, 12-bit, lossless and hierarchical JPEG reject
  with a loud ``ValueError`` — the module contract everywhere in
  ``llm/multimodal.py``: NULL-feature rows, never confidently-wrong
  pixels. An INCOMPLETE progressive file (a band that never reached
  successive-approximation bit 0, e.g. a truncated crawl payload)
  also rejects loudly rather than rendering a plausible approximation.

Architecture: every scan decodes into per-component int32 COEFFICIENT
stores (zigzag order); rendering happens once, after EOI, from the
accumulated coefficients — baseline is simply the one-scan special
case. Per-block dequant+IDCT keeps the exact op order of the round-5
decoder, so baseline pixel output is bit-identical to round 5 (the
multimodal value-hash gates pin it).

Allocation bound (ADVICE r5): the SOF header is untrusted, so beyond
the 2^26-pixel cap the TOTAL padded sample count across components is
capped at 2^26 (≈ 256 MB of int32 coefficient store) BEFORE any plane
allocates — a few-hundred-byte crafted 3-component payload can no
longer stage multi-GB float64 planes ahead of the first entropy-stream
validation failure.

Correctness evidence (tests/test_jpeg.py): an INDEPENDENT spec-side
encoder (forward DCT per the T.81 definition, Annex K.1 quantization
tables, Annex K.3 typical huffman tables) round-trips seeded random
images through the decoder within the quantization-error bound;
analytic cases (constant blocks → DC-only spectra) decode exactly; a
progressive re-serializer emits the SAME quantized coefficients as a
multi-scan SOF2 stream (DC first, banded AC first, DC + AC
refinements, EOB runs) and the decode must match the baseline decode
bit-for-bit; truncated / arithmetic / incomplete-progressive streams
reject.

The decode entry point returns the same record shape as the PNG/PPM/BMP
decoders in ``llm/multimodal.py`` (format, dims, channels, per-channel
means) plus the full pixel array for tests.

Throughput note: this is a correctness-first reference decoder — the
entropy loop is per-block Python (the IDCT and color math are numpy).
Inside ``mapInPandas`` it parallelizes across executors like any other
payload decode; it is the engine's only JPEG decoder, so every host
decodes the same pixels.
"""

from __future__ import annotations

import struct

import numpy as np

# --- 8x8 DCT basis (T.81 A.3.3): M[u, x] = C(u)/2 * cos((2x+1)u*pi/16) ---
_C = np.array([1.0 / np.sqrt(2.0)] + [1.0] * 7)
_DCT_M = np.array([[_C[u] / 2.0 * np.cos((2 * x + 1) * u * np.pi / 16.0)
                    for x in range(8)] for u in range(8)])

_ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63])

_MAX_SAMPLES = 1 << 26   # total padded samples across all components


def idct2(block: np.ndarray) -> np.ndarray:
    """Inverse 8×8 DCT per the T.81 definition: s = Mᵀ · S · M."""
    return _DCT_M.T @ block @ _DCT_M


def fdct2(block: np.ndarray) -> np.ndarray:
    """Forward 8×8 DCT (the encoder/test side): S = M · s · Mᵀ."""
    return _DCT_M @ block @ _DCT_M.T


class _HuffTable:
    """Canonical huffman decode table from the DHT (BITS, HUFFVAL) lists
    (T.81 C.2): codes of each length assigned in increasing order."""

    def __init__(self, counts: list[int], symbols: bytes):
        self.lookup: dict[tuple[int, int], int] = {}
        code, k = 0, 0
        for length in range(1, 17):
            for _ in range(counts[length - 1]):
                self.lookup[(length, code)] = symbols[k]
                code += 1
                k += 1
            code <<= 1

    def decode(self, br: "_BitReader") -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | br.read_bit()
            sym = self.lookup.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid huffman code in JPEG entropy stream")


class _BitReader:
    """Entropy-segment bit reader: 0xFF00 byte stuffing unwrapped, any
    other marker terminates the segment (RSTn are consumed by the MCU
    loop between restart intervals, not here)."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.bits = 0
        self.nbits = 0

    def read_bit(self) -> int:
        if self.nbits == 0:
            if self.pos >= len(self.data):
                raise ValueError("JPEG entropy stream truncated")
            byte = self.data[self.pos]
            self.pos += 1
            if byte == 0xFF:
                if self.pos >= len(self.data):
                    raise ValueError("JPEG entropy stream truncated")
                nxt = self.data[self.pos]
                if nxt == 0x00:
                    self.pos += 1          # stuffed FF
                else:
                    raise ValueError("unexpected marker inside JPEG scan")
            self.bits = byte
            self.nbits = 8
        self.nbits -= 1
        return (self.bits >> self.nbits) & 1

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def align(self) -> None:
        self.nbits = 0

    def at_marker(self) -> int | None:
        """Peek: is the (byte-aligned) stream at a marker? Return its
        second byte if so."""
        if self.pos + 1 < len(self.data) and self.data[self.pos] == 0xFF \
                and self.data[self.pos + 1] != 0x00:
            return self.data[self.pos + 1]
        return None


def _extend(v: int, t: int) -> int:
    """T.81 F.2.2.1 EXTEND: map the t-bit magnitude to its signed value."""
    if t == 0:
        return 0
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def decode_jpeg_bytes(b: bytes) -> dict:
    """Decode one baseline/progressive JPEG payload to pixels + the
    standard image record (format/width/height/channels/means). Raises
    ``ValueError`` on anything outside the supported profile — loud,
    never wrong."""
    if b[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff_dc: dict[int, _HuffTable] = {}
    huff_ac: dict[int, _HuffTable] = {}
    frame = None
    restart_interval = 0
    saw_scan = False
    while pos + 2 <= len(b):
        if b[pos] != 0xFF:
            raise ValueError("JPEG marker desync")
        # T.81 B.1.1.2: markers may be preceded by any number of 0xFF
        # fill bytes — skip them (review r6: a conforming file with
        # fill padding parsed the real marker byte as a segment length)
        while pos + 2 <= len(b) and b[pos + 1] == 0xFF:
            pos += 1
        if pos + 2 > len(b):
            break
        marker = b[pos + 1]
        if marker == 0xD9:                 # EOI
            break
        if pos + 4 > len(b):
            raise ValueError("truncated JPEG segment")
        seglen, = struct.unpack_from(">H", b, pos + 2)
        seg = b[pos + 4:pos + 2 + seglen]
        if len(seg) != seglen - 2:
            raise ValueError("truncated JPEG segment")
        if marker == 0xDB:                 # DQT
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 15
                if pq != 0:
                    raise ValueError("16-bit quantization unsupported")
                tbl = np.frombuffer(seg, dtype=np.uint8, count=64,
                                    offset=i + 1).astype(np.float64)
                out = np.zeros(64)
                out[_ZIGZAG] = tbl
                qt[tq] = out.reshape(8, 8)
                i += 65
        elif marker == 0xC4:               # DHT
            i = 0
            while i < len(seg):
                tc, th = seg[i] >> 4, seg[i] & 15
                counts = list(seg[i + 1:i + 17])
                n = sum(counts)
                table = _HuffTable(counts, seg[i + 17:i + 17 + n])
                (huff_dc if tc == 0 else huff_ac)[th] = table
                i += 17 + n
        elif marker in (0xC0, 0xC2):       # SOF0 baseline / SOF2 progressive
            if frame is not None:
                raise ValueError("multiple JPEG frames unsupported")
            frame = _parse_frame(seg, progressive=(marker == 0xC2))
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                "only baseline (SOF0) and progressive (SOF2) huffman "
                f"JPEG are supported (got SOF marker 0xFF{marker:02X} — "
                "extended/arithmetic/lossless/hierarchical need libjpeg)")
        elif marker == 0xDD:               # DRI
            restart_interval, = struct.unpack_from(">H", seg, 0)
        elif marker == 0xDA:               # SOS — entropy data follows
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            pos = _decode_sos(b, pos, seg, frame, qt, huff_dc, huff_ac,
                              restart_interval)
            saw_scan = True
            continue
        # APPn / COM / DNL / others: skip
        pos += 2 + seglen
    if frame is None or not saw_scan:
        raise ValueError("JPEG has no SOS scan")
    _check_complete(frame)
    return _render(frame, qt)


def _parse_frame(seg: bytes, progressive: bool) -> dict:
    prec, h, w, ncomp = seg[0], *struct.unpack_from(">HH", seg, 1), seg[5]
    if prec != 8:
        raise ValueError(f"JPEG precision {prec} unsupported")
    if h == 0 or w == 0:
        raise ValueError(f"degenerate JPEG dimensions {w}x{h}")
    if w * h > (1 << 26):
        # a flipped SOF byte must not become a multi-GB plane
        # allocation before the entropy data can contradict it
        raise ValueError(f"implausible JPEG dimensions {w}x{h}")
    comps = []
    for c in range(ncomp):
        cid, hv, tq = seg[6 + 3 * c:9 + 3 * c]
        comps.append({"id": cid, "h": hv >> 4, "v": hv & 15, "tq": tq})
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    if hmax < 1 or vmax < 1 or hmax > 4 or vmax > 4 \
            or any(c["h"] < 1 or c["v"] < 1 for c in comps):
        raise ValueError("JPEG sampling factors out of range")
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    # ADVICE r5: budget the allocation across components BEFORE any
    # store allocates — header-claimed dims are untrusted until the
    # entropy stream backs them
    total = sum((mcus_y * c["v"] * 8) * (mcus_x * c["h"] * 8)
                for c in comps)
    if total > _MAX_SAMPLES:
        raise ValueError(
            f"implausible JPEG component layout: {total} total samples")
    for c in comps:
        c["bx"] = mcus_x * c["h"]          # interleaved-padded block grid
        c["by"] = mcus_y * c["v"]
        # non-interleaved scans walk the component's OWN block grid
        cw = -(-w * c["h"] // hmax)
        ch = -(-h * c["v"] // vmax)
        c["nbx"] = -(-cw // 8)
        c["nby"] = -(-ch // 8)
        c["coefs"] = np.zeros((c["by"], c["bx"], 64), dtype=np.int32)
        # successive-approximation bookkeeping per coefficient index:
        # -1 = never scanned, else the lowest Al delivered so far
        c["al"] = np.full(64, -1, dtype=np.int32)
    return {"w": w, "h": h, "comps": comps, "progressive": progressive,
            "hmax": hmax, "vmax": vmax, "mcus_x": mcus_x, "mcus_y": mcus_y}


def _decode_sos(b: bytes, pos: int, seg: bytes, frame: dict, qt: dict,
                huff_dc: dict, huff_ac: dict, restart_interval: int) -> int:
    """Decode one scan's entropy data into the coefficient stores;
    return the stream position after the scan."""
    ns = seg[0]
    if ns < 1 or len(seg) < 1 + 2 * ns + 3:
        raise ValueError("malformed JPEG SOS header")
    scan = []
    seen_ids = set()
    for c in range(ns):
        cs, tdta = seg[1 + 2 * c], seg[2 + 2 * c]
        comp = next((x for x in frame["comps"] if x["id"] == cs), None)
        if comp is None:
            raise ValueError(f"JPEG scan references unknown "
                             f"component id {cs}")
        if cs in seen_ids:
            raise ValueError("JPEG scan lists a component twice")
        seen_ids.add(cs)
        scan.append({**comp, "comp": comp, "ci": len(scan),
                     "dc": tdta >> 4, "ac": tdta & 15})
    ss, se, ahal = seg[1 + 2 * ns:4 + 2 * ns]
    ah, al = ahal >> 4, ahal & 15
    if frame["progressive"]:
        if not (0 <= ss <= se <= 63) or (ss == 0) != (se == 0):
            raise ValueError("invalid JPEG spectral selection")
        if ss > 0 and ns != 1:
            raise ValueError("progressive AC scan must be single-component")
        if al > 13 or (ah and ah != al + 1):
            raise ValueError("invalid JPEG successive approximation")
    else:
        if (ss, se, ah, al) != (0, 63, 0, 0):
            raise ValueError("baseline JPEG scan must cover 0..63 at Al=0")
    # successive-approximation ordering: a band's first delivery must
    # be an Ah=0 scan; each refinement must continue from the previous
    # Al — anything else renders wrong magnitudes, so reject loudly
    for sc in scan:
        cal = sc["comp"]["al"]
        lo = ss if ss else 0
        hi = se if ss else (0 if frame["progressive"] else 63)
        band = cal[lo:hi + 1]
        if ah == 0:
            if (band != -1).any():
                raise ValueError("JPEG band scanned twice at Ah=0")
        else:
            if (band != ah).any():
                raise ValueError("JPEG refinement does not continue the "
                                 "previous successive-approximation bit")
        band[:] = al
    br = _BitReader(b, pos + 2 + len(seg) + 2)
    if frame["progressive"]:
        if ss == 0 and ah == 0:
            _scan_dc_first(br, frame, scan, huff_dc, restart_interval, al)
        elif ss == 0:
            _scan_dc_refine(br, frame, scan, restart_interval, al)
        elif ah == 0:
            _scan_ac_first(br, scan[0], huff_ac, restart_interval, ss, se,
                           al)
        else:
            _scan_ac_refine(br, scan[0], huff_ac, restart_interval, ss, se,
                            al)
    else:
        _scan_sequential(br, frame, scan, qt, huff_dc, huff_ac,
                         restart_interval)
    br.align()
    return br.pos


def _mcu_iter(frame: dict, scan: list[dict]):
    """Yield (scan-comp, block-row, block-col) in entropy order, plus a
    restart boundary signal: interleaved scans walk MCUs of h×v blocks
    per component; a single-component scan walks that component's own
    block grid (T.81 A.2.2/A.2.3). Yields (None, mcu_index, None) at
    the START of every MCU so the caller can handle restart markers."""
    if len(scan) > 1:
        idx = 0
        for my in range(frame["mcus_y"]):
            for mx in range(frame["mcus_x"]):
                yield None, idx, None
                idx += 1
                for sc in scan:
                    for by in range(sc["v"]):
                        for bx in range(sc["h"]):
                            yield sc, my * sc["v"] + by, mx * sc["h"] + bx
    else:
        sc = scan[0]
        idx = 0
        for by in range(sc["nby"]):
            for bx in range(sc["nbx"]):
                yield None, idx, None
                idx += 1
                yield sc, by, bx


def _restart(br: _BitReader, preds: list[int] | None) -> None:
    br.align()
    m = br.at_marker()
    if m is None or not (0xD0 <= m <= 0xD7):
        raise ValueError("expected JPEG restart marker")
    br.pos += 2
    if preds is not None:
        for i in range(len(preds)):
            preds[i] = 0


def _scan_sequential(br, frame, scan, qt, huff_dc, huff_ac, ri) -> None:
    """Baseline scan (interleaved or single-component): full-spectrum
    DC+AC per block into the coefficient store."""
    preds = [0] * len(scan)
    for sc, by, bx in _mcu_iter(frame, scan):
        if sc is None:
            if ri and by and by % ri == 0:
                _restart(br, preds)
            continue
        ci = sc["ci"]
        dc_t, ac_t = huff_dc.get(sc["dc"]), huff_ac.get(sc["ac"])
        if dc_t is None or ac_t is None or sc["tq"] not in qt:
            raise ValueError(
                "JPEG scan references an undefined DQT/DHT table")
        zz = sc["comp"]["coefs"][by, bx]
        t = dc_t.decode(br)
        if t > 11:
            raise ValueError("invalid JPEG DC category")
        preds[ci] += _extend(br.receive(t), t)
        if abs(preds[ci]) > (1 << 14):
            # legal 8-bit DC stays within ±2047; a crafted diff stream
            # must not overflow the int32 coefficient store
            raise ValueError("JPEG DC predictor out of range")
        zz[0] = preds[ci]
        k = 1
        while k < 64:
            rs = ac_t.decode(br)
            r, s = rs >> 4, rs & 15
            if s == 0:
                if rs == 0x00:             # EOB
                    break
                if rs == 0xF0:             # ZRL
                    k += 16
                    continue
                raise ValueError("invalid JPEG AC run/size")
            k += r
            if k > 63:
                raise ValueError("JPEG AC coefficient index overflow")
            zz[k] = _extend(br.receive(s), s)
            k += 1


def _scan_dc_first(br, frame, scan, huff_dc, ri, al) -> None:
    """Progressive DC, first pass (T.81 G.1.2.1): baseline DC decode
    shifted left by Al."""
    preds = [0] * len(scan)
    for sc, by, bx in _mcu_iter(frame, scan):
        if sc is None:
            if ri and by and by % ri == 0:
                _restart(br, preds)
            continue
        ci = sc["ci"]
        dc_t = huff_dc.get(sc["dc"])
        if dc_t is None:
            raise ValueError("JPEG scan references an undefined DHT table")
        t = dc_t.decode(br)
        if t > 11:
            raise ValueError("invalid JPEG DC category")
        preds[ci] += _extend(br.receive(t), t)
        if abs(preds[ci]) > (1 << 14):
            raise ValueError("JPEG DC predictor out of range")
        sc["comp"]["coefs"][by, bx, 0] = preds[ci] << al


def _scan_dc_refine(br, frame, scan, ri, al) -> None:
    """Progressive DC refinement: one raw bit per block ORed at Al."""
    for sc, by, bx in _mcu_iter(frame, scan):
        if sc is None:
            if ri and by and by % ri == 0:
                _restart(br, None)
            continue
        if br.read_bit():
            sc["comp"]["coefs"][by, bx, 0] |= 1 << al


def _scan_ac_first(br, sc, huff_ac, ri, ss, se, al) -> None:
    """Progressive AC, first pass for one band (T.81 G.1.2.2), with
    EOB-run accumulation."""
    ac_t = huff_ac.get(sc["ac"])
    if ac_t is None:
        raise ValueError("JPEG scan references an undefined DHT table")
    eobrun = 0
    store = sc["comp"]["coefs"]
    done = 0
    for by in range(sc["nby"]):
        for bx in range(sc["nbx"]):
            if ri and done and done % ri == 0:
                _restart(br, None)
                eobrun = 0
            done += 1
            if eobrun > 0:
                eobrun -= 1
                continue
            zz = store[by, bx]
            k = ss
            while k <= se:
                rs = ac_t.decode(br)
                r, s = rs >> 4, rs & 15
                if s == 0:
                    if r < 15:             # EOBn
                        eobrun = (1 << r) - 1
                        if r:
                            eobrun += br.receive(r)
                        break
                    k += 16                # ZRL
                    continue
                k += r
                if k > se:
                    raise ValueError("JPEG AC coefficient index overflow")
                zz[k] = _extend(br.receive(s), s) << al
                k += 1


def _scan_ac_refine(br, sc, huff_ac, ri, ss, se, al) -> None:
    """Progressive AC refinement for one band (T.81 G.1.2.3): newly
    nonzero coefficients carry sign bits; already-nonzero coefficients
    absorb correction bits along the way and through EOB runs."""
    ac_t = huff_ac.get(sc["ac"])
    if ac_t is None:
        raise ValueError("JPEG scan references an undefined DHT table")
    p1, m1 = 1 << al, -(1 << al)
    eobrun = 0
    store = sc["comp"]["coefs"]
    done = 0

    def correct(zz, k):
        if br.read_bit() and (zz[k] & p1) == 0:
            zz[k] += p1 if zz[k] >= 0 else m1

    for by in range(sc["nby"]):
        for bx in range(sc["nbx"]):
            if ri and done and done % ri == 0:
                _restart(br, None)
                eobrun = 0
            done += 1
            zz = store[by, bx]
            k = ss
            if eobrun == 0:
                while k <= se:
                    rs = ac_t.decode(br)
                    r, s = rs >> 4, rs & 15
                    if s == 0:
                        if r < 15:         # EOBn (includes this block)
                            eobrun = 1 << r
                            if r:
                                eobrun += br.receive(r)
                            break
                        val = 0            # ZRL: skip 16 zero-history
                    else:
                        if s != 1:
                            raise ValueError(
                                "invalid JPEG AC refinement size")
                        val = p1 if br.read_bit() else m1
                    while k <= se:
                        if zz[k] != 0:
                            correct(zz, k)
                        else:
                            if r == 0:
                                break
                            r -= 1
                        k += 1
                    if val and k <= se:
                        zz[k] = val
                    k += 1
            if eobrun > 0:
                while k <= se:
                    if zz[k] != 0:
                        correct(zz, k)
                    k += 1
                eobrun -= 1


def _check_complete(frame: dict) -> None:
    """Every coefficient of every component must have reached
    successive-approximation bit 0 — a partial progressive stream
    (truncated crawl payload, missing refinement scans) must reject
    loudly rather than render plausible-but-wrong magnitudes. For
    baseline this is exactly 'each component scanned once'."""
    for c in frame["comps"]:
        if (c["al"] != 0).any():
            missing = int((c["al"] != 0).sum())
            raise ValueError(
                f"incomplete JPEG: component {c['id']} has {missing} "
                "coefficient bands not delivered to bit 0 (truncated or "
                "partial progressive stream, or a component never scanned)")


def _render(frame: dict, qt: dict) -> dict:
    """Dequantize + IDCT the accumulated coefficients, upsample, color
    convert. Per-block op order identical to the round-5 baseline
    decoder (idct2(natural_coefs · q)) so decoded pixels are
    bit-stable across rounds."""
    w, h = frame["w"], frame["h"]
    hmax, vmax = frame["hmax"], frame["vmax"]
    full = []
    for c in frame["comps"]:
        q = qt.get(c["tq"])
        if q is None:
            raise ValueError("JPEG component references an undefined DQT")
        plane = np.zeros((c["by"] * 8, c["bx"] * 8))
        for by in range(c["by"]):
            for bx in range(c["bx"]):
                coefs = np.zeros(64)
                coefs[_ZIGZAG] = c["coefs"][by, bx]
                plane[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] = \
                    idct2(coefs.reshape(8, 8) * q)
        ry, rx = vmax // c["v"], hmax // c["h"]
        if (ry, rx) != (1, 1):
            plane = np.repeat(np.repeat(plane, ry, axis=0), rx, axis=1)
        full.append(plane[:h, :w])
    if len(full) == 1:
        gray = np.clip(full[0] + 128.0, 0, 255)
        px = np.round(gray).astype(np.uint8)
        mean = float(px.astype(np.float64).mean())
        return {"format": "jpeg", "width": w, "height": h, "channels": 1,
                "mean_r": mean, "mean_g": mean, "mean_b": mean,
                "pixels": px[:, :, None]}
    if len(full) != 3:
        raise ValueError(f"JPEG with {len(full)} components unsupported")
    y = full[0] + 128.0
    cb = full[1]
    cr = full[2]
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    bl = y + 1.772 * cb
    rgb = np.clip(np.stack([r, g, bl], axis=2), 0, 255)
    px = np.round(rgb).astype(np.uint8)
    means = px.astype(np.float64).mean(axis=(0, 1))
    return {"format": "jpeg", "width": w, "height": h, "channels": 3,
            "mean_r": float(means[0]), "mean_g": float(means[1]),
            "mean_b": float(means[2]), "pixels": px}
