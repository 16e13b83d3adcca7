"""From-spec baseline JPEG codec (ITU-T T.81, sequential DCT, Huffman).

This closes the largest real functional gap of the multimodal family: a
production multimodal corpus is overwhelmingly JPEG, and until round 10
the image lanes decoded only P6 PPM and 8-bit PNG with JPEG honestly
gated behind "requires PIL". The gate is now narrowed to the genuinely
exotic tiers (progressive/arithmetic/12-bit/lossless), and the baseline
process every camera and web encoder emits decodes here with no
third-party library — the same from-spec discipline as the PNG/WAV/Avro
codecs (sources/avro_python.py).

Decoder (:func:`decode_jpeg`): marker parse (SOI/APPn/COM/DQT/DHT/
SOF0/DRI/SOS/EOI), canonical Huffman decode with byte-unstuffing and
RSTn handling, DC prediction, dequantize, inverse zigzag, exact float64
separable IDCT, level shift + clamp, generic MCU de-interleave for any
sampling factors in {1, 2} (covers 4:4:4, 4:2:2, 4:2:0 and grayscale),
nearest-neighbor chroma upsample, integer-rounded YCbCr->RGB.

Encoder (:func:`make_jpeg`): the matching baseline writer — standard
Annex K quantization tables scaled by ``quality`` (quality=100 yields
all-ones tables, making flat 8x8 tiles round-trip EXACTLY: a flat
block's AC coefficients are 0 and its DC = 8*(v-128) is integral, so
quantize/dequantize is lossless and the adjudicated fixtures' decoded
statistics are closed-form integers — the mm_image entries' oracle
discipline extended to JPEG), 4:4:4 / 4:2:0 / grayscale layouts,
optional restart intervals.

Spark never sees this module directly: the multimodal operators
(operators/multimodal.py) dispatch on the ``\\xff\\xd8`` magic inside
their Arrow-batched mapInPandas kernels, so JPEG blobs ride the same
schema/partitioning/batch shape as every other codec. Entropy decode is
the LUT fast path (round 11): pre-unstuffed restart segments + a fused
16-bit-window lookahead probe (see _decode_scan), with the tables
cached per process (_LUT_CACHE) — quiet-window single-core measures:
~1.2s per 2 MP smooth-content photo, ~4.0s worst-case dense-AC noise
at q75, ~0.6s per VGA, sub-ms per thumbnail; throughput scales with
executor cores since decode is embarrassingly parallel across images.
PIL remains the drop-in at the same mapInPandas seam when a corpus
needs libjpeg-turbo rates or the gated exotic tiers
(progressive/arithmetic/12-bit).
"""

from __future__ import annotations

import struct

JPEG_SIG = b"\xff\xd8"

# Annex K.1/K.2 quantization tables (natural raster order).
_Q_LUMA = [
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
]
_Q_CHROMA = [
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
]

# Annex K.3 typical Huffman tables as (BITS[1..16], HUFFVAL). The
# decoder never depends on these (it reads the file's own DHT); the
# encoder writes them into every file it emits, so encode/decode is
# self-consistent by construction.
_DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_LUMA_VALS = list(range(12))
_DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
_DC_CHROMA_VALS = list(range(12))


_AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_LUMA_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]
_AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
_AC_CHROMA_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
    0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
    0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
    0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
    0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
    0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]


def _zigzag() -> list[int]:
    """The 64-entry zigzag scan as natural-order indices, generated by
    the diagonal walk instead of hand-typed."""
    order = []
    for d in range(15):
        rng = range(max(0, d - 7), min(d, 7) + 1)
        cells = [(d - j, j) for j in rng]  # (row, col) on anti-diagonal d
        if d % 2 == 1:
            cells.reverse()  # odd diagonals walk down-left (j descending)
        order.extend(r * 8 + c for r, c in cells)
    return order


ZIGZAG = _zigzag()


def _dct_matrix(np):
    a = np.zeros((8, 8))
    for u in range(8):
        cu = (1.0 / np.sqrt(2.0)) if u == 0 else 1.0
        for x in range(8):
            a[u, x] = 0.5 * cu * np.cos((2 * x + 1) * u * np.pi / 16.0)
    return a


def _build_huffman(bits: list[int], vals: list[int]):
    """(decode tables, encode dict {value: (code, length)}) from a
    DHT's BITS/HUFFVAL — canonical code assignment per T.81 C.2. The
    decode side is the classic (mincode, maxcode, valptr) triple
    (T.81 F.2.2.3 DECODE): per code length L, the first/last canonical
    code and the HUFFVAL offset — an O(1) list probe per length
    instead of hashing a (length, code) tuple per bit, and no
    per-image flat-table cost (tiny fixture decodes stay fast)."""
    if sum(bits) != len(vals):
        raise OSError("JPEG DHT: BITS total does not match HUFFVAL count")
    mincode = [0] * 17
    maxcode = [-1] * 17
    valptr = [0] * 17
    encode = {}
    code, k = 0, 0
    for length in range(1, 17):
        n = bits[length - 1]
        valptr[length] = k
        mincode[length] = code
        for _ in range(n):
            if code >= (1 << length):
                raise OSError("JPEG DHT: overfull canonical code")
            encode[vals[k]] = (code, length)
            code += 1
            k += 1
        maxcode[length] = code - 1 if n else -1
        code <<= 1
    return (mincode, maxcode, valptr, list(vals)), encode


def _split_ecs_segments(b: bytes, pos: int) -> list[bytes]:
    """Pre-pass over the entropy-coded data starting at ``pos``:
    unstuffs 0xFF00 -> 0xFF, drops 0xFF fill runs (T.81 B.1.1.2 — a
    marker may be preceded by any number of fill 0xFFs, so
    0xFF 0xFF 0xD0 is one RST0), and splits at RSTn markers. Returns
    one bytes segment per restart interval; the first non-RST marker
    ends the scan. Replaces the round-10 byte-at-a-time _BitReader:
    separating unstuffing from bit reading lets the decode loop peek
    fixed 16-bit windows straight off a contiguous buffer (the LUT
    fast path below)."""
    segs: list[bytes] = []
    parts: list[bytes] = []
    n = len(b)
    start = i = pos
    while True:
        j = b.find(0xFF, i)
        if j < 0 or j + 1 >= n:
            raise OSError("JPEG: truncated entropy-coded segment")
        nxt = b[j + 1]
        if nxt == 0x00:  # stuffed data byte
            parts.append(b[start : j + 1])
            start = i = j + 2
        elif nxt == 0xFF:  # fill byte of a run before a marker
            parts.append(b[start:j])
            start = i = j + 1
        elif 0xD0 <= nxt <= 0xD7:  # restart marker
            parts.append(b[start:j])
            segs.append(b"".join(parts))
            parts = []
            start = i = j + 2
        else:  # any real marker ends the scan
            parts.append(b[start:j])
            segs.append(b"".join(parts))
            return segs


_LUT_CACHE: dict = {}  # frozen encode map -> LUT triple (images in a
# corpus overwhelmingly share Huffman tables — every file this repo's
# encoder emits carries the Annex K set — so the ~2-15 ms build is paid
# once per distinct table per process, not per image)
_LUT_CACHE_MAX = 64


def _huff_lut(encode: dict):
    """(sym, length, fused) 16-bit-window lookup tables from a
    canonical encode map. ``sym``/``length``: every window whose top
    ``length`` bits equal a code maps to that code's symbol — ONE list
    probe decodes a symbol, replacing the per-bit F.2.2.3 walk (up to
    16 Python loop iterations each); length 0 marks an invalid prefix.
    ``fused`` is the libjpeg-style lookahead taken to 16 bits: when
    code + SSSS value bits fit the window together, the entry packs
    ``consumed<<24 | symbol<<16 | (EXTENDed value + 0x8000)`` so the
    common case decodes symbol AND coefficient in one probe; 0 means
    fall back to the two-step path."""
    key = frozenset(encode.items())
    hit = _LUT_CACHE.get(key)
    if hit is not None:
        return hit
    sym = [0] * 65536
    ln = [0] * 65536
    fused = [0] * 65536
    for s, (code, length) in encode.items():
        lo = code << (16 - length)
        cnt = 1 << (16 - length)
        sym[lo : lo + cnt] = [s] * cnt
        ln[lo : lo + cnt] = [length] * cnt
        ssss = s & 0x0F
        if ssss == 0:
            # EOB/ZRL (AC) or zero-diff (DC): no value bits follow
            e = (length << 24) | (s << 16) | 0x8000
            fused[lo : lo + cnt] = [e] * cnt
        elif length + ssss <= 16:
            consumed = length + ssss
            tail = 16 - consumed
            for v in range(1 << ssss):
                ext = v if v >= (1 << (ssss - 1)) else v - (1 << ssss) + 1
                e = (consumed << 24) | (s << 16) | (ext + 0x8000)
                flo = ((code << ssss) | v) << tail
                fused[flo : flo + (1 << tail)] = [e] * (1 << tail)
    out = (sym, ln, fused)
    if len(_LUT_CACHE) >= _LUT_CACHE_MAX:
        _LUT_CACHE.clear()
    _LUT_CACHE[key] = out
    return out


def decode_jpeg(b: bytes):
    """(width, height, px[h, w, 3] uint8) from a BASELINE JPEG blob.

    Supports: SOF0 (baseline sequential DCT, 8-bit), 1 or 3 components,
    sampling factors 1 or 2 per axis (4:4:4 / 4:2:2 / 4:2:0 /
    grayscale), restart intervals, multiple DQT/DHT segments. Grayscale
    replicates to 3 channels (the PNG path's convention). Progressive
    (SOF2), extended/arithmetic/lossless/hierarchical processes and
    12-bit precision raise NotImplementedError naming the tier —
    honest gates, never silent wrong pixels."""
    import numpy as np

    if b[:2] != JPEG_SIG:
        raise ValueError("not a JPEG blob")
    qt: dict[int, list[int]] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    frame = None
    restart_interval = 0
    pos = 2
    while True:
        if pos + 2 > len(b):
            raise OSError("JPEG: truncated before SOS")
        if b[pos] != 0xFF:
            raise OSError(f"JPEG: expected marker at offset {pos}")
        while pos + 1 < len(b) and b[pos + 1] == 0xFF:
            pos += 1  # legal fill bytes between markers
        if pos + 1 >= len(b):
            # a trailing 0xFF fill run with no marker byte after it
            raise OSError("JPEG: truncated before SOS")
        marker = b[pos + 1]
        # length-less markers branch BEFORE the 2-byte length read: an
        # EOI-terminated header tail must report the EOI, not a phantom
        # truncation, and a stray RSTn/TEM must raise a named error
        # instead of desyncing the parse on garbage "length" bytes
        if marker == 0xD8:  # stray SOI
            pos += 2
            continue
        if marker == 0xD9:  # EOI without a scan
            raise OSError("JPEG: EOI before any scan data")
        if 0xD0 <= marker <= 0xD7 or marker == 0x01:  # RSTn / TEM
            raise OSError(
                f"JPEG: stray length-less marker 0x{marker:02X} before SOS"
            )
        if pos + 4 > len(b):
            raise OSError("JPEG: truncated before SOS")
        ln = struct.unpack(">H", b[pos + 2 : pos + 4])[0]
        seg = b[pos + 4 : pos + 2 + ln]
        if len(seg) != max(ln - 2, 0):
            raise OSError("JPEG: truncated marker segment")
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 0x0F
                if pq != 0:
                    raise NotImplementedError(
                        "JPEG 16-bit quantization tables (Pq=1) are an "
                        "extended-process tier"
                    )
                if i + 65 > len(seg):
                    raise OSError("JPEG: truncated DQT segment")
                zz = list(seg[i + 1 : i + 65])
                nat = [0] * 64
                for k in range(64):
                    nat[ZIGZAG[k]] = zz[k]
                qt[tq] = nat
                i += 65
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(seg):
                tc, th = seg[i] >> 4, seg[i] & 0x0F
                if i + 17 > len(seg):
                    raise OSError("JPEG: truncated DHT segment")
                bits = list(seg[i + 1 : i + 17])
                n = sum(bits)
                if i + 17 + n > len(seg):
                    raise OSError("JPEG: truncated DHT segment")
                vals = list(seg[i + 17 : i + 17 + n])
                _dec, enc = _build_huffman(bits, vals)
                # the scan decodes through 16-bit-window LUTs built
                # from the canonical encode map (see _huff_lut)
                (huff_dc if tc == 0 else huff_ac)[th] = enc
                i += 17 + n
        elif marker == 0xC0:  # SOF0 baseline
            if len(seg) < 6:
                raise OSError("JPEG: truncated SOF0 segment")
            prec, h, w, ncomp = seg[0], *struct.unpack(">HH", seg[1:5]), seg[5]
            if prec != 8:
                raise NotImplementedError(
                    f"JPEG {prec}-bit precision (baseline is 8-bit)"
                )
            if 6 + 3 * ncomp > len(seg):
                raise OSError("JPEG: truncated SOF0 segment")
            comps = []
            for c in range(ncomp):
                cid, hv, tq = seg[6 + 3 * c : 9 + 3 * c]
                comps.append(
                    {"id": cid, "h": hv >> 4, "v": hv & 0x0F, "tq": tq}
                )
            frame = {"w": w, "h": h, "comps": comps}
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            names = {0xC2: "progressive DCT", 0xC9: "arithmetic sequential",
                     0xCA: "arithmetic progressive", 0xC3: "lossless",
                     0xC1: "extended sequential"}
            raise NotImplementedError(
                f"JPEG process SOF{marker - 0xC0} "
                f"({names.get(marker, 'non-baseline')}) — this codec is "
                "baseline sequential (SOF0) only"
            )
        elif marker == 0xDD:  # DRI
            if len(seg) < 2:
                raise OSError("JPEG: truncated DRI segment")
            restart_interval = struct.unpack(">H", seg[:2])[0]
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise OSError("JPEG: SOS before SOF0")
            if not seg or 1 + 2 * seg[0] + 3 > len(seg):
                raise OSError("JPEG: truncated SOS segment")
            ns = seg[0]
            scan = []
            for c in range(ns):
                cs, tdta = seg[1 + 2 * c], seg[2 + 2 * c]
                comp = next((x for x in frame["comps"] if x["id"] == cs), None)
                if comp is None:
                    raise OSError(
                        f"JPEG: SOS references component id {cs} absent "
                        "from SOF0"
                    )
                scan.append((comp, tdta >> 4, tdta & 0x0F))
            # this codec decodes exactly ONE fully-interleaved scan: a
            # legal multi-scan baseline file (one component per scan,
            # e.g. 4:4:4 three-scan) would otherwise decode the first
            # scan and silently return empty chroma planes — loud gate
            # per the module's "never silent wrong pixels" contract
            if ns != len(frame["comps"]):
                raise NotImplementedError(
                    "JPEG multi-scan baseline (non-interleaved scans): "
                    f"scan covers {ns} of {len(frame['comps'])} frame "
                    "components — this codec decodes a single fully-"
                    "interleaved scan only"
                )
            if ns == 1 and (scan[0][0]["h"], scan[0][0]["v"]) != (1, 1):
                raise NotImplementedError(
                    "JPEG single-component scan with subsampled geometry "
                    "(spec non-interleaved block order differs from the "
                    "interleaved loop) — h=v=1 single-component scans only"
                )
            pos = pos + 2 + ln
            return _decode_scan(
                b, pos, frame, scan, qt, huff_dc, huff_ac,
                restart_interval, np,
            )
        # APPn / COM / others: skip
        pos = pos + 2 + ln


def _decode_scan(b, pos, frame, scan, qt, huff_dc, huff_ac, ri, np):
    w, h = frame["w"], frame["h"]
    comps = frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    if not all(c["h"] in (1, 2) and c["v"] in (1, 2) for c in comps):
        raise NotImplementedError(
            "JPEG sampling factors beyond 1-2 per axis (exotic layouts)"
        )
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    A = _dct_matrix(np)
    pred = {c["id"]: 0 for c in comps}
    for c in comps:
        if qt.get(c["tq"]) is None:
            raise OSError("JPEG: missing quantization table")
    # entropy pass: collect each block's NATURAL-order coefficients and
    # its plane position; the IDCT runs ONCE per component as a batched
    # (n, 8, 8) matmul afterwards (per-block 8x8 matmuls spent more
    # time in numpy dispatch than math)
    coefs = {c["id"]: [] for c in comps}
    positions = {c["id"]: [] for c in comps}
    zz = ZIGZAG
    # LUT fast path (round 11): the ECS is pre-unstuffed into restart
    # segments, then each coefficient decodes off ONE 5-byte window —
    # a fused 16-bit probe yields symbol + EXTENDed value together when
    # code + value bits fit 16 (the libjpeg lookahead trick at window
    # width; two-step sym/len probe + value extract otherwise; the
    # 40-bit window always covers code <= 16 + value <= 15 + offset
    # <= 7 = 38 bits). Replaces the per-bit F.2.2.3 walk (up to 16
    # Python iterations per SYMBOL): measured quiet-window 10.1s ->
    # 4.0s for a 2 MP dense-AC q75 image, and with the _LUT_CACHE the
    # per-image fixed cost drops 5.0ms -> 0.36ms on the adjudicated
    # 16x8 fixtures (SCALING.md round-11 scalars).
    try:
        dc_luts = {td: _huff_lut(huff_dc[td]) for _, td, _ in scan}
        ac_luts = {ta: _huff_lut(huff_ac[ta]) for _, _, ta in scan}
    except KeyError as e:
        raise OSError(f"JPEG: missing Huffman table {e}") from None
    segs = _split_ecs_segments(b, pos)
    seg_idx = 0
    data = segs[0] + b"\xff" * 8
    nbits = (len(data) - 8) * 8
    p = 0
    fb = int.from_bytes
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if ri and mcu_count and mcu_count % ri == 0:
                seg_idx += 1
                if seg_idx >= len(segs):
                    raise OSError("JPEG: expected RST marker at restart")
                data = segs[seg_idx] + b"\xff" * 8
                nbits = (len(data) - 8) * 8
                p = 0
                for k in pred:
                    pred[k] = 0
            for comp, td, ta in scan:
                cid = comp["id"]
                dc_sym, dc_ln, dc_fast = dc_luts[td]
                ac_sym, ac_ln, ac_fast = ac_luts[ta]
                cf = coefs[cid]
                pos_l = positions[cid]
                dc = pred[cid]
                for by in range(comp["v"]):
                    for bx in range(comp["h"]):
                        coef = [0.0] * 64
                        # ---- DC: fused probe, two-step fallback ----
                        sh = p & 7
                        word = fb(data[p >> 3 : (p >> 3) + 5], "big")
                        v16 = (word >> (24 - sh)) & 0xFFFF
                        e = dc_fast[v16]
                        if e:
                            if (e >> 16) & 0xFF > 15:
                                raise OSError("JPEG: invalid DC category")
                            p += e >> 24
                            dc += (e & 0xFFFF) - 0x8000
                        else:
                            length = dc_ln[v16]
                            if length == 0:
                                raise OSError(
                                    "JPEG: invalid Huffman code "
                                    "(no match in 16 bits)"
                                )
                            s = dc_sym[v16]
                            if s > 15:
                                raise OSError("JPEG: invalid DC category")
                            val = (word >> (40 - sh - length - s)) & (
                                (1 << s) - 1
                            )
                            p += length + s
                            dc += (
                                val
                                if val >= (1 << (s - 1))
                                else val - (1 << s) + 1
                            )
                        if p > nbits:
                            raise OSError("JPEG: hit marker while reading bits")
                        coef[0] = float(dc)
                        # ---- AC: run/size loop, fused common case ----
                        k = 1
                        while k < 64:
                            sh = p & 7
                            word = fb(data[p >> 3 : (p >> 3) + 5], "big")
                            v16 = (word >> (24 - sh)) & 0xFFFF
                            e = ac_fast[v16]
                            if e:
                                rs = (e >> 16) & 0xFF
                                ssss = rs & 0x0F
                                p += e >> 24
                                if p > nbits:
                                    raise OSError(
                                        "JPEG: hit marker while reading bits"
                                    )
                                if ssss == 0:
                                    if rs == 0xF0:
                                        k += 16  # ZRL
                                        continue
                                    break  # EOB
                                k += rs >> 4
                                if k > 63:
                                    raise OSError("JPEG: AC run past block end")
                                coef[zz[k]] = float((e & 0xFFFF) - 0x8000)
                                k += 1
                                continue
                            length = ac_ln[v16]
                            if length == 0:
                                raise OSError(
                                    "JPEG: invalid Huffman code "
                                    "(no match in 16 bits)"
                                )
                            rs = ac_sym[v16]
                            ssss = rs & 0x0F  # > 0: ssss==0 is always fused
                            k += rs >> 4
                            if k > 63:
                                raise OSError("JPEG: AC run past block end")
                            val = (word >> (40 - sh - length - ssss)) & (
                                (1 << ssss) - 1
                            )
                            p += length + ssss
                            if p > nbits:
                                raise OSError(
                                    "JPEG: hit marker while reading bits"
                                )
                            coef[zz[k]] = float(
                                val
                                if val >= (1 << (ssss - 1))
                                else val - (1 << ssss) + 1
                            )
                            k += 1
                        pred[cid] = dc
                        cf.append(coef)
                        pos_l.append(
                            ((my * comp["v"] + by) * 8, (mx * comp["h"] + bx) * 8)
                        )
            mcu_count += 1
    out = {}
    for c in comps:
        cid = c["id"]
        pw, ph = mcux * 8 * c["h"], mcuy * 8 * c["v"]
        plane = np.zeros((ph, pw), dtype=np.float64)
        if coefs[cid]:
            dqa = np.array(qt[c["tq"]], dtype=np.float64).reshape(8, 8)
            blocks = np.array(coefs[cid], dtype=np.float64).reshape(-1, 8, 8)
            sp = A.T @ (blocks * dqa) @ A + 128.0  # batched IDCT
            for i, (y0, x0) in enumerate(positions[cid]):
                plane[y0 : y0 + 8, x0 : x0 + 8] = sp[i]
        p = np.clip(np.round(plane), 0, 255)
        # nearest-neighbor upsample to full resolution, then crop
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1 or rx > 1:
            p = np.repeat(np.repeat(p, ry, axis=0), rx, axis=1)
        out[cid] = p[:h, :w]
    if len(comps) == 1:
        g = out[comps[0]["id"]].astype(np.uint8)
        return w, h, np.stack([g, g, g], axis=2)
    y, cb, cr = (out[c["id"]] for c in comps)
    r_ = np.round(y + 1.402 * (cr - 128.0))
    g_ = np.round(y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0))
    b_ = np.round(y + 1.772 * (cb - 128.0))
    px = np.stack([r_, g_, b_], axis=2)
    return w, h, np.clip(px, 0, 255).astype(np.uint8)


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int):
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)  # byte stuffing
        # truncate drained high bits — acc must stay a machine word, not
        # an ever-growing bigint (the reader's O(N^2) finding, writer side)
        self.acc &= (1 << self.nbits) - 1

    def flush(self):
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # 1-fill per T.81 F.1.2.3


def _category(v: int) -> int:
    s, a = 0, abs(v)
    while a:
        a >>= 1
        s += 1
    return s


def _scaled_qtable(base: list[int], quality: int) -> list[int]:
    """IJG quality scaling: quality=100 -> all-ones (lossless for flat
    blocks), 50 -> the Annex K table verbatim."""
    quality = min(max(int(quality), 1), 100)
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return [min(max((t * scale + 50) // 100, 1), 255) for t in base]


def make_jpeg(
    width: int,
    height: int,
    rgb: bytes,
    quality: int = 100,
    subsampling: str = "444",
    restart_interval: int = 0,
    grayscale: bool = False,
) -> bytes:
    """Encode an RGB raster (``width*height*3`` bytes, row-major) as a
    baseline JPEG. ``quality=100`` writes all-ones quantization tables
    (flat 8x8 tiles then round-trip exactly — the adjudicated-fixture
    mode); ``subsampling`` is ``"444"`` or ``"420"`` (box-mean chroma
    downsample); ``grayscale=True`` writes a 1-component file from the
    Rec.601 luma. The standard Annex K Huffman tables are written into
    the file, so any spec decoder (including :func:`decode_jpeg`) reads
    it back without out-of-band state."""
    import numpy as np

    if len(rgb) != width * height * 3:
        raise ValueError("rgb length must be width*height*3")
    if subsampling not in ("444", "420"):
        raise ValueError("subsampling must be '444' or '420'")
    px = np.frombuffer(rgb, dtype=np.uint8).reshape(height, width, 3).astype(np.float64)
    r_, g_, b_ = px[:, :, 0], px[:, :, 1], px[:, :, 2]
    y = np.round(0.299 * r_ + 0.587 * g_ + 0.114 * b_)
    cb = np.round(128.0 - 0.168736 * r_ - 0.331264 * g_ + 0.5 * b_)
    cr = np.round(128.0 + 0.5 * r_ - 0.418688 * g_ - 0.081312 * b_)

    ql = _scaled_qtable(_Q_LUMA, quality)
    qc = _scaled_qtable(_Q_CHROMA, quality)
    A = _dct_matrix(np)
    _, enc_dc_l = _build_huffman(_DC_LUMA_BITS, _DC_LUMA_VALS)
    _, enc_ac_l = _build_huffman(_AC_LUMA_BITS, _AC_LUMA_VALS)
    _, enc_dc_c = _build_huffman(_DC_CHROMA_BITS, _DC_CHROMA_VALS)
    _, enc_ac_c = _build_huffman(_AC_CHROMA_BITS, _AC_CHROMA_VALS)

    if grayscale:
        comps = [{"id": 1, "h": 1, "v": 1, "plane": y, "tq": 0,
                  "dc": enc_dc_l, "ac": enc_ac_l}]
    elif subsampling == "444":
        comps = [
            {"id": 1, "h": 1, "v": 1, "plane": y, "tq": 0, "dc": enc_dc_l, "ac": enc_ac_l},
            {"id": 2, "h": 1, "v": 1, "plane": cb, "tq": 1, "dc": enc_dc_c, "ac": enc_ac_c},
            {"id": 3, "h": 1, "v": 1, "plane": cr, "tq": 1, "dc": enc_dc_c, "ac": enc_ac_c},
        ]
    else:  # 420

        def box2(p):
            ph = p.shape[0] + (p.shape[0] & 1)
            pw = p.shape[1] + (p.shape[1] & 1)
            e = np.empty((ph, pw))
            e[: p.shape[0], : p.shape[1]] = p
            if ph > p.shape[0]:
                e[p.shape[0] :, : p.shape[1]] = p[-1:, :]
            if pw > p.shape[1]:
                e[:, p.shape[1] :] = e[:, p.shape[1] - 1 : p.shape[1]]
            return np.round(
                (e[0::2, 0::2] + e[1::2, 0::2] + e[0::2, 1::2] + e[1::2, 1::2]) / 4.0
            )

        comps = [
            {"id": 1, "h": 2, "v": 2, "plane": y, "tq": 0, "dc": enc_dc_l, "ac": enc_ac_l},
            {"id": 2, "h": 1, "v": 1, "plane": box2(cb), "tq": 1, "dc": enc_dc_c, "ac": enc_ac_c},
            {"id": 3, "h": 1, "v": 1, "plane": box2(cr), "tq": 1, "dc": enc_dc_c, "ac": enc_ac_c},
        ]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-width // (8 * hmax))
    mcuy = -(-height // (8 * vmax))
    # pad every plane to its MCU-aligned size by edge replication
    for c in comps:
        pw, ph = mcux * 8 * c["h"], mcuy * 8 * c["v"]
        p = c["plane"]
        out = np.empty((ph, pw))
        out[: p.shape[0], : p.shape[1]] = p
        if ph > p.shape[0]:
            out[p.shape[0] :, : p.shape[1]] = p[-1:, :]
        if pw > p.shape[1]:
            out[:, p.shape[1] :] = out[:, p.shape[1] - 1 : p.shape[1]]
        c["plane"] = out

    wtr = _BitWriter()
    zz_idx = np.array(ZIGZAG, dtype=np.int64)
    pred = {c["id"]: 0 for c in comps}
    qts = {0: np.array(ql, dtype=np.float64).reshape(8, 8),
           1: np.array(qc, dtype=np.float64).reshape(8, 8)}
    rst_n = 0
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                wtr.flush()
                wtr.out += bytes([0xFF, 0xD0 + (rst_n % 8)])
                rst_n += 1
                for k in pred:
                    pred[k] = 0
            for c in comps:
                q = qts[c["tq"]]
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        y0 = (my * c["v"] + by) * 8
                        x0 = (mx * c["h"] + bx) * 8
                        blk = c["plane"][y0 : y0 + 8, x0 : x0 + 8] - 128.0
                        coef = np.round((A @ blk @ A.T) / q).astype(np.int64)
                        zz = coef.reshape(-1)[zz_idx].tolist()
                        diff = zz[0] - pred[c["id"]]
                        pred[c["id"]] = zz[0]
                        s = _category(diff)
                        code, ln = c["dc"][s]
                        wtr.write(code, ln)
                        if s:
                            wtr.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
                        run = 0
                        last_nz = max((k for k in range(1, 64) if zz[k]), default=0)
                        for k in range(1, last_nz + 1):
                            if zz[k] == 0:
                                run += 1
                                continue
                            while run > 15:
                                code, ln = c["ac"][0xF0]
                                wtr.write(code, ln)  # ZRL
                                run -= 16
                            s = _category(zz[k])
                            code, ln = c["ac"][(run << 4) | s]
                            wtr.write(code, ln)
                            v = zz[k]
                            wtr.write(v if v >= 0 else v + (1 << s) - 1, s)
                            run = 0
                        if last_nz < 63:
                            code, ln = c["ac"][0x00]
                            wtr.write(code, ln)  # EOB
            mcu_count += 1
    wtr.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    def dqt(tq: int, nat: list[int]) -> bytes:
        zz = bytes(nat[ZIGZAG[k]] for k in range(64))
        return seg(0xDB, bytes([tq]) + zz)

    def dht(tc: int, th: int, bits: list[int], vals: list[int]) -> bytes:
        return seg(0xC4, bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals))

    out = bytearray(JPEG_SIG)
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += dqt(0, ql)
    if not grayscale:
        out += dqt(1, qc)
    sof = bytearray([8]) + struct.pack(">HH", height, width) + bytes([len(comps)])
    for c in comps:
        sof += bytes([c["id"], (c["h"] << 4) | c["v"], c["tq"]])
    out += seg(0xC0, bytes(sof))
    out += dht(0, 0, _DC_LUMA_BITS, _DC_LUMA_VALS)
    out += dht(1, 0, _AC_LUMA_BITS, _AC_LUMA_VALS)
    if not grayscale:
        out += dht(0, 1, _DC_CHROMA_BITS, _DC_CHROMA_VALS)
        out += dht(1, 1, _AC_CHROMA_BITS, _AC_CHROMA_VALS)
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytearray([len(comps)])
    for c in comps:
        sos += bytes([c["id"], 0x00 if c["tq"] == 0 else 0x11])
    sos += bytes([0x00, 0x3F, 0x00])
    out += seg(0xDA, bytes(sos))
    out += wtr.out
    out += bytes([0xFF, 0xD9])
    return bytes(out)
