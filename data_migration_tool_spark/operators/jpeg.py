"""Baseline JPEG (ITU-T T.81, SOF0) encoder + decoder in pure numpy.

Closes the multimodal lane's one disclosed stub branch for the most
common compressed image container: until r9, JPEG bytes fell through
``decode_media`` to the all-null decode (the honesty branch — no
ffmpeg/PIL in this environment). The reference has no media path at
all (extension scope), so the contract here is the repo's own
multimodal convention (``operators/multimodal.py``): encoder and
decoder are INDEPENDENT code paths — the writer packs markers and
entropy-codes from the spec's tables, the parser rebuilds quant and
Huffman tables from the DQT/DHT segments actually present in the file
(never from shared constants), so round-trip tests genuinely exercise
both directions of the format.

Scope (stated, not silent):

- Encode: baseline sequential DCT, 8-bit, grayscale or YCbCr 4:4:4,
  standard Annex-K quantization at a caller-scaled quality, canonical
  Huffman tables written to DHT.
- Decode: baseline SOF0, 8-bit, any component count 1/3, sampling
  factors h,v ∈ {1,2} (covers 4:4:4, 4:2:2, 4:2:0), restart markers,
  0xFF byte stuffing. Progressive (SOF2), arithmetic coding, and
  12-bit precision return ``None`` → ``decode_media``'s disclosed
  null branch, same as before.

Scale posture: this runs inside the Arrow-batched ``mapInPandas``
decode stage of ``extract_media_features`` — per-blob Python work,
dedup-before-decode upstream, so cost is per DISTINCT image, not per
row. Per-block entropy decode is pure-Python (a demonstration-grade
codec, ~1 MB/s); the IDCT/color math is vectorized numpy. For bulk
lakes the stated answer remains a native codec library on the
executors; this lane exists so the plumbing (schema, batching,
dispatch, null-handling) is exercised by REAL compressed bytes.
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------- tables


def _zigzag() -> list[int]:
    """Row-major indices in zigzag scan order, generated (not recalled):
    anti-diagonal d runs bottom-left→top-right when d is even."""
    out = []
    for d in range(15):
        rows = range(max(0, d - 7), min(d, 7) + 1)
        for r in (rows if d % 2 else reversed(list(rows))):
            out.append(r * 8 + (d - r))
    return out


_ZZ = _zigzag()
_UNZZ = [0] * 64
for _i, _z in enumerate(_ZZ):
    _UNZZ[_z] = _i

# Annex K quantization tables (quality 50 reference)
_Q_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int32).reshape(8, 8)

_Q_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int32).reshape(8, 8)

# Annex K Huffman specs: (counts per code length 1..16, symbols).
# Correctness of the ROUND TRIP does not depend on these matching the
# published standard — the decoder rebuilds its tables from the DHT
# bytes in the file — but standard tables keep the output readable by
# any conformant decoder.
_DC_LUMA = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0], list(range(12)))
_DC_CHROMA = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0], list(range(12)))
_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
        0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
        0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
        0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
        0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
        0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
        0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
        0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
        0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)
_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 119],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
        0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
        0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
        0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
        0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
        0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
        0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
        0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
        0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
        0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
        0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)

# Orthonormal 8-point DCT-II matrix: forward G = M B Mᵀ, inverse
# B = Mᵀ G M. Matches the T.81 FDCT/IDCT definitions exactly.
_DCT_M = np.zeros((8, 8))
for _u in range(8):
    _c = (1 / np.sqrt(2)) if _u == 0 else 1.0
    for _x in range(8):
        _DCT_M[_u, _x] = 0.5 * _c * np.cos((2 * _x + 1) * _u * np.pi / 16)


def _canonical_codes(counts: list[int], symbols: list[int]) -> dict[int, tuple[int, int]]:
    """symbol → (code, length), canonical JPEG assignment."""
    out: dict[int, tuple[int, int]] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            out[symbols[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _scaled_quant(base: np.ndarray, quality: int) -> np.ndarray:
    """IJG quality scaling (1..100 → table scale), clamped to 1..255."""
    quality = min(max(int(quality), 1), 100)
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    q = (base * scale + 50) // 100
    return np.clip(q, 1, 255).astype(np.int32)


# ---------------------------------------------------------------- encoder


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            byte = (self.acc >> (self.n - 8)) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.buf.append(0x00)
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def flush(self) -> None:
        if self.n:
            self.put(0x7F, 8 - self.n)  # pad with 1-bits per spec


def _magnitude(v: int) -> tuple[int, int]:
    """(size, bits) for a DC diff / AC coefficient."""
    if v == 0:
        return 0, 0
    size = int(abs(v)).bit_length()
    bits = v if v > 0 else v + (1 << size) - 1
    return size, bits


def _encode_block(
    bw: _BitWriter, block: np.ndarray, q: np.ndarray,
    dc_codes: dict, ac_codes: dict, pred: int,
) -> int:
    g = _DCT_M @ (block - 128.0) @ _DCT_M.T
    coef = np.round(g / q).astype(np.int64)
    zz = coef.flat[np.array(_ZZ)]
    dc = int(zz[0])
    size, bits = _magnitude(dc - pred)
    c, ln = dc_codes[size]
    bw.put(c, ln)
    if size:
        bw.put(bits, size)
    run = 0
    last_nz = int(np.max(np.nonzero(zz)[0])) if np.any(zz[1:]) else 0
    for k in range(1, last_nz + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            c, ln = ac_codes[0xF0]  # ZRL
            bw.put(c, ln)
            run -= 16
        size, bits = _magnitude(v)
        c, ln = ac_codes[(run << 4) | size]
        bw.put(c, ln)
        bw.put(bits, size)
        run = 0
    if last_nz < 63:
        c, ln = ac_codes[0x00]  # EOB
        bw.put(c, ln)
    return dc


def encode_jpeg(
    pixels: np.ndarray,
    quality: int = 85,
    subsample: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """Baseline JFIF bytes from an (H, W) grayscale or (H, W, 3) RGB
    uint8 array. Color encodes as YCbCr 4:4:4, or 4:2:0 with
    ``subsample=True`` (2×2 mean-pooled chroma, Y sampling 2,2 — the
    dominant wild format, so the decoder's subsampled MCU path has a
    real producer to round-trip against). ``restart_interval`` > 0
    emits DRI + RSTn markers every N MCUs (predictor reset +
    byte-align), exercising the decoder's resync path."""
    px = np.asarray(pixels)
    if px.ndim == 2:
        planes = [px.astype(np.float64)]
    elif px.ndim == 3 and px.shape[2] == 3:
        r = px[..., 0].astype(np.float64)
        g = px[..., 1].astype(np.float64)
        b = px[..., 2].astype(np.float64)
        planes = [
            0.299 * r + 0.587 * g + 0.114 * b,
            -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
            0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,
        ]
    else:
        raise ValueError("encode_jpeg expects (H,W) gray or (H,W,3) RGB")
    h, w = planes[0].shape
    if not (0 < h <= 0xFFFF and 0 < w <= 0xFFFF):
        raise ValueError(f"image dims out of JPEG range: {w}x{h}")
    ncomp = len(planes)
    subsample = subsample and ncomp == 3
    if subsample:
        # 2×2 mean-pooled chroma (pad to even dims first)
        for i in (1, 2):
            p = planes[i]
            p = np.pad(p, ((0, p.shape[0] % 2), (0, p.shape[1] % 2)), mode="edge")
            planes[i] = (
                p.reshape(p.shape[0] // 2, 2, p.shape[1] // 2, 2).mean(axis=(1, 3))
            )
    qluma = _scaled_quant(_Q_LUMA, quality)
    qchroma = _scaled_quant(_Q_CHROMA, quality)
    y_hv = 0x22 if subsample else 0x11

    out = bytearray(b"\xff\xd8")  # SOI
    out += (
        b"\xff\xe0" + struct.pack(">H", 16)
        + b"JFIF\x00\x01\x01\x00" + struct.pack(">HHBB", 1, 1, 0, 0)
    )
    for tid, q in ((0, qluma),) + (((1, qchroma),) if ncomp == 3 else ()):
        out += b"\xff\xdb" + struct.pack(">HB", 67, tid)
        out += bytes(int(q.flat[z]) for z in _ZZ)
    out += b"\xff\xc0" + struct.pack(">HBHHB", 8 + 3 * ncomp, 8, h, w, ncomp)
    for cid in range(1, ncomp + 1):
        out += struct.pack(
            "BBB", cid, y_hv if cid == 1 else 0x11, 0 if cid == 1 else 1
        )
    huffs = [(0x00, _DC_LUMA), (0x10, _AC_LUMA)]
    if ncomp == 3:
        huffs += [(0x01, _DC_CHROMA), (0x11, _AC_CHROMA)]
    for tclass_id, (counts, symbols) in huffs:
        out += b"\xff\xc4" + struct.pack(">HB", 19 + len(symbols), tclass_id)
        out += bytes(counts) + bytes(symbols)
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * ncomp, ncomp)
    for cid in range(1, ncomp + 1):
        out += struct.pack("BB", cid, 0x00 if cid == 1 else 0x11)
    out += b"\x00\x3f\x00"  # Ss/Se/AhAl

    dc_l = _canonical_codes(*_DC_LUMA)
    ac_l = _canonical_codes(*_AC_LUMA)
    dc_c = _canonical_codes(*_DC_CHROMA)
    ac_c = _canonical_codes(*_AC_CHROMA)
    # Per-component MCU geometry: luma contributes hs×vs blocks per MCU
    specs = []  # (padded plane, hs, vs, q, dc_codes, ac_codes)
    for ci in range(ncomp):
        hs = vs = 2 if (subsample and ci == 0) else 1
        q = qluma if ci == 0 else qchroma
        specs.append((
            planes[ci], hs, vs, q,
            dc_l if ci == 0 else dc_c, ac_l if ci == 0 else ac_c,
        ))
    hmax = max(s[1] for s in specs)
    vmax = max(s[2] for s in specs)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    padded = []
    for p, hs, vs, q, dcc, acc in specs:
        ph, pw = mcuy * 8 * vs, mcux * 8 * hs
        padded.append((
            np.pad(p, ((0, ph - p.shape[0]), (0, pw - p.shape[1])), mode="edge"),
            hs, vs, q, dcc, acc,
        ))
    bw = _BitWriter()
    preds = [0] * ncomp
    n_mcu = 0
    rst = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and n_mcu and n_mcu % restart_interval == 0:
                bw.flush()
                out_marker = bytes((0xFF, 0xD0 + rst))
                bw.buf += out_marker
                rst = (rst + 1) % 8
                preds = [0] * ncomp
            n_mcu += 1
            for ci, (p, hs, vs, q, dcc, acc) in enumerate(padded):
                for by in range(vs):
                    for bx in range(hs):
                        y0 = (my * vs + by) * 8
                        x0 = (mx * hs + bx) * 8
                        preds[ci] = _encode_block(
                            bw, p[y0:y0 + 8, x0:x0 + 8], q, dcc, acc, preds[ci]
                        )
    bw.flush()
    out += bw.buf
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ---------------------------------------------------------------- decoder


class _BitReader:
    """MSB-first reader over entropy-coded data: un-stuffs 0xFF00,
    surfaces RSTn as events, stops at any other marker."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.n = 0
        self.marker: int | None = None

    def _fill(self) -> bool:
        d, p = self.data, self.pos
        if self.marker is not None or p >= len(d):
            return False
        byte = d[p]
        if byte == 0xFF:
            if p + 1 >= len(d):
                return False
            nxt = d[p + 1]
            if nxt == 0x00:
                self.pos = p + 2
            elif 0xD0 <= nxt <= 0xD7:  # RSTn consumed by resync()
                self.marker = nxt
                return False
            else:  # EOI / next segment: stop
                self.marker = nxt
                return False
        else:
            self.pos = p + 1
        self.acc = (self.acc << 8) | byte
        self.n += 8
        return True

    def bits(self, k: int) -> int:
        while self.n < k:
            if not self._fill():
                # per T.81 a truncated stream pads with 1-bits
                self.acc = (self.acc << 8) | 0xFF
                self.n += 8
        self.n -= k
        v = (self.acc >> self.n) & ((1 << k) - 1)
        self.acc &= (1 << self.n) - 1
        return v

    def resync(self) -> None:
        """Discard pad bits and consume the RSTn marker — whether the
        reader already ran into it mid-fill (marker set) or stopped on
        the byte boundary just before it (marker not yet seen)."""
        self.acc = 0
        self.n = 0
        if self.marker is not None:
            if 0xD0 <= self.marker <= 0xD7:
                self.pos += 2
                self.marker = None
            return
        if (
            self.pos + 1 < len(self.data)
            and self.data[self.pos] == 0xFF
            and 0xD0 <= self.data[self.pos + 1] <= 0xD7
        ):
            self.pos += 2


class _HuffDecoder:
    def __init__(self, counts: list[int], symbols: list[int]) -> None:
        self.lut: dict[tuple[int, int], int] = {}
        code, k = 0, 0
        for length in range(1, 17):
            for _ in range(counts[length - 1]):
                self.lut[(length, code)] = symbols[k]
                code += 1
                k += 1
            code <<= 1

    def read(self, br: _BitReader) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | br.bits(1)
            sym = self.lut.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code in entropy stream")


def _extend(t: int, s: int) -> int:
    return t if t >= (1 << (s - 1)) else t - (1 << s) + 1


def decode_jpeg(content: bytes) -> np.ndarray | None:
    """(H, W) gray or (H, W, 3) RGB uint8 from baseline-JPEG bytes;
    ``None`` when the stream is not a decodable baseline JPEG (wrong
    magic, progressive, arithmetic, 12-bit, sampling factors > 2)."""
    if len(content) < 4 or content[:3] != b"\xff\xd8\xff":
        return None
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], _HuffDecoder] = {}
    frame = None  # (h, w, [(cid, hs, vs, tq)])
    restart = 0
    pos = 2
    data = content
    try:
        while pos + 4 <= len(data):
            if data[pos] != 0xFF:
                return None
            # legal streams may pad with repeated 0xFF fill bytes before
            # the marker code (T.81 B.1.1.2) — skip them so seglen is
            # read from the real segment, not a fill byte
            while pos + 4 <= len(data) and data[pos + 1] == 0xFF:
                pos += 1
            if pos + 4 > len(data):
                return None
            marker = data[pos + 1]
            if marker == 0xD9:  # EOI before any scan
                return None
            if marker == 0x01 or 0xD0 <= marker <= 0xD8:
                # length-less markers (TEM, RSTn, SOI) outside a scan:
                # reading a 2-byte length here would walk to garbage —
                # bail by design instead of parse-by-luck
                return None
            seglen = struct.unpack_from(">H", data, pos + 2)[0]
            seg = data[pos + 4 : pos + 2 + seglen]
            if marker == 0xDB:  # DQT (possibly several tables)
                sp = 0
                while sp < len(seg):
                    pq, tq = seg[sp] >> 4, seg[sp] & 0xF
                    if pq != 0:
                        return None  # 16-bit tables: not baseline-8
                    tbl = np.zeros(64, dtype=np.int32)
                    for i in range(64):
                        tbl[_ZZ[i]] = seg[sp + 1 + i]
                    qt[tq] = tbl.reshape(8, 8)
                    sp += 65
            elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9,
                            0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
                return None  # progressive / arithmetic / lossless
            elif marker == 0xC0:  # SOF0 baseline
                prec, h, w, nc = struct.unpack_from(">BHHB", seg, 0)
                if prec != 8 or nc not in (1, 3):
                    return None
                comps = []
                for i in range(nc):
                    cid, hv, tq = struct.unpack_from("BBB", seg, 6 + 3 * i)
                    hs, vs = hv >> 4, hv & 0xF
                    if not (1 <= hs <= 2 and 1 <= vs <= 2):
                        return None
                    comps.append((cid, hs, vs, tq))
                frame = (h, w, comps)
            elif marker == 0xC4:  # DHT (possibly several tables)
                sp = 0
                while sp + 17 <= len(seg):
                    tclass, tid = seg[sp] >> 4, seg[sp] & 0xF
                    counts = list(seg[sp + 1 : sp + 17])
                    nsym = sum(counts)
                    symbols = list(seg[sp + 17 : sp + 17 + nsym])
                    huff[(tclass, tid)] = _HuffDecoder(counts, symbols)
                    sp += 17 + nsym
            elif marker == 0xDD:  # DRI
                restart = struct.unpack_from(">H", seg, 0)[0]
            elif marker == 0xDA:  # SOS: entropy data follows
                if frame is None:
                    return None
                ns = seg[0]
                scan = []
                for i in range(ns):
                    cs, tabs = struct.unpack_from("BB", seg, 1 + 2 * i)
                    scan.append((cs, tabs >> 4, tabs & 0xF))
                return _decode_scan(
                    data, pos + 2 + seglen, frame, scan, qt, huff, restart
                )
            pos += 2 + seglen
    except (struct.error, IndexError, KeyError, ValueError):
        return None
    return None


def _decode_scan(data, pos, frame, scan, qt, huff, restart):
    h, w, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    planes = {
        cid: np.zeros((mcuy * 8 * vs, mcux * 8 * hs))
        for cid, hs, vs, _ in comps
    }
    br = _BitReader(data, pos)
    preds = {cid: 0 for cid, *_ in comps}
    scan_tabs = {cs: (td, ta) for cs, td, ta in scan}
    n_mcu = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart and n_mcu and n_mcu % restart == 0:
                br.resync()
                preds = {cid: 0 for cid, *_ in comps}
            n_mcu += 1
            for cid, hs, vs, tq in comps:
                td, ta = scan_tabs[cid]
                dc_dec, ac_dec = huff[(0, td)], huff[(1, ta)]
                q = qt[tq]
                for by in range(vs):
                    for bx in range(hs):
                        zz = np.zeros(64, dtype=np.int64)
                        s = dc_dec.read(br)
                        diff = _extend(br.bits(s), s) if s else 0
                        preds[cid] += diff
                        zz[0] = preds[cid]
                        k = 1
                        while k < 64:
                            rs = ac_dec.read(br)
                            r, s = rs >> 4, rs & 0xF
                            if s == 0:
                                if r == 15:  # ZRL
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("AC index out of range")
                            zz[k] = _extend(br.bits(s), s)
                            k += 1
                        coef = np.zeros(64, dtype=np.float64)
                        coef[np.array(_ZZ)] = zz
                        block = _DCT_M.T @ (coef.reshape(8, 8) * q) @ _DCT_M
                        y0 = (my * vs + by) * 8
                        x0 = (mx * hs + bx) * 8
                        planes[cid][y0:y0 + 8, x0:x0 + 8] = block + 128.0
    full = []
    for cid, hs, vs, _ in comps:
        p = planes[cid]
        if hs < hmax or vs < vmax:
            p = np.repeat(np.repeat(p, vmax // vs, axis=0), hmax // hs, axis=1)
        full.append(p[:h, :w])
    if len(full) == 1:
        return np.clip(np.round(full[0]), 0, 255).astype(np.uint8)
    y, cb, cr = full
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.clip(np.round(np.stack([r, g, b], axis=-1)), 0, 255).astype(np.uint8)
