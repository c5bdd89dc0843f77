"""Baseline JPEG (ITU-T T.81) codec — pure numpy/stdlib, no PIL.

Closes the last stubbed codec surface from round 3: ``codecs.decode_bytes``
previously raised ``NotImplementedError`` for JPEG, the most common
real-corpus image payload. This module implements the *sequential baseline
DCT* profile end to end:

* decoder: marker walk (SOI/APP/COM/DQT/SOF0/SOF1/DHT/DRI/SOS/RST/EOI),
  Huffman entropy decode with byte-unstuffing and restart-interval
  resync, dequantization, zigzag, 8x8 IDCT, chroma upsampling for
  integer-ratio sampling factor layouts (4:4:4 / 4:2:2 / 4:2:0 / 4:1:1;
  fractional ratios like 3:2 raise ``NotImplementedError``), and
  JFIF YCbCr -> RGB conversion;
* encoder (fixture generation + tests): RGB/grayscale in, 4:4:4 or
  4:2:0 out, standard Annex K Huffman tables, caller-supplied
  quantization tables (default all-ones).

Progressive (SOF2) decodes too (round 12): spectral selection,
successive approximation (DC and AC first + refinement passes),
cross-block EOB runs, restart intervals — coefficients accumulate
across scans and reconstruction reuses the baseline arithmetic, so a
progressive stream decodes pixel-identically to the baseline encoding
of the same raster (the equivalence test). A progressive ENCODER
(`encode_jpeg_progressive`) exists for fixture generation.

12-bit precision decodes too (round 13 sequential, round 14
progressive): SOF1 extended-sequential AND SOF2 progressive frames
with samples 0..4095, 16-bit DQT entries (Pq=1), level shift 2048,
wider Huffman categories (DC to 15, AC SSSS to 14) —
``decode_jpeg_pixels`` returns uint16 and
``encode_jpeg_baseline(precision=12)`` /
``encode_jpeg_progressive(precision=12)`` generate fixtures (the
progressive entropy coder's per-scan flat tables are built from the
categories actually present, so the wider 12-bit range costs no
special casing there). Arithmetic coding, hierarchical, and lossless
still raise ``NotImplementedError`` — the honesty boundary.

Exactness contract used by the ``media_decode_jpeg`` gate query: with
all-ones quantization tables a *constant-fill* image survives the whole
encode/decode chain bit-exactly (each 8x8 block is DC-only, DC = 8 *
(level-shifted value) is an exact integer, and the IDCT of a DC-only
block lands within 1e-12 of that integer, far from the round-half-up
boundary). The color-convert expressions below are written in the exact
left-associated operand order that the DuckDB oracle SQL uses, so both
engines evaluate identical IEEE-double chains.

Reference parity anchor: the reference stores media as opaque column
values (`db/ColumnFamily.java` byte[] values); decode/feature-extract is
client-side there, first-class mapInPandas here.
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------------------
# tables (ITU-T T.81 Annex K — public spec constants)
# ---------------------------------------------------------------------------

#: zigzag scan order: ZIGZAG[i] = (row, col) of the i-th coefficient
ZIGZAG = [
    (0, 0), (0, 1), (1, 0), (2, 0), (1, 1), (0, 2), (0, 3), (1, 2),
    (2, 1), (3, 0), (4, 0), (3, 1), (2, 2), (1, 3), (0, 4), (0, 5),
    (1, 4), (2, 3), (3, 2), (4, 1), (5, 0), (6, 0), (5, 1), (4, 2),
    (3, 3), (2, 4), (1, 5), (0, 6), (0, 7), (1, 6), (2, 5), (3, 4),
    (4, 3), (5, 2), (6, 1), (7, 0), (7, 1), (6, 2), (5, 3), (4, 4),
    (3, 5), (2, 6), (1, 7), (2, 7), (3, 6), (4, 5), (5, 4), (6, 3),
    (7, 2), (7, 3), (6, 4), (5, 5), (4, 6), (3, 7), (4, 7), (5, 6),
    (6, 5), (7, 4), (7, 5), (6, 6), (5, 7), (6, 7), (7, 6), (7, 7),
]

# Annex K.3: typical Huffman tables. bits[i] = number of codes of length
# i+1 (16 entries); vals = symbols in code order.
DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUMA_VALS = list(range(12))
DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHROMA_VALS = list(range(12))

AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUMA_VALS = [
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
]
AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_CHROMA_VALS = [
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
]

#: 8-point DCT-II basis: _DCT_A[u, x] = C(u)/2 * cos((2x+1)u*pi/16);
#: forward F = A @ f @ A.T, inverse f = A.T @ F @ A.
_DCT_A = np.zeros((8, 8))
for _u in range(8):
    _c = (1.0 / np.sqrt(2.0)) if _u == 0 else 1.0
    for _x in range(8):
        _DCT_A[_u, _x] = 0.5 * _c * np.cos((2 * _x + 1) * _u * np.pi / 16.0)


#: decode-side sanity bound on declared raster size (268 MP) — JPEG allows
#: 65535x65535, but a corrupt header must not OOM a 100 TB pipeline task
MAX_PIXELS = 1 << 28

#: flat zigzag permutation: _ZZ_FLAT[i] = 8*row + col of the i-th zigzag
#: coefficient (encode-side gather); _ZZ_INV is its inverse (decode-side
#: scatter: natural-order flat coef = zz[_ZZ_INV]). Precomputed once so
#: the per-block (de)zigzag is a single numpy fancy-index instead of a
#: 64-iteration Python loop (r15: ~8% of codec CPU on the gate's tiny
#: rasters, where per-block fixed costs dominate).
_ZZ_FLAT = np.array([r * 8 + c for r, c in ZIGZAG], dtype=np.intp)
_ZZ_INV = np.argsort(_ZZ_FLAT)


def _round_half_up(x: np.ndarray) -> np.ndarray:
    """floor(x + 0.5) — the rounding mode shared with the DuckDB oracle
    (Python/numpy banker's rounding would diverge at .5 boundaries)."""
    return np.floor(x + 0.5)


# ---------------------------------------------------------------------------
# Huffman code construction (shared by encoder and decoder)
# ---------------------------------------------------------------------------


#: (bits, vals) -> built table memos. A stream decodes the SAME handful
#: of Huffman tables for every image (the gate's corpus reuses Annex K's
#: four tables across all 5k payloads), yet table construction was paid
#: per image — ~20% of codec CPU on tiny rasters (r15, guide §4.5:
#: heavyweight init once per task, not per row). Results are read-only
#: lookup dicts, so sharing one instance is safe. Bounded: hostile
#: streams with unbounded distinct tables reset the memo instead of
#: growing a task-lifetime leak.
_CODES_MEMO: dict[tuple[tuple[int, ...], tuple[int, ...]], dict[int, tuple[int, int]]] = {}
_DECODE_MEMO: dict[tuple[tuple[int, ...], tuple[int, ...]], dict[tuple[int, int], int]] = {}
_MEMO_CAP = 256


def _build_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) per T.81 C.2 canonical code assignment."""
    key = (tuple(bits), tuple(vals))
    cached = _CODES_MEMO.get(key)
    if cached is not None:
        return cached
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    if len(_CODES_MEMO) >= _MEMO_CAP:
        _CODES_MEMO.clear()
    _CODES_MEMO[key] = codes
    return codes


def _build_decode_table(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) -> symbol lookup for the decoder."""
    key = (tuple(bits), tuple(vals))
    cached = _DECODE_MEMO.get(key)
    if cached is not None:
        return cached
    table = {(ln, c): s for s, (c, ln) in _build_codes(bits, vals).items()}
    if len(_DECODE_MEMO) >= _MEMO_CAP:
        _DECODE_MEMO.clear()
    _DECODE_MEMO[key] = table
    return table


# ---------------------------------------------------------------------------
# bit I/O
# ---------------------------------------------------------------------------


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self._acc = 0
        self._nbits = 0

    def write(self, code: int, length: int) -> None:
        self._acc = (self._acc << length) | (code & ((1 << length) - 1))
        self._nbits += length
        while self._nbits >= 8:
            byte = (self._acc >> (self._nbits - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.out.append(0x00)
            self._nbits -= 8
        self._acc &= (1 << self._nbits) - 1

    def flush(self) -> None:
        if self._nbits:
            pad = 8 - self._nbits
            self.write((1 << pad) - 1, pad)  # 1-fill per spec F.1.2.3


class _BitReader:
    """Entropy-segment bit reader: un-stuffs 0xFF00, stops at markers."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self._acc = 0
        self._nbits = 0

    def _fill(self) -> None:
        if self.pos >= len(self.data):
            raise ValueError("truncated entropy segment")
        b = self.data[self.pos]
        if b == 0xFF:
            if self.pos + 1 >= len(self.data):
                raise ValueError("truncated entropy segment")
            nxt = self.data[self.pos + 1]
            if nxt == 0x00:
                self.pos += 2
            elif 0xD0 <= nxt <= 0xD7:
                raise _RestartMarker(nxt)
            else:
                raise ValueError(f"unexpected marker 0xFF{nxt:02X} in entropy data")
        else:
            self.pos += 1
        self._acc = (self._acc << 8) | b
        self._nbits += 8

    def read_bit(self) -> int:
        if self._nbits == 0:
            self._fill()
        self._nbits -= 1
        return (self._acc >> self._nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def align_restart(self) -> None:
        """Skip to just past the next RSTn marker and byte-align."""
        self._acc = 0
        self._nbits = 0
        while self.pos + 1 < len(self.data):
            if self.data[self.pos] == 0xFF and 0xD0 <= self.data[self.pos + 1] <= 0xD7:
                self.pos += 2
                return
            self.pos += 1
        raise ValueError("truncated entropy segment")


class _RestartMarker(Exception):
    def __init__(self, marker: int) -> None:
        self.marker = marker


def _decode_symbol(br: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | br.read_bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code")


def _extend(v: int, cat: int) -> int:
    """T.81 F.2.2.1 EXTEND: map `cat` magnitude bits to a signed value."""
    if cat == 0:
        return 0
    return v if v >= (1 << (cat - 1)) else v - (1 << cat) + 1


def _category(v: int) -> int:
    return int(abs(v)).bit_length()


# ---------------------------------------------------------------------------
# encoder
# ---------------------------------------------------------------------------


def _rgb_to_ycbcr(
    px: np.ndarray, maxval: int = 255
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """JFIF color convert with floor(x+0.5) rounding; the operand order of
    each expression mirrors the media_decode_jpeg oracle SQL verbatim.
    ``maxval`` generalizes to 12-bit precision (T.81 extended
    sequential: the chroma center is 2^(P-1)); the 8-bit default path is
    arithmetic-identical to the gate-anchored form."""
    half = float((maxval + 1) // 2)
    r = px[:, :, 0].astype(np.float64)
    g = px[:, :, 1].astype(np.float64)
    b = px[:, :, 2].astype(np.float64)
    y = np.clip(np.floor(0.299 * r + 0.587 * g + 0.114 * b + 0.5), 0, maxval)
    cb = np.clip(np.floor(half - 0.168736 * r - 0.331264 * g + 0.5 * b + 0.5), 0, maxval)
    cr = np.clip(np.floor(half + 0.5 * r - 0.418688 * g - 0.081312 * b + 0.5), 0, maxval)
    dt = np.uint8 if maxval <= 255 else np.uint16
    return y.astype(dt), cb.astype(dt), cr.astype(dt)


def _pad_plane(plane: np.ndarray, bw: int, bh: int) -> np.ndarray:
    """Edge-replicate to (bh, bw) — the spec's recommended extension.
    Hand-rolled instead of ``np.pad(mode="edge")``: identical output
    (right columns copy the last column, bottom rows copy the already-
    padded last row, corner = last element), but np.pad's generic
    machinery cost ~60µs per call — real money at one call per plane on
    the gate's thousands of tiny rasters (r15). When no padding is needed
    the input comes back ALIASED, not copied (np.pad always copied):
    callers must not mutate the result in place."""
    h, w = plane.shape
    if h == bh and w == bw:
        return plane
    out = np.empty((bh, bw), dtype=plane.dtype)
    out[:h, :w] = plane
    if bw > w:
        out[:h, w:] = plane[:, w - 1 : w]
    if bh > h:
        out[h:, :] = out[h - 1 : h, :]
    return out


def _encode_block(
    block: np.ndarray,
    qtable: np.ndarray,
    dc_pred: int,
    dc_codes: dict[int, tuple[int, int]],
    ac_codes: dict[int, tuple[int, int]],
    bw: _BitWriter,
    level: float = 128.0,
) -> int:
    """FDCT + quantize + Huffman-encode one 8x8 block; returns new DC.
    ``level`` is the T.81 level shift 2^(P-1) (128 at 8-bit, 2048 at
    12-bit)."""
    shifted = block.astype(np.float64) - level
    coef = _DCT_A @ shifted @ _DCT_A.T
    q = _round_half_up(coef / qtable).astype(np.int64)
    # one fancy-index gather + tolist (Python ints, same as the old
    # per-coefficient int() loop) instead of 64 scalar indexing ops
    zz = q.ravel()[_ZZ_FLAT].tolist()

    diff = zz[0] - dc_pred
    cat = _category(diff)
    code, ln = dc_codes[cat]
    bw.write(code, ln)
    if cat:
        bw.write(diff if diff >= 0 else diff + (1 << cat) - 1, cat)

    run = 0
    for i in range(1, 64):
        v = zz[i]
        if v == 0:
            run += 1
            continue
        while run >= 16:
            code, ln = ac_codes[0xF0]  # ZRL
            bw.write(code, ln)
            run -= 16
        cat = _category(v)
        code, ln = ac_codes[(run << 4) | cat]
        bw.write(code, ln)
        bw.write(v if v >= 0 else v + (1 << cat) - 1, cat)
        run = 0
    if run:
        code, ln = ac_codes[0x00]  # EOB
        bw.write(code, ln)
    return zz[0]


_DHT_MEMO: dict[tuple, bytes] = {}
_DQT_MEMO: dict[tuple, bytes] = {}


def _dht_segment(tclass: int, tid: int, bits: list[int], vals: list[int]) -> bytes:
    key = (tclass, tid, tuple(bits), tuple(vals))
    cached = _DHT_MEMO.get(key)
    if cached is not None:
        return cached
    body = bytes([(tclass << 4) | tid]) + bytes(bits) + bytes(vals)
    seg = b"\xff\xc4" + struct.pack(">H", len(body) + 2) + body
    if len(_DHT_MEMO) >= _MEMO_CAP:
        _DHT_MEMO.clear()
    _DHT_MEMO[key] = seg
    return seg


def _dqt_segment(tid: int, qtable: np.ndarray, precision: int = 8) -> bytes:
    """DQT segment; element precision follows the values: Pq=0 (8-bit)
    when every entry fits a byte, Pq=1 (16-bit) otherwise. T.81
    B.2.4.1 permits Pq=1 ONLY at 12-bit sample precision, so a >255
    quantization value in an 8-bit frame is a caller error — emitting
    it anyway would produce a spec-invalid stream this repo's own
    prescan happens to accept but strict decoders may reject (r13
    advice)."""
    qt = np.asarray(qtable)
    key = (tid, precision, str(qt.dtype), qt.shape, qt.tobytes())
    cached = _DQT_MEMO.get(key)
    if cached is not None:
        return cached
    vals = [int(qtable[r, c]) for r, c in ZIGZAG]
    if max(vals) > 255:
        if precision <= 8:
            raise ValueError(
                f"quantization value {max(vals)} > 255 requires a 16-bit "
                f"DQT (Pq=1), which T.81 B.2.4.1 only permits for 12-bit "
                f"frames — this encode is {precision}-bit"
            )
        body = bytes([0x10 | tid]) + b"".join(struct.pack(">H", v) for v in vals)
    else:
        body = bytes([tid]) + bytes(vals)
    seg = b"\xff\xdb" + struct.pack(">H", len(body) + 2) + body
    if len(_DQT_MEMO) >= _MEMO_CAP:
        _DQT_MEMO.clear()
    _DQT_MEMO[key] = seg
    return seg


def encode_jpeg_baseline(
    px: np.ndarray,
    subsampling: str = "444",
    qtable_luma: np.ndarray | None = None,
    qtable_chroma: np.ndarray | None = None,
    restart_interval: int = 0,
    precision: int = 8,
) -> bytes:
    """Encode an (h, w, 3) RGB or (h, w)/(h, w, 1) grayscale uint8 raster
    as sequential-baseline JFIF. ``subsampling`` is '444' or '420' (color
    only). Default quantization tables are all-ones (lossless for
    constant-fill images — see module docstring). ``restart_interval``
    > 0 emits a DRI segment and RSTn markers every that-many MCUs
    (byte-aligned, DC predictors reset — T.81 F.1.2.3 / E.2.4).

    ``precision=12`` (r13) writes EXTENDED sequential (SOF1, T.81
    process 2): samples 0..4095 (uint16 raster), level shift 2048,
    16-bit DQT when a table value needs it, and flat Huffman tables
    covering the wider categories (DC 0..15, AC SSSS 1..14) Annex K's
    8-bit tables lack."""
    if precision not in (8, 12):
        raise ValueError("precision must be 8 or 12")
    maxval = (1 << precision) - 1
    if qtable_luma is None:
        qtable_luma = np.ones((8, 8))
    if qtable_chroma is None:
        qtable_chroma = np.ones((8, 8))
    if px.ndim == 3 and px.shape[2] == 1:
        px = px[:, :, 0]
    if int(px.max(initial=0)) > maxval or int(px.min(initial=0)) < 0:
        raise ValueError(f"sample values out of range for {precision}-bit precision")
    gray = px.ndim == 2
    h, w = px.shape[:2]
    if not (0 < w <= 0xFFFF and 0 < h <= 0xFFFF):
        raise ValueError("image dimensions out of range")

    if gray:
        planes = [px]
        samplings = [(1, 1)]
        qids = [0]
    else:
        y, cb, cr = _rgb_to_ycbcr(px, maxval)
        if subsampling == "444":
            planes = [y, cb, cr]
            samplings = [(1, 1), (1, 1), (1, 1)]
        elif subsampling == "420":
            # box-average 2x2 with edge replication for odd dims,
            # floor(x+0.5) rounding
            ype = _pad_plane(cb, w + w % 2, h + h % 2).astype(np.float64)
            cbs = np.floor((ype[0::2, 0::2] + ype[0::2, 1::2] + ype[1::2, 0::2] + ype[1::2, 1::2]) / 4.0 + 0.5)
            rpe = _pad_plane(cr, w + w % 2, h + h % 2).astype(np.float64)
            crs = np.floor((rpe[0::2, 0::2] + rpe[0::2, 1::2] + rpe[1::2, 0::2] + rpe[1::2, 1::2]) / 4.0 + 0.5)
            planes = [y, cbs.astype(y.dtype), crs.astype(y.dtype)]
            samplings = [(2, 2), (1, 1), (1, 1)]
        else:
            raise ValueError(f"unsupported subsampling {subsampling!r}")
        qids = [0, 1, 1]

    hmax = max(s[0] for s in samplings)
    vmax = max(s[1] for s in samplings)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))

    out = bytearray()
    out += b"\xff\xd8"  # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    out += _dqt_segment(0, qtable_luma, precision)
    if not gray:
        out += _dqt_segment(1, qtable_chroma, precision)

    ncomp = 1 if gray else 3
    sof = struct.pack(">BHHB", precision, h, w, ncomp)
    for i in range(ncomp):
        sof += bytes([i + 1, (samplings[i][0] << 4) | samplings[i][1], qids[i]])
    # SOF0 is the 8-bit baseline process; 12-bit is EXTENDED sequential
    # and must declare SOF1 (T.81 table B.1)
    out += (b"\xff\xc0" if precision == 8 else b"\xff\xc1") + struct.pack(
        ">H", len(sof) + 2
    ) + sof

    if precision == 8:
        dc_l, dc_lv = DC_LUMA_BITS, DC_LUMA_VALS
        ac_l, ac_lv = AC_LUMA_BITS, AC_LUMA_VALS
        dc_c, dc_cv = DC_CHROMA_BITS, DC_CHROMA_VALS
        ac_c, ac_cv = AC_CHROMA_BITS, AC_CHROMA_VALS
    else:
        # 12-bit categories exceed Annex K's 8-bit tables: DC diffs
        # reach category 15 and AC magnitudes SSSS 14 — use flat tables
        # (any prefix code is spec-valid; see _flat_table)
        dc_l, dc_lv = _flat_table(list(range(16)))
        ac_l, ac_lv = _flat_table(
            [0x00, 0xF0] + [(r << 4) | s for r in range(16) for s in range(1, 15)]
        )
        dc_c, dc_cv, ac_c, ac_cv = dc_l, dc_lv, ac_l, ac_lv
    out += _dht_segment(0, 0, dc_l, dc_lv)
    out += _dht_segment(1, 0, ac_l, ac_lv)
    if not gray:
        out += _dht_segment(0, 1, dc_c, dc_cv)
        out += _dht_segment(1, 1, ac_c, ac_cv)

    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)

    sos = bytes([ncomp])
    for i in range(ncomp):
        t = 0 if i == 0 else 1
        sos += bytes([i + 1, (t << 4) | t])
    sos += bytes([0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos

    dc_lc = _build_codes(dc_l, dc_lv)
    ac_lc = _build_codes(ac_l, ac_lv)
    dc_cc = _build_codes(dc_c, dc_cv)
    ac_cc = _build_codes(ac_c, ac_cv)
    level = float(1 << (precision - 1))

    padded = []
    for plane, (hi, vi) in zip(planes, samplings):
        cw = -(-w * hi // hmax)
        ch = -(-h * vi // vmax)
        padded.append(_pad_plane(plane[:ch, :cw] if plane.shape == (h, w) else plane, mcus_x * 8 * hi, mcus_y * 8 * vi))

    bw = _BitWriter()
    preds = [0] * ncomp
    qts = [qtable_luma if q == 0 else qtable_chroma for q in qids]
    mcu_count = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                bw.flush()
                # RST markers go in raw (no byte stuffing), past _BitWriter
                bw.out += bytes([0xFF, 0xD0 + ((mcu_count // restart_interval - 1) & 7)])
                preds = [0] * ncomp
            mcu_count += 1
            for ci in range(ncomp):
                hi, vi = samplings[ci]
                for by in range(vi):
                    for bx in range(hi):
                        r0 = (my * vi + by) * 8
                        c0 = (mx * hi + bx) * 8
                        block = padded[ci][r0 : r0 + 8, c0 : c0 + 8]
                        preds[ci] = _encode_block(
                            block,
                            qts[ci],
                            preds[ci],
                            dc_lc if ci == 0 else dc_cc,
                            ac_lc if ci == 0 else ac_cc,
                            bw,
                            level,
                        )
    bw.flush()
    out += bw.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------


def prescan_jpeg(payload: bytes) -> tuple[int, int, int]:
    """Header-only acceptance check mirroring ``decode_jpeg``'s
    pre-entropy rejection set — returns ``(width, height, ncomp)``.

    The libjpeg fast path (``codecs.decode_jpeg_pil``) runs this BEFORE
    handing the payload to Pillow, so the set of payloads the default
    decode path accepts is environment-independent (ADVICE r6): a
    progressive or CMYK JPEG that Pillow could decode raises here with
    the SAME exception type and reason the from-scratch decoder raises,
    whether or not Pillow is installed. Cost is a marker walk over
    segment headers only — no entropy decode, no pixel work.

    Mirrored rejections (same type, same condition as decode_jpeg):

    * NotImplementedError — unsupported SOF (lossless, arithmetic,
      hierarchical — baseline AND progressive both accept since r12),
      non-8-bit precision, 16-bit quantization tables, fractional
      sampling ratios;
    * ValueError — missing SOI, truncated segments, zero dimensions,
      MAX_PIXELS, component count not in (1, 3) (CMYK), sampling
      factors outside 1..4, no SOS.

    Entropy-level corruption past the SOS marker is NOT checked — both
    decoders raise ValueError for it at decode time (Pillow's OSError is
    wrapped), so the contract already agrees there.
    """
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos, n = 2, len(payload)
    frame = None
    progressive = False
    while pos < n:
        if pos + 1 >= n:
            raise ValueError("truncated marker")
        if payload[pos] != 0xFF:
            raise ValueError(f"expected marker at {pos}")
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD9:
            break
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            continue
        if pos + 2 > n:
            raise ValueError("truncated segment header")
        seglen = struct.unpack_from(">H", payload, pos)[0]
        if pos + seglen > n:
            raise ValueError("truncated segment")
        seg = payload[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT: Pq=0 (8-bit) or Pq=1 (16-bit, r13)
            p = 0
            while p < len(seg):
                pq = seg[p] >> 4
                if pq not in (0, 1):
                    raise ValueError("invalid DQT element precision")
                if p + 1 + 64 * (2 if pq else 1) > len(seg):
                    raise ValueError("truncated DQT segment")
                p += 1 + 64 * (2 if pq else 1)
        elif marker in (0xC0, 0xC1, 0xC2):  # baseline + progressive
            progressive = marker == 0xC2
            if len(seg) < 6:
                raise ValueError("truncated SOF segment")
            prec, fh, fw, ncomp = struct.unpack_from(">BHHB", seg, 0)
            if fh == 0 or fw == 0:
                raise ValueError("zero image dimension")
            if fh * fw > MAX_PIXELS:
                raise ValueError(f"declared dimensions {fw}x{fh} exceed MAX_PIXELS")
            # 12-bit on SOF1 (extended sequential) and SOF2
            # (progressive, r14) — mirrors decode
            if prec != 8 and not (prec == 12 and marker in (0xC1, 0xC2)):
                raise NotImplementedError("only 8-bit precision supported")
            if ncomp not in (1, 3):
                # decode_jpeg raises this at scan assembly; same class here
                raise ValueError(f"unsupported scan layout ({ncomp} components)")
            if len(seg) < 6 + 3 * ncomp:
                raise ValueError("truncated SOF segment")
            factors = []
            for i in range(ncomp):
                hv = seg[7 + 3 * i]
                factors.append((hv >> 4, hv & 0x0F))
            if any(h < 1 or v < 1 or h > 4 or v > 4 for h, v in factors):
                raise ValueError("invalid sampling factors in SOF")
            hmax = max(h for h, _ in factors)
            vmax = max(v for _, v in factors)
            for h, v in factors:
                if hmax % h or vmax % v:
                    raise NotImplementedError(
                        f"non-integer-ratio sampling factors {h}x{v} vs max {hmax}x{vmax}"
                    )
            frame = (fw, fh, ncomp)
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                "only sequential baseline (SOF0/SOF1) and progressive (SOF2) JPEG supported"
            )
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("SOS before SOF")
            if not seg:
                raise ValueError("truncated SOS segment")
            if progressive:
                # mirror the progressive walker's FIRST-scan header
                # checks (a baseline stream masquerading as SOF2 fails
                # here exactly like the decoder: its one interleaved
                # full-band scan is not a legal progression)
                ns = seg[0]
                if len(seg) < 4 + 2 * ns:
                    raise ValueError("truncated SOS segment")
                ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
                if ss == 0 and se != 0:
                    raise ValueError("progressive DC scan must have Se == 0")
                if ss > 0 and ns != 1:
                    raise ValueError("progressive AC scans are single-component")
                if ss > se or se > 63:
                    raise ValueError("invalid spectral band")
                return frame
            # sequential baseline is ONE interleaved scan covering all
            # components (decode_jpeg's _decode_scan contract) — a
            # per-component multi-scan file must be rejected here too,
            # or Pillow would accept what the exact decoder rejects
            if seg[0] != frame[2]:
                raise ValueError(
                    f"unsupported scan layout ({seg[0]} of {frame[2]} components)"
                )
            return frame
        pos += seglen
    raise ValueError("no SOS found")


def decode_jpeg_pixels(payload: bytes) -> np.ndarray:
    """Decode a baseline JPEG to an (h, w, ch) uint8 raster (RGB for
    3-component YCbCr, single channel for grayscale)."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    restart_interval = 0
    frame = None  # (h, w, [(cid, hi, vi, qid)])
    n = len(payload)

    while pos < n:
        if pos + 1 >= n:
            raise ValueError("truncated marker")
        if payload[pos] != 0xFF:
            raise ValueError(f"expected marker at {pos}")
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            continue  # parameterless
        if pos + 2 > n:
            raise ValueError("truncated segment header")
        seglen = struct.unpack_from(">H", payload, pos)[0]
        if pos + seglen > n:
            raise ValueError("truncated segment")
        seg = payload[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT (Pq=0: 8-bit entries; Pq=1: 16-bit)
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0x0F
                if pq not in (0, 1):
                    raise ValueError("invalid DQT element precision")
                step = 2 if pq else 1
                if p + 1 + 64 * step > len(seg):
                    raise ValueError("truncated DQT segment")
                raw = np.frombuffer(
                    seg, dtype=">u2" if pq else np.uint8, count=64, offset=p + 1
                ).astype(np.float64)
                tbl = np.zeros((8, 8))
                tbl.ravel()[_ZZ_FLAT] = raw
                qtables[tq] = tbl
                p += 1 + 64 * step
        elif marker in (0xC0, 0xC1):  # SOF0/SOF1: sequential DCT
            if len(seg) < 6:
                raise ValueError("truncated SOF segment")
            prec, fh, fw, ncomp = struct.unpack_from(">BHHB", seg, 0)
            if fh == 0 or fw == 0:
                raise ValueError("zero image dimension")
            if fh * fw > MAX_PIXELS:
                # a bit-flipped dimension field must fail fast, not OOM
                # the executor allocating a phantom 4-gigapixel plane
                raise ValueError(f"declared dimensions {fw}x{fh} exceed MAX_PIXELS")
            # SOF0 (baseline process) is 8-bit by definition; SOF1
            # (extended sequential) allows 12-bit — T.81 table B.2
            if prec != 8 and not (prec == 12 and marker == 0xC1):
                raise NotImplementedError("only 8-bit precision supported")
            if len(seg) < 6 + 3 * ncomp:
                raise ValueError("truncated SOF segment")
            comps = []
            for i in range(ncomp):
                cid, hv, qid = seg[6 + 3 * i : 9 + 3 * i]
                comps.append((cid, hv >> 4, hv & 0x0F, qid))
            frame = (fh, fw, comps, prec)
        elif marker == 0xC2:  # SOF2: progressive — own multi-scan walk
            return _decode_progressive_pixels(payload)
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                "only sequential baseline (SOF0/SOF1) and progressive (SOF2) JPEG supported"
            )
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0x0F
                bits = list(seg[p + 1 : p + 17])
                nv = sum(bits)
                vals = list(seg[p + 17 : p + 17 + nv])
                if len(bits) < 16 or len(vals) < nv:
                    raise ValueError("truncated DHT segment")
                huff[(tc, th)] = _build_decode_table(bits, vals)
                p += 17 + nv
        elif marker == 0xDD:  # DRI
            if len(seg) < 2:
                # struct.error would escape the ValueError contract the
                # PERMISSIVE decode path catches (multimodal.decode_media)
                raise ValueError("truncated DRI segment")
            restart_interval = struct.unpack_from(">H", seg, 0)[0]
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("SOS before SOF")
            if not seg:
                raise ValueError("truncated SOS segment")
            ns = seg[0]
            if len(seg) < 1 + 2 * ns:
                raise ValueError("truncated SOS segment")
            scan = []
            for i in range(ns):
                cs, tt = seg[1 + 2 * i], seg[2 + 2 * i]
                scan.append((cs, tt >> 4, tt & 0x0F))
            pos += seglen
            return _decode_scan(payload, pos, frame, scan, qtables, huff, restart_interval)
        pos += seglen
    raise ValueError("no SOS found")


def _decode_scan(data, pos, frame, scan, qtables, huff, restart_interval):
    fh, fw, comps, prec = frame
    level = float(1 << (prec - 1))
    maxval = (1 << prec) - 1
    if len(scan) != len(comps) or len(comps) not in (1, 3):
        # sequential baseline: one interleaved scan covering all components
        raise ValueError(f"unsupported scan layout ({len(scan)} of {len(comps)} components)")
    by_id = {cid: (hi, vi, qid) for cid, hi, vi, qid in comps}
    if any(hi < 1 or vi < 1 or hi > 4 or vi > 4 for _, hi, vi, _ in comps):
        raise ValueError("invalid sampling factors in SOF")  # T.81: 1..4
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcus_x = -(-fw // (8 * hmax))
    mcus_y = -(-fh // (8 * vmax))

    planes = {}
    meta = []
    for cs, td, ta in scan:
        if cs not in by_id:
            raise ValueError(f"scan references undeclared component {cs}")
        hi, vi, qid = by_id[cs]
        if qid not in qtables:
            raise ValueError(f"scan references undefined quantization table {qid}")
        if (0, td) not in huff or (1, ta) not in huff:
            raise ValueError(f"scan references undefined Huffman table ({td}, {ta})")
        if hmax % hi or vmax % vi:
            # np.repeat upsampling below needs integer ratios; fractional
            # layouts (e.g. 3:2) would silently misalign planes
            raise NotImplementedError(
                f"non-integer-ratio sampling factors {hi}x{vi} vs max {hmax}x{vmax}"
            )
        planes[cs] = np.zeros((mcus_y * 8 * vi, mcus_x * 8 * hi))
        meta.append((cs, hi, vi, qtables[qid], huff[(0, td)], huff[(1, ta)]))

    br = _BitReader(data, pos)
    preds = {cs: 0 for cs, *_ in meta}
    mcu_count = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                br.align_restart()
                preds = {cs: 0 for cs in preds}
            try:
                for cs, hi, vi, qt, dct, act in meta:
                    for by in range(vi):
                        for bx in range(hi):
                            zz = np.zeros(64)
                            cat = _decode_symbol(br, dct)
                            diff = _extend(br.read_bits(cat), cat)
                            preds[cs] += diff
                            zz[0] = preds[cs]
                            k = 1
                            while k < 64:
                                rs = _decode_symbol(br, act)
                                run, size = rs >> 4, rs & 0x0F
                                if size == 0:
                                    if run == 15:  # ZRL
                                        k += 16
                                        continue
                                    break  # EOB
                                k += run
                                if k > 63:
                                    raise ValueError("AC index out of range")
                                zz[k] = _extend(br.read_bits(size), size)
                                k += 1
                            coef = zz[_ZZ_INV].reshape(8, 8)
                            coef *= qt
                            block = _DCT_A.T @ coef @ _DCT_A + level
                            r0 = (my * vi + by) * 8
                            c0 = (mx * hi + bx) * 8
                            planes[cs][r0 : r0 + 8, c0 : c0 + 8] = block
            except _RestartMarker:
                raise ValueError("restart marker inside MCU")
            mcu_count += 1

    full = []
    for cs, hi, vi, *_ in meta:
        cw = -(-fw * hi // hmax)
        ch = -(-fh * vi // vmax)
        p = np.clip(np.floor(planes[cs][:ch, :cw] + 0.5), 0, maxval)
        if hi != hmax or vi != vmax:
            p = np.repeat(np.repeat(p, vmax // vi, axis=0), hmax // hi, axis=1)
        full.append(p[:fh, :fw])

    dt = np.uint8 if prec == 8 else np.uint16
    if len(full) == 1:
        return full[0].astype(dt)[:, :, None]
    y, cb, cr = full[0], full[1], full[2]
    r = np.clip(np.floor(y + 1.402 * (cr - level) + 0.5), 0, maxval)
    g = np.clip(np.floor(y - 0.344136 * (cb - level) - 0.714136 * (cr - level) + 0.5), 0, maxval)
    b = np.clip(np.floor(y + 1.772 * (cb - level) + 0.5), 0, maxval)
    return np.stack([r, g, b], axis=2).astype(dt)


def decode_jpeg(payload: bytes) -> dict:
    """``codecs.decode_bytes``-shaped record for a baseline JPEG.
    12-bit frames report channel means rescaled to the 0..255 range
    (× 255/4095) so the record is precision-stable for downstream
    feature pipelines; the full-precision raster is available via
    :func:`decode_jpeg_pixels` (uint16)."""
    px = decode_jpeg_pixels(payload)
    h, w, ch = px.shape
    rgb = px if ch == 3 else np.repeat(px, 3, axis=2)
    means = rgb.astype(np.float64).mean(axis=(0, 1))
    if px.dtype == np.uint16:
        means = means * (255.0 / 4095.0)
    return {
        "format": "jpeg",
        "width": w,
        "height": h,
        "channels": ch,
        "mean_r": float(means[0]),
        "mean_g": float(means[1]),
        "mean_b": float(means[2]),
    }


def sof_precision(payload: bytes) -> int:
    """Sample precision from the frame header (marker walk, no entropy
    work). Lets the libjpeg fast path route 12-bit frames — which
    stock libjpeg builds cannot decode — to the from-scratch decoder
    while keeping ONE acceptance set across environments."""
    pos, n = 2, len(payload)
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    while pos + 4 <= n:
        if payload[pos] != 0xFF:
            raise ValueError(f"expected marker at {pos}")
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD9:
            break
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            continue
        seglen = struct.unpack_from(">H", payload, pos)[0]
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            if pos + 2 >= n:
                raise ValueError("truncated SOF segment")
            return payload[pos + 2]
        pos += seglen
    raise ValueError("no SOF found")


# ---------------------------------------------------------------------------
# progressive mode (SOF2) — T.81 Annex G, Huffman entropy coding
# ---------------------------------------------------------------------------
#
# Progressive JPEG transmits the SAME quantized DCT coefficients as
# sequential baseline, split across multiple scans: spectral selection
# (a scan carries one zigzag band [Ss..Se] of one component; DC scans may
# interleave all components) and successive approximation (a first scan
# carries coefficients at reduced precision — point transform >> Al —
# and refinement scans append one magnitude bit each, Ah = the previous
# scan's Al). Because the coefficients are identical, a progressive
# decode MUST equal the baseline decode of the same raster with the same
# quantization — the equivalence test in tests/test_jpeg.py pins both
# directions of the implementation against the already-oracle-locked
# baseline codec. DC refinement is two's-complement bit OR (floor-shift
# arithmetic); AC is sign-magnitude: first pass sgn(v)·(|v|>>Al),
# refinement |v| bit Al — both per T.81 G.1.2.


def _flat_table(symbols: list[int]) -> tuple[list[int], list[int]]:
    """A valid canonical Huffman table giving every symbol the same
    length L (smallest L with n < 2^L, so the all-ones code stays
    reserved per T.81 C.2). Progressive scans need symbols Annex K's
    tables lack (EOBn), and any prefix code is spec-valid — flat keeps
    the encoder trivial; compression ratio is not what the codec is
    for."""
    n = len(set(symbols))
    uniq = sorted(set(symbols))
    length = 1
    while (1 << length) <= n:
        length += 1
    bits = [0] * 16
    bits[length - 1] = n
    return bits, uniq


def _emit_extend(bw: _BitWriter, v: int, cat: int) -> None:
    bw.write(v if v >= 0 else v + (1 << cat) - 1, cat)


class _ProgACEncoder:
    """One component's AC scans under progressive rules: EOB-run
    accumulation across blocks with the buffered-correction-bit
    machinery refinement needs (T.81 G.1.2.3; the structure mirrors the
    classic libjpeg encode_mcu_AC_first/_refine)."""

    def __init__(self, bw: _BitWriter, ac_codes: dict[int, tuple[int, int]]):
        self.bw = bw
        self.codes = ac_codes
        self.eobrun = 0
        self.pending_bits: list[int] = []

    def _emit(self, sym: int) -> None:
        code, ln = self.codes[sym]
        self.bw.write(code, ln)

    def flush_eobrun(self) -> None:
        if self.eobrun > 0:
            nbits = self.eobrun.bit_length() - 1
            self._emit(nbits << 4)
            if nbits:
                self.bw.write(self.eobrun - (1 << nbits), nbits)
            self.eobrun = 0
        for b in self.pending_bits:
            self.bw.write(b, 1)
        self.pending_bits = []

    def first_block(self, zz: list[int], ss: int, se: int, al: int) -> None:
        """AC first scan (Ah == 0) for one block's band."""
        run = 0
        for k in range(ss, se + 1):
            v = zz[k]
            av = (abs(v) >> al) * (1 if v >= 0 else -1)
            if av == 0:
                run += 1
                continue
            self.flush_eobrun()
            while run > 15:
                self._emit(0xF0)
                run -= 16
            cat = _category(av)
            self._emit((run << 4) | cat)
            _emit_extend(self.bw, av, cat)
            run = 0
        if run > 0:
            # trailing zeros (an all-zero band ends up here too, with
            # run == the whole band): one more EOB block
            self.eobrun += 1
            if self.eobrun == 0x7FFF:
                self.flush_eobrun()

    def refine_block(self, zz: list[int], ss: int, se: int, al: int) -> None:
        """AC refinement scan (Ah == Al + 1) for one block's band."""
        absvals = [abs(zz[k]) >> al for k in range(ss, se + 1)]
        # last position holding a NEWLY nonzero coefficient this pass
        eob = -1
        for i, t in enumerate(absvals):
            if t == 1:
                eob = i
        run = 0
        br: list[int] = []
        for i, t in enumerate(absvals):
            if t == 0:
                run += 1
                continue
            # the ZRL check runs at EVERY nonzero position — history
            # included — because the decoder consumes buffered
            # correction bits in WALK order: a history bit beyond the
            # ZRL's 16-zero coverage must be emitted after the next
            # symbol, not bundled with the ZRL's flush (the libjpeg
            # encode_mcu_AC_refine walk; getting this wrong desyncs
            # exactly when >16 zeros precede a history coefficient)
            while run > 15 and i <= eob:
                self.flush_eobrun()
                self._emit(0xF0)
                run -= 16
                for b in br:
                    self.bw.write(b, 1)
                br = []
            if t > 1:
                # history coefficient: buffer its correction bit
                br.append(t & 1)
                continue
            # newly nonzero (t == 1)
            self.flush_eobrun()
            self._emit((run << 4) | 1)
            self.bw.write(1 if zz[i + ss] >= 0 else 0, 1)
            for b in br:
                self.bw.write(b, 1)
            br = []
            run = 0
        if run > 0 or br:
            self.eobrun += 1
            self.pending_bits.extend(br)
            if self.eobrun == 0x7FFF:
                self.flush_eobrun()


def encode_jpeg_progressive(
    px: np.ndarray,
    subsampling: str = "444",
    qtable_luma: np.ndarray | None = None,
    qtable_chroma: np.ndarray | None = None,
    scans: list[tuple[tuple[int, ...], int, int, int, int]] | None = None,
    restart_interval: int = 0,
    precision: int = 8,
) -> bytes:
    """Encode a raster as PROGRESSIVE JFIF (SOF2) — the fixture
    generator for the progressive decoder (no image libraries in the
    environment, so fixtures must be first-principles, like every other
    codec here). ``scans`` is a scan script of ``(component_indexes,
    Ss, Se, Ah, Al)`` tuples; the default exercises everything the mode
    has: an interleaved reduced-precision DC scan + DC refinement, AC
    spectral-selection bands per component at Al=1, then AC refinement
    to full precision. Entropy coding uses per-scan flat Huffman tables
    (:func:`_flat_table` — progressive needs EOBn symbols Annex K
    lacks) with cross-block EOB runs and buffered correction bits.
    ``precision=12`` (r14) writes 12-bit progressive — uint16 samples
    0..4095, level shift 2048, 16-bit DQT when values demand it; the
    per-scan tables already size themselves to the categories present,
    so the wider 12-bit range needs no table special-casing."""
    if precision not in (8, 12):
        raise ValueError("precision must be 8 or 12")
    maxval = (1 << precision) - 1
    level = float(1 << (precision - 1))
    if qtable_luma is None:
        qtable_luma = np.ones((8, 8))
    if qtable_chroma is None:
        qtable_chroma = np.ones((8, 8))
    if px.ndim == 3 and px.shape[2] == 1:
        px = px[:, :, 0]
    gray = px.ndim == 2
    h, w = px.shape[:2]
    if not (0 < w <= 0xFFFF and 0 < h <= 0xFFFF):
        raise ValueError("image dimensions out of range")
    if int(px.max(initial=0)) > maxval or int(px.min(initial=0)) < 0:
        raise ValueError(f"sample values out of range for {precision}-bit precision")

    if gray:
        planes = [px]
        samplings = [(1, 1)]
        qids = [0]
    else:
        y, cb, cr = _rgb_to_ycbcr(px, maxval)
        if subsampling == "444":
            planes = [y, cb, cr]
            samplings = [(1, 1), (1, 1), (1, 1)]
        elif subsampling == "420":
            ype = _pad_plane(cb, w + w % 2, h + h % 2).astype(np.float64)
            cbs = np.floor((ype[0::2, 0::2] + ype[0::2, 1::2] + ype[1::2, 0::2] + ype[1::2, 1::2]) / 4.0 + 0.5)
            rpe = _pad_plane(cr, w + w % 2, h + h % 2).astype(np.float64)
            crs = np.floor((rpe[0::2, 0::2] + rpe[0::2, 1::2] + rpe[1::2, 0::2] + rpe[1::2, 1::2]) / 4.0 + 0.5)
            planes = [y, cbs.astype(y.dtype), crs.astype(y.dtype)]
            samplings = [(2, 2), (1, 1), (1, 1)]
        else:
            raise ValueError(f"unsupported subsampling {subsampling!r}")
        qids = [0, 1, 1]

    ncomp = len(planes)
    hmax = max(s[0] for s in samplings)
    vmax = max(s[1] for s in samplings)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    qts = [qtable_luma if q == 0 else qtable_chroma for q in qids]

    # quantized zigzag coefficients for every block of the PADDED grid
    coefs = []
    dims = []  # (bw_real, bh_real, bw_pad, bh_pad)
    for ci in range(ncomp):
        hi, vi = samplings[ci]
        cw = -(-w * hi // hmax)
        ch = -(-h * vi // vmax)
        bw_pad, bh_pad = mcus_x * hi, mcus_y * vi
        plane = planes[ci]
        padded = _pad_plane(plane[:ch, :cw] if plane.shape == (h, w) else plane, bw_pad * 8, bh_pad * 8)
        store = np.zeros((bh_pad, bw_pad, 64), dtype=np.int64)
        for by in range(bh_pad):
            for bx in range(bw_pad):
                block = padded[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8].astype(np.float64) - level
                coef = _DCT_A @ block @ _DCT_A.T
                q = _round_half_up(coef / qts[ci]).astype(np.int64)
                store[by, bx] = q.ravel()[_ZZ_FLAT]
        coefs.append(store)
        dims.append((-(-cw // 8), -(-ch // 8), bw_pad, bh_pad))

    if scans is None:
        allc = tuple(range(ncomp))
        scans = [(allc, 0, 0, 0, 1), (allc, 0, 0, 1, 0)]
        for ci in range(ncomp):
            scans += [((ci,), 1, 5, 0, 2), ((ci,), 6, 63, 0, 2)]
        for ci in range(ncomp):
            scans += [((ci,), 1, 63, 2, 1), ((ci,), 1, 63, 1, 0)]

    out = bytearray()
    out += b"\xff\xd8"
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    out += _dqt_segment(0, qtable_luma, precision)
    if not gray:
        out += _dqt_segment(1, qtable_chroma, precision)
    sof = struct.pack(">BHHB", precision, h, w, ncomp)
    for i in range(ncomp):
        sof += bytes([i + 1, (samplings[i][0] << 4) | samplings[i][1], qids[i]])
    out += b"\xff\xc2" + struct.pack(">H", len(sof) + 2) + sof  # SOF2
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)

    for comp_idx, ss, se, ah, al in scans:
        bw = _BitWriter()
        if ss == 0:
            # ---- DC scan (interleaved when len(comp_idx) > 1) ----
            if se != 0:
                raise ValueError("DC scan must have Se == 0")
            if ah == 0:
                # Two passes with IDENTICAL restart/predictor-reset
                # logic: pass 1 collects the category symbols each DC
                # table needs (restart resets change the diffs, so the
                # prepass must replay them), pass 2 emits.
                def dc_units():
                    """Yield (ci, dc_value>>Al) in scan order with
                    restart-boundary markers (None sentinel)."""
                    if len(comp_idx) > 1:
                        mcu_i = 0
                        for my in range(mcus_y):
                            for mx in range(mcus_x):
                                if restart_interval and mcu_i and mcu_i % restart_interval == 0:
                                    yield None, mcu_i // restart_interval - 1
                                mcu_i += 1
                                for ci in comp_idx:
                                    hi, vi = samplings[ci]
                                    for by in range(vi):
                                        for bx in range(hi):
                                            yield ci, int(coefs[ci][my * vi + by, mx * hi + bx, 0]) >> al
                    else:
                        (ci,) = comp_idx
                        bw_r, bh_r, _, _ = dims[ci]
                        blk_i = 0
                        for by in range(bh_r):
                            for bx in range(bw_r):
                                if restart_interval and blk_i and blk_i % restart_interval == 0:
                                    yield None, blk_i // restart_interval - 1
                                blk_i += 1
                                yield ci, int(coefs[ci][by, bx, 0]) >> al

                syms_per_tid: dict[int, set[int]] = {0: set(), 1: set()}
                preds = {ci: 0 for ci in comp_idx}
                for ci, v in dc_units():
                    if ci is None:
                        preds = {c: 0 for c in preds}
                        continue
                    syms_per_tid[0 if ci == 0 else 1].add(_category(v - preds[ci]))
                    preds[ci] = v
                tables = {}
                for tid, syms in syms_per_tid.items():
                    if syms:
                        bits, vals = _flat_table(sorted(syms))
                        out += _dht_segment(0, tid, bits, vals)
                        tables[tid] = _build_codes(bits, vals)
                preds = {ci: 0 for ci in comp_idx}
                for ci, v in dc_units():
                    if ci is None:
                        bw.flush()
                        bw.out += bytes([0xFF, 0xD0 + (v & 7)])
                        preds = {c: 0 for c in preds}
                        continue
                    d = v - preds[ci]
                    preds[ci] = v
                    cat = _category(d)
                    code, ln = tables[0 if ci == 0 else 1][cat]
                    bw.write(code, ln)
                    if cat:
                        _emit_extend(bw, d, cat)
            else:
                # DC refinement: one raw bit per block (no predictors to
                # reset at restarts — just align + RST). The walk MUST
                # mirror the first pass and the decoder (_prog_dc_scan):
                # interleaved padded-MCU order when ns > 1, the
                # component's REAL block dims when single-component —
                # a subsampled component's padded grid has more blocks
                # than its real grid, which would desync the bitstream.
                if len(comp_idx) > 1:
                    mcu_i = 0
                    for my in range(mcus_y):
                        for mx in range(mcus_x):
                            if restart_interval and mcu_i and mcu_i % restart_interval == 0:
                                bw.flush()
                                bw.out += bytes([0xFF, 0xD0 + ((mcu_i // restart_interval - 1) & 7)])
                            mcu_i += 1
                            for ci in comp_idx:
                                hi, vi = samplings[ci]
                                for by in range(vi):
                                    for bx in range(hi):
                                        v = int(coefs[ci][my * vi + by, mx * hi + bx, 0])
                                        bw.write((v >> al) & 1, 1)
                else:
                    (ci,) = comp_idx
                    bw_r, bh_r, _, _ = dims[ci]
                    blk_i = 0
                    for by in range(bh_r):
                        for bx in range(bw_r):
                            if restart_interval and blk_i and blk_i % restart_interval == 0:
                                bw.flush()
                                bw.out += bytes([0xFF, 0xD0 + ((blk_i // restart_interval - 1) & 7)])
                            blk_i += 1
                            v = int(coefs[ci][by, bx, 0])
                            bw.write((v >> al) & 1, 1)
        else:
            # ---- AC scan: exactly one component, non-interleaved ----
            if len(comp_idx) != 1:
                raise ValueError("AC scans are single-component (T.81)")
            (ci,) = comp_idx
            bw_r, bh_r, _, _ = dims[ci]
            blocks = [coefs[ci][by, bx] for by in range(bh_r) for bx in range(bw_r)]
            # symbol prepass for the flat table
            syms = set()
            sim = _ProgACEncoder(_BitWriter(), {})
            sim._emit = lambda s: syms.add(s)  # type: ignore[method-assign]
            for bi, zz in enumerate(blocks):
                if restart_interval and bi and bi % restart_interval == 0:
                    sim.flush_eobrun()  # same flush points as the real pass
                zzl = [int(x) for x in zz]
                if ah == 0:
                    sim.first_block(zzl, ss, se, al)
                else:
                    sim.refine_block(zzl, ss, se, al)
            sim.flush_eobrun()
            if not syms:
                syms = {0x00}
            bits, vals = _flat_table(sorted(syms))
            out += _dht_segment(1, 0, bits, vals)
            enc = _ProgACEncoder(bw, _build_codes(bits, vals))
            for bi, zz in enumerate(blocks):
                if restart_interval and bi and bi % restart_interval == 0:
                    enc.flush_eobrun()
                    bw.flush()
                    bw.out += bytes([0xFF, 0xD0 + ((bi // restart_interval - 1) & 7)])
                zzl = [int(x) for x in zz]
                if ah == 0:
                    enc.first_block(zzl, ss, se, al)
                else:
                    enc.refine_block(zzl, ss, se, al)
            enc.flush_eobrun()

        sos = bytes([len(comp_idx)])
        for ci in comp_idx:
            tid = 0 if ci == 0 else 1
            sos += bytes([ci + 1, (tid << 4) | (0 if ss > 0 else tid)])
        # AC scans registered table id 0 above; DC scans use tid per comp
        if ss > 0:
            sos = bytes([1, comp_idx[0] + 1, (0 << 4) | 0])
        sos += bytes([ss, se, (ah << 4) | al])
        out += b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos
        bw.flush()
        out += bw.out

    out += b"\xff\xd9"
    return bytes(out)


def _next_marker(data: bytes, pos: int) -> int:
    """Position of the next real marker at/after ``pos`` (skips stuffed
    0xFF00 and RSTn — both belong to the entropy segment)."""
    n = len(data)
    while pos + 1 < n:
        if data[pos] == 0xFF and data[pos + 1] != 0x00 and not (0xD0 <= data[pos + 1] <= 0xD7):
            return pos
        pos += 1
    raise ValueError("truncated stream: no terminating marker")


def _prog_dc_scan(br, store, comp_idx, samplings, dims, mcus, dc_tables, ah, al, ri):
    """One progressive DC scan into the coefficient store."""
    mcus_x, mcus_y = mcus
    preds = {ci: 0 for ci in comp_idx}
    if len(comp_idx) > 1:
        order = []
        for my in range(mcus_y):
            for mx in range(mcus_x):
                order.append([])
                for ci in comp_idx:
                    hi, vi = samplings[ci]
                    for by in range(vi):
                        for bx in range(hi):
                            order[-1].append((ci, my * vi + by, mx * hi + bx))
    else:
        (ci,) = comp_idx
        bw_r, bh_r, _, _ = dims[ci]
        order = [[(ci, by, bx)] for by in range(bh_r) for bx in range(bw_r)]
    unit = 0
    for blocks in order:
        if ri and unit and unit % ri == 0:
            br.align_restart()
            preds = {c: 0 for c in preds}
        unit += 1
        for ci, by, bx in blocks:
            if ah == 0:
                cat = _decode_symbol(br, dc_tables[ci])
                diff = _extend(br.read_bits(cat), cat)
                preds[ci] += diff
                store[ci][by, bx, 0] = preds[ci] << al
            else:
                if br.read_bit():
                    store[ci][by, bx, 0] |= 1 << al


def _prog_ac_scan(br, store, ci, dims, ac_table, ss, se, ah, al, ri):
    """One progressive AC scan (single component, non-interleaved)."""
    bw_r, bh_r, _, _ = dims[ci]
    eobrun = 0
    unit = 0
    for by in range(bh_r):
        for bx in range(bw_r):
            if ri and unit and unit % ri == 0:
                br.align_restart()
                eobrun = 0
            unit += 1
            zz = store[ci][by, bx]
            if ah == 0:
                # ---- first pass for this bit position ----
                if eobrun > 0:
                    eobrun -= 1
                    continue
                k = ss
                while k <= se:
                    rs = _decode_symbol(br, ac_table)
                    r, s = rs >> 4, rs & 0x0F
                    if s == 0:
                        if r < 15:
                            eobrun = (1 << r) - 1
                            if r:
                                eobrun += br.read_bits(r)
                            break
                        k += 16  # ZRL
                        continue
                    k += r
                    if k > se:
                        raise ValueError("AC index out of band")
                    zz[k] = _extend(br.read_bits(s), s) << al
                    k += 1
            else:
                # ---- refinement pass (T.81 G.1.2.3 / libjpeg shape) ----
                p1 = 1 << al
                k = ss
                if eobrun == 0:
                    while k <= se:
                        rs = _decode_symbol(br, ac_table)
                        r, s = rs >> 4, rs & 0x0F
                        val = 0
                        if s == 0:
                            if r < 15:
                                eobrun = 1 << r
                                if r:
                                    eobrun += br.read_bits(r)
                                break
                            # r == 15: skip 16 zero-history positions
                        else:
                            if s != 1:
                                raise ValueError("invalid refinement size")
                            val = p1 if br.read_bit() else -p1
                        # advance over the run, correcting history coeffs
                        while k <= se:
                            if zz[k] != 0:
                                if br.read_bit() and (abs(int(zz[k])) & p1) == 0:
                                    zz[k] += p1 if zz[k] > 0 else -p1
                            else:
                                if r == 0:
                                    break
                                r -= 1
                            k += 1
                        if val and k <= se:
                            zz[k] = val
                        k += 1
                if eobrun > 0:
                    # EOB region: still refine every history coefficient
                    while k <= se:
                        if zz[k] != 0:
                            if br.read_bit() and (abs(int(zz[k])) & p1) == 0:
                                zz[k] += p1 if zz[k] > 0 else -p1
                        k += 1
                    eobrun -= 1


def _decode_progressive_pixels(payload: bytes) -> np.ndarray:
    """Decode a PROGRESSIVE (SOF2) JPEG to an (h, w, ch) uint8 raster:
    accumulate quantized coefficients across every scan (spectral
    selection bands, successive-approximation first + refinement
    passes, cross-block EOB runs, restart intervals), then dequantize /
    IDCT / upsample / color-convert with the SAME arithmetic as the
    baseline path — by construction a progressive stream of the same
    raster and quantization decodes pixel-identically to baseline
    (locked in tests/test_jpeg.py)."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    restart_interval = 0
    frame = None
    store: dict[int, np.ndarray] = {}
    dims: dict[int, tuple[int, int, int, int]] = {}
    samplings: dict[int, tuple[int, int]] = {}
    comp_q: dict[int, int] = {}
    mcus = (0, 0)
    n = len(payload)

    while pos < n:
        if pos + 1 >= n:
            raise ValueError("truncated marker")
        if payload[pos] != 0xFF:
            raise ValueError(f"expected marker at {pos}")
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD9:
            break
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            continue
        if pos + 2 > n:
            raise ValueError("truncated segment header")
        seglen = struct.unpack_from(">H", payload, pos)[0]
        if pos + seglen > n:
            raise ValueError("truncated segment")
        seg = payload[pos + 2 : pos + seglen]
        if marker == 0xDB:
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0x0F
                if pq not in (0, 1):  # Pq=1: 16-bit entries (12-bit frames)
                    raise ValueError("invalid DQT element precision")
                step = 2 if pq else 1
                if p + 1 + 64 * step > len(seg):
                    raise ValueError("truncated DQT segment")
                raw = np.frombuffer(
                    seg, dtype=">u2" if pq else np.uint8, count=64, offset=p + 1
                ).astype(np.float64)
                tbl = np.zeros((8, 8))
                tbl.ravel()[_ZZ_FLAT] = raw
                qtables[tq] = tbl
                p += 1 + 64 * step
        elif marker == 0xC2:
            if len(seg) < 6:
                raise ValueError("truncated SOF segment")
            prec, fh, fw, ncomp = struct.unpack_from(">BHHB", seg, 0)
            if fh == 0 or fw == 0:
                raise ValueError("zero image dimension")
            if fh * fw > MAX_PIXELS:
                raise ValueError(f"declared dimensions {fw}x{fh} exceed MAX_PIXELS")
            # 12-bit progressive (r14): same extended-precision rules as
            # SOF1 — T.81 table B.2 allows P = 8 or 12 for SOF2
            if prec not in (8, 12):
                raise NotImplementedError("only 8-bit precision supported")
            if len(seg) < 6 + 3 * ncomp:
                raise ValueError("truncated SOF segment")
            comps = []
            for i in range(ncomp):
                cid, hv, qid = seg[6 + 3 * i : 9 + 3 * i]
                comps.append((cid, hv >> 4, hv & 0x0F, qid))
            if any(hi < 1 or vi < 1 or hi > 4 or vi > 4 for _, hi, vi, _ in comps):
                raise ValueError("invalid sampling factors in SOF")
            frame = (fh, fw, comps, prec)
            hmax = max(c[1] for c in comps)
            vmax = max(c[2] for c in comps)
            mcus = (-(-fw // (8 * hmax)), -(-fh // (8 * vmax)))
            for cid, hi, vi, qid in comps:
                bw_pad, bh_pad = mcus[0] * hi, mcus[1] * vi
                cw = -(-fw * hi // hmax)
                ch = -(-fh * vi // vmax)
                store[cid] = np.zeros((bh_pad, bw_pad, 64), dtype=np.int64)
                dims[cid] = (-(-cw // 8), -(-ch // 8), bw_pad, bh_pad)
                samplings[cid] = (hi, vi)
                comp_q[cid] = qid
        elif marker in (0xC0, 0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError("mixed/unsupported SOF in progressive decode")
        elif marker == 0xC4:
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0x0F
                bits = list(seg[p + 1 : p + 17])
                nv = sum(bits)
                vals = list(seg[p + 17 : p + 17 + nv])
                if len(bits) < 16 or len(vals) < nv:
                    raise ValueError("truncated DHT segment")
                huff[(tc, th)] = _build_decode_table(bits, vals)
                p += 17 + nv
        elif marker == 0xDD:
            if len(seg) < 2:
                raise ValueError("truncated DRI segment")
            restart_interval = struct.unpack_from(">H", seg, 0)[0]
        elif marker == 0xDA:
            if frame is None:
                raise ValueError("SOS before SOF")
            if not seg:
                raise ValueError("truncated SOS segment")
            ns = seg[0]
            if len(seg) < 4 + 2 * ns:
                raise ValueError("truncated SOS segment")
            scan = []
            for i in range(ns):
                cs, tt = seg[1 + 2 * i], seg[2 + 2 * i]
                scan.append((cs, tt >> 4, tt & 0x0F))
            ss, se, ahal = seg[1 + 2 * ns], seg[2 + 2 * ns], seg[3 + 2 * ns]
            ah, al = ahal >> 4, ahal & 0x0F
            for cs, _, _ in scan:
                if cs not in store:
                    raise ValueError(f"scan references undeclared component {cs}")
            br = _BitReader(payload, pos + seglen)
            if ss == 0:
                if se != 0:
                    raise ValueError("progressive DC scan must have Se == 0")
                dc_tables = {}
                for cs, td, _ in scan:
                    if ah == 0:
                        if (0, td) not in huff:
                            raise ValueError(f"undefined DC table {td}")
                        dc_tables[cs] = huff[(0, td)]
                _prog_dc_scan(
                    br, store, [cs for cs, _, _ in scan], samplings, dims, mcus,
                    dc_tables, ah, al, restart_interval,
                )
            else:
                if ns != 1:
                    raise ValueError("progressive AC scans are single-component")
                cs, _, ta = scan[0]
                if se > 63 or ss > se:
                    raise ValueError("invalid spectral band")
                if (1, ta) not in huff:
                    raise ValueError(f"undefined AC table {ta}")
                _prog_ac_scan(
                    br, store, cs, dims, huff[(1, ta)], ss, se, ah, al,
                    restart_interval,
                )
            pos = _next_marker(payload, br.pos)
            continue
        pos += seglen

    if frame is None:
        raise ValueError("no SOF2 frame found")
    fh, fw, comps, prec = frame
    level = float(1 << (prec - 1))
    maxval = (1 << prec) - 1
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    full = []
    for cid, hi, vi, qid in comps:
        if qid not in qtables:
            raise ValueError(f"frame references undefined quantization table {qid}")
        if hmax % hi or vmax % vi:
            raise NotImplementedError(
                f"non-integer-ratio sampling factors {hi}x{vi} vs max {hmax}x{vmax}"
            )
        qt = qtables[qid]
        bw_r, bh_r, _, _ = dims[cid]
        plane = np.zeros((bh_r * 8, bw_r * 8))
        for by in range(bh_r):
            for bx in range(bw_r):
                zz = store[cid][by, bx]
                coef = np.asarray(zz, dtype=np.float64)[_ZZ_INV].reshape(8, 8)
                coef *= qt
                plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                    _DCT_A.T @ coef @ _DCT_A + level
                )
        cw = -(-fw * hi // hmax)
        ch = -(-fh * vi // vmax)
        p = np.clip(np.floor(plane[:ch, :cw] + 0.5), 0, maxval)
        if hi != hmax or vi != vmax:
            p = np.repeat(np.repeat(p, vmax // vi, axis=0), hmax // hi, axis=1)
        full.append(p[:fh, :fw])

    dt = np.uint8 if prec == 8 else np.uint16
    if len(full) == 1:
        return full[0].astype(dt)[:, :, None]
    y, cb, cr = full[0], full[1], full[2]
    r = np.clip(np.floor(y + 1.402 * (cr - level) + 0.5), 0, maxval)
    g = np.clip(np.floor(y - 0.344136 * (cb - level) - 0.714136 * (cr - level) + 0.5), 0, maxval)
    b = np.clip(np.floor(y + 1.772 * (cb - level) + 0.5), 0, maxval)
    return np.stack([r, g, b], axis=2).astype(dt)
