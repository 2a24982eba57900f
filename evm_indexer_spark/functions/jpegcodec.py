"""Baseline JPEG (ITU-T T.81) codec in pure numpy + stdlib.

Closes the last honest codec stub in ``operators/multimodal.py``: this
container has no native image libraries (PIL/libjpeg absent), so the
baseline sequential DCT process is implemented here from the public
T.81 specification — 8x8 forward/inverse DCT as float64 matrix
products, the Annex K quantization and Huffman tables, JFIF container
markers, byte-stuffed entropy coding, the JFIF YCbCr transform, and
chroma subsampling: 4:4:4 or 4:2:0 on the encoder (2x2 box-averaged
chroma, the layout camera/libjpeg output typically uses), and any
1-2x1-2 sampling-factor combination (4:4:4/4:2:0/4:2:2/4:4:0) on the
decoder with sample-replication upsampling.

Scope (and honest limits):

- **Encode**: 8-bit grayscale ``(h, w)`` or RGB ``(h, w, 3)`` → baseline
  JFIF bytes at a libjpeg-style integer quality. Edge blocks replicate
  the last row/column (the standard's recommended padding), so any
  dimensions work.
- **Decode**: baseline sequential only — SOF0, 8-bit samples, 1 or 3
  components, sampling factors 1-2 in each axis (4:4:4, 4:2:0, 4:2:2,
  4:4:0), no progressive scans. Restart intervals (DRI + RSTn, with
  sequence validation), optional fill bytes and TEM markers are
  handled; unsupported features raise ``ValueError`` rather than
  decoding wrongly. Quant and Huffman tables are read from the
  stream's DQT/DHT segments, so conforming baseline streams within
  this subset decode, not just our own output.
- Entropy DECODE runs through a 16-bit-prefix LUT over the unstuffed
  scan (one table read per Huffman symbol, O(1) window peeks for
  amplitude bits, module-cached tables — ``_decode_scan_lut``), pinned
  bit-identical to the spec-shaped per-bit walk kept in test_jpeg;
  dequant/IDCT/placement are batched numpy over all blocks. Symbol
  SEQUENCING is still an interpreter loop — honest ceiling: ~0.5 µs
  per coefficient, fine for fixture/tile payloads inside Arrow
  batches, and still not the shape for bulk 100 TB photographic
  decode, which remains a native-codec job (why the other compressed
  formats stay stubbed).

Determinism note (load-bearing for the oracle strategy, see
``driver_queries.q68``): quantization at quality 100 scales every
Annex K table entry to 1, and an image that is CONSTANT on each 8x8
block has an integer DC coefficient and exactly-zero AC coefficients —
so encode→decode is bit-exact for block-constant grayscale images.
(For ARBITRARY content q100 is near-lossless, not lossless: each of
the 64 coefficients still rounds to an integer and those errors can
stack through the IDCT to a few pixel levels — property-tested bound
≤3 in test_jpeg.)
That turns a lossy codec into something a SQL oracle can verify: the
oracle recomputes pixel statistics from the closed-form block formula,
knowing nothing about JPEG, and any codec defect breaks the hash match.

Reference parity: the reference engine (denniswon/evm-indexer) has no
media path at all; this belongs to the beyond-reference multimodal
family (see multimodal.py module docstring).
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------------------
# Tables (ITU-T T.81 Annex K)
# ---------------------------------------------------------------------------

# K.1 luminance / K.2 chrominance quantization tables, natural order.
QUANT_LUMA = np.array(
    [
        [16, 11, 10, 16, 24, 40, 51, 61],
        [12, 12, 14, 19, 26, 58, 60, 55],
        [14, 13, 16, 24, 40, 57, 69, 56],
        [14, 17, 22, 29, 51, 87, 80, 62],
        [18, 22, 37, 56, 68, 109, 103, 77],
        [24, 35, 55, 64, 81, 104, 113, 92],
        [49, 64, 78, 87, 103, 121, 120, 101],
        [72, 92, 95, 98, 112, 100, 103, 99],
    ],
    dtype=np.int32,
)
QUANT_CHROMA = np.array(
    [
        [17, 18, 24, 47, 99, 99, 99, 99],
        [18, 21, 26, 66, 99, 99, 99, 99],
        [24, 26, 56, 99, 99, 99, 99, 99],
        [47, 66, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
    ],
    dtype=np.int32,
)

# Zig-zag order: ZIGZAG[k] = flat natural index of the k-th zig-zag coeff.
def _zigzag_order() -> np.ndarray:
    idx = np.empty(64, dtype=np.int64)
    k = 0
    for s in range(15):  # anti-diagonals
        rng = range(s + 1) if s % 2 else range(s, -1, -1)
        for x in rng:  # x = row index walking the diagonal
            y = s - x
            if x < 8 and y < 8:
                idx[k] = x * 8 + y
                k += 1
    return idx


ZIGZAG = _zigzag_order()

# Annex K Huffman specs: (bits[1..16] code-length counts, symbol values).
DC_LUMA_SPEC = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
DC_CHROMA_SPEC = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
AC_LUMA_SPEC = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125],
    [
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
    ],
)
AC_CHROMA_SPEC = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 119],
    [
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
    ],
)


def _build_codes(spec: tuple[list[int], list[int]]) -> dict[int, tuple[int, int]]:
    """(bits, vals) → {symbol: (code, length)} by the canonical T.81
    C.2 procedure; validates the spec is a feasible prefix code."""
    bits, vals = spec
    if len(bits) != 16 or sum(bits) != len(vals):
        raise ValueError("malformed Huffman spec")
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            if code >= (1 << length):
                raise ValueError("Huffman spec overflows code space")
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


DC_LUMA_CODES = _build_codes(DC_LUMA_SPEC)
DC_CHROMA_CODES = _build_codes(DC_CHROMA_SPEC)
AC_LUMA_CODES = _build_codes(AC_LUMA_SPEC)
AC_CHROMA_CODES = _build_codes(AC_CHROMA_SPEC)

# Orthonormal 8-point DCT-II basis M: coeffs = M @ block @ M.T and
# block = M.T @ coeffs @ M (T.81 A.3.3 with the 1/2·C(u) scaling).
def _dct_matrix() -> np.ndarray:
    x = np.arange(8)
    u = x[:, None]
    m = 0.5 * np.cos((2 * x + 1) * u * np.pi / 16.0)
    m[0] /= np.sqrt(2.0)
    return m


DCT_M = _dct_matrix()


_QUANT_CACHE: dict = {}


def quant_tables_for_quality(quality: int) -> tuple[np.ndarray, np.ndarray]:
    """Annex K tables scaled by the libjpeg integer quality convention
    (public IJG recipe): q<50 → 5000/q, else 200-2q, percent-scaled,
    clipped to [1, 255]. quality=100 → all-ones tables (lossless
    quantization of integer coefficients). Cached per quality (bulk
    encode re-enters per image) and returned READ-ONLY."""
    if not 1 <= quality <= 100:
        raise ValueError(f"quality must be in [1, 100], got {quality}")
    hit = _QUANT_CACHE.get(quality)
    if hit is not None:
        return hit
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    out = []
    for base in (QUANT_LUMA, QUANT_CHROMA):
        t = np.clip((base * scale + 50) // 100, 1, 255).astype(np.int32)
        t.setflags(write=False)
        out.append(t)
    _QUANT_CACHE[quality] = (out[0], out[1])
    return out[0], out[1]


# ---------------------------------------------------------------------------
# Bit IO with 0xFF byte stuffing
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
            self._nbits -= 8
            byte = (self._acc >> self._nbits) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing (T.81 B.1.1.5)
                self.out.append(0x00)
        self._acc &= (1 << self._nbits) - 1

    def flush(self) -> bytes:
        if self._nbits:
            pad = 8 - self._nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits
        return bytes(self.out)


# ---------------------------------------------------------------------------
# Coefficient coding helpers
# ---------------------------------------------------------------------------


def _category(v: int) -> int:
    """Magnitude category (number of bits) of a DC diff / AC value."""
    return int(abs(v)).bit_length()


def _amplitude_bits(v: int, size: int) -> int:
    """T.81 F.1.2.1: positive values verbatim; negative values as
    (v - 1) masked to `size` bits (one's-complement style)."""
    return v if v >= 0 else (v - 1) & ((1 << size) - 1)


def _encode_block(
    writer: _BitWriter,
    zz: list[int],
    pred: int,
    dc_codes: dict,
    ac_codes: dict,
    last_nz: int,
) -> int:
    """Entropy-encode one zig-zag coefficient vector (a plain int list;
    *last_nz* is the index of its last nonzero AC coefficient, 0 when
    all-zero — precomputed VECTORIZED over every block by the caller,
    which is where the per-block ``np.nonzero`` cost went); returns
    the new DC predictor."""
    dc = zz[0]
    diff = dc - pred
    size = _category(diff)
    code, length = dc_codes[size]
    writer.write(code, length)
    if size:
        writer.write(_amplitude_bits(diff, size), size)
    run = 0
    for k in range(1, last_nz + 1):
        v = zz[k]
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_codes[0xF0]  # ZRL: 16 zeros
            writer.write(code, length)
            run -= 16
        size = _category(v)
        code, length = ac_codes[(run << 4) | size]
        writer.write(code, length)
        writer.write(_amplitude_bits(v, size), size)
        run = 0
    if last_nz < 63:
        code, length = ac_codes[0x00]  # EOB
        writer.write(code, length)
    return dc


_LUT_CACHE: dict = {}


class _HuffDecoder:
    """A DHT table's canonical code (T.81 C: code-length counts *bits*
    and symbols *vals*), decoded through ``lut``."""

    def __init__(self, bits: list[int], vals: list[int]) -> None:
        self.bits = list(bits)
        self.vals = vals

    def lut(self) -> tuple[list[int], list[int]]:
        """Full 16-bit prefix lookup table (symbol, code length): a
        canonical code of length L owns the 2^(16-L) windows sharing
        its prefix, so ONE indexed read replaces L per-bit walk steps
        (T.81 F.2.2.3 DECODE). Length 0 marks windows no code owns (an
        invalid Huffman code in the stream). Cached
        MODULE-wide by table content, not per instance — every decode
        re-parses DHT into fresh decoder objects, and bulk decode (the
        mapInPandas batches of q68) sees the same four Annex K tables
        for thousands of images; ~128 KiB per table as plain Python
        lists (faster to index from the interpreter than numpy
        scalars)."""
        key = (tuple(self.bits), tuple(self.vals))
        hit = _LUT_CACHE.get(key)
        if hit is not None:
            return hit
        sym = [0] * 65536
        ln = [0] * 65536
        code = 0
        k = 0
        for length in range(1, 17):
            for _ in range(self.bits[length - 1]):
                lo = code << (16 - length)
                hi = lo + (1 << (16 - length))
                sym[lo:hi] = [self.vals[k]] * (hi - lo)
                ln[lo:hi] = [length] * (hi - lo)
                code += 1
                k += 1
            code <<= 1
        if len(_LUT_CACHE) >= 64:  # bound: corrupt-stream DHT spam
            _LUT_CACHE.clear()
        _LUT_CACHE[key] = (sym, ln)
        return sym, ln


# ---------------------------------------------------------------------------
# Color transforms (JFIF full-range YCbCr)
# ---------------------------------------------------------------------------


def _rgb_to_ycbcr(px: np.ndarray) -> np.ndarray:
    r, g, b = (px[..., i].astype(np.float64) for i in range(3))
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168735892 * r - 0.331264108 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418687589 * g - 0.081312411 * b
    return np.stack([y, cb, cr], axis=-1)


def _ycbcr_to_rgb(px: np.ndarray) -> np.ndarray:
    y, cb, cr = (px[..., i] for i in range(3))
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136286 * (cb - 128.0) - 0.714136286 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.stack([r, g, b], axis=-1)


# ---------------------------------------------------------------------------
# Encoder
# ---------------------------------------------------------------------------


def _plane_blocks(plane: np.ndarray) -> tuple[np.ndarray, int, int]:
    """Pad a (h, w) float plane to 8-multiples by edge replication and
    return (blocks[n, 8, 8], blocks_y, blocks_x)."""
    h, w = plane.shape
    ph, pw = -h % 8, -w % 8
    if ph or pw:
        plane = np.pad(plane, ((0, ph), (0, pw)), mode="edge")
    by, bx = plane.shape[0] // 8, plane.shape[1] // 8
    blocks = (
        plane.reshape(by, 8, bx, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    )
    return blocks, by, bx


def _grid_blocks(plane: np.ndarray, rows: int, cols: int) -> np.ndarray:
    """Edge-pad a float plane to (rows*8, cols*8) and return its 8x8
    blocks row-major — the MCU-aligned generalization of
    ``_plane_blocks`` (a component's grid must cover the MCU lattice,
    not just 8-multiples)."""
    ph, pw = rows * 8 - plane.shape[0], cols * 8 - plane.shape[1]
    if ph or pw:
        plane = np.pad(plane, ((0, ph), (0, pw)), mode="edge")
    return (
        plane.reshape(rows, 8, cols, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    )


def _box_downsample2(p: np.ndarray) -> np.ndarray:
    """2x2 box average with edge replication on odd dims — the encoder
    side of 4:2:0 chroma subsampling."""
    if p.shape[0] % 2:
        p = np.vstack([p, p[-1:]])
    if p.shape[1] % 2:
        p = np.hstack([p, p[:, -1:]])
    return (p[0::2, 0::2] + p[1::2, 0::2] + p[0::2, 1::2] + p[1::2, 1::2]) / 4.0


def jpeg_encode(
    pixels: np.ndarray,
    quality: int = 85,
    restart_interval: int = 0,
    subsampling: str = "444",
) -> bytes:
    """Encode 8-bit grayscale (h, w) or RGB (h, w, 3) to baseline JFIF
    bytes. All the DCT/quantization math is vectorized over blocks; the
    per-coefficient Huffman loop is Python (see module docstring).
    *restart_interval* > 0 emits a DRI segment and RSTn markers every
    that many MCUs (DC predictors reset at each) — the error-resilience
    feature real encoders use for parallel/robust decode.
    *subsampling* "444" (default, mathematically cleanest) or "420"
    (2x2-box-averaged chroma, what camera/libjpeg output typically
    uses — 4 luma + 2 chroma blocks per MCU)."""
    px = np.asarray(pixels)
    if px.dtype != np.uint8:
        raise ValueError("pixels must be uint8")
    if subsampling not in ("444", "420"):
        raise ValueError(f"unsupported subsampling {subsampling!r}")
    if px.ndim == 2:
        planes = [px.astype(np.float64)]
    elif px.ndim == 3 and px.shape[2] == 3:
        ycc = _rgb_to_ycbcr(px)
        planes = [ycc[..., 0], ycc[..., 1], ycc[..., 2]]
    else:
        raise ValueError(f"unsupported pixel shape {px.shape}")
    h, w = px.shape[:2]
    if not (0 < h < 65536 and 0 < w < 65536):
        raise ValueError("image dimensions out of JPEG range")
    ncomp = len(planes)
    if ncomp == 3 and subsampling == "420":
        samp = [(2, 2), (1, 1), (1, 1)]
        planes = [planes[0], _box_downsample2(planes[1]),
                  _box_downsample2(planes[2])]
    else:
        samp = [(1, 1)] * ncomp
    hmax = max(hs for hs, _ in samp)
    vmax = max(vs for _, vs in samp)
    mcx = -(-w // (8 * hmax))
    mcy = -(-h // (8 * vmax))
    qluma, qchroma = quant_tables_for_quality(quality)

    # quantized zig-zag coefficients per component, vectorized; each
    # component's block grid is MCU-aligned (mcy*vs x mcx*hs)
    comp_zz: list[np.ndarray] = []
    comp_lastnz: list[list[int]] = []
    comp_cols: list[int] = []
    for ci, plane in enumerate(planes):
        q = qluma if ci == 0 else qchroma
        hs, vs = samp[ci]
        blocks = _grid_blocks(plane - 128.0, mcy * vs, mcx * hs)
        coeffs = np.einsum("ux,nxy,vy->nuv", DCT_M, blocks, DCT_M)
        zz = np.round(coeffs / q).astype(np.int64).reshape(-1, 64)[:, ZIGZAG]
        comp_zz.append(zz)
        nzmask = zz[:, 1:] != 0
        comp_lastnz.append(
            np.where(
                nzmask.any(axis=1),
                63 - np.argmax(nzmask[:, ::-1], axis=1),
                0,
            ).tolist()
        )
        comp_cols.append(mcx * hs)

    # headers
    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" + struct.pack(">HHBB", 1, 1, 0, 0)
    zz_luma = qluma.reshape(-1)[ZIGZAG].astype(np.uint8)
    out += b"\xff\xdb" + struct.pack(">HB", 67, 0x00) + zz_luma.tobytes()
    if ncomp == 3:
        zz_chroma = qchroma.reshape(-1)[ZIGZAG].astype(np.uint8)
        out += b"\xff\xdb" + struct.pack(">HB", 67, 0x01) + zz_chroma.tobytes()
    # SOF0
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for ci in range(ncomp):
        hs, vs = samp[ci]
        sof += struct.pack(
            "BBB", ci + 1, (hs << 4) | vs, 0 if ci == 0 else 1
        )  # id, sampling factors, quant table
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
    # DHT
    specs = [(0x00, DC_LUMA_SPEC), (0x10, AC_LUMA_SPEC)]
    if ncomp == 3:
        specs += [(0x01, DC_CHROMA_SPEC), (0x11, AC_CHROMA_SPEC)]
    for tc_th, (bits, vals) in specs:
        body = bytes([tc_th]) + bytes(bits) + bytes(vals)
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body
    # SOS
    sos = bytes([ncomp])
    for ci in range(ncomp):
        sos += bytes([ci + 1, 0x00 if ci == 0 else 0x11])  # DC/AC table ids
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    sos += bytes([0, 63, 0])  # spectral selection (baseline fixed)
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

    # entropy-coded segment: interleaved MCUs — each MCU carries
    # hs*vs blocks per component in raster order within the MCU
    writer = _BitWriter()
    preds = [0] * ncomp
    rst = 0
    for m in range(mcx * mcy):
        if restart_interval and m and m % restart_interval == 0:
            # close the entropy segment, emit RSTn, reset DC predictors
            out += writer.flush()
            out += bytes([0xFF, 0xD0 + rst % 8])
            rst += 1
            writer = _BitWriter()
            preds = [0] * ncomp
        my, mx = divmod(m, mcx)
        for ci in range(ncomp):
            dc_codes = DC_LUMA_CODES if ci == 0 else DC_CHROMA_CODES
            ac_codes = AC_LUMA_CODES if ci == 0 else AC_CHROMA_CODES
            hs, vs = samp[ci]
            for vv in range(vs):
                for hh in range(hs):
                    bidx = (my * vs + vv) * comp_cols[ci] + (mx * hs + hh)
                    preds[ci] = _encode_block(
                        writer, comp_zz[ci][bidx].tolist(), preds[ci],
                        dc_codes, ac_codes, comp_lastnz[ci][bidx],
                    )
    out += writer.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ---------------------------------------------------------------------------
# Decoder
# ---------------------------------------------------------------------------


def _entropy_segments(scan: bytes) -> tuple[list[bytes], list[int | None]]:
    """Split the entropy-coded scan at RSTn markers and unstuff FF00
    pairs, in one numpy pass over the byte array. Returns
    ``(segments, cut)`` where ``cut[i]`` classifies what ENDED segment
    i: the RSTn marker byte (0xD0-0xD7), ``-1`` for any other marker
    (decoding into it is the scalar reader's 'unexpected marker'
    error), ``None`` for the true end of the scan."""
    a = np.frombuffer(scan, dtype=np.uint8)
    ff = np.nonzero(a == 0xFF)[0]
    segments: list[bytes] = []
    cuts: list[int | None] = []
    start = 0
    drop: list[int] = []  # stuffed-zero positions inside current segment
    for p in ff.tolist():
        if p < start:  # the FF consumed as part of a marker pair
            continue
        nxt = int(a[p + 1]) if p + 1 < len(a) else -1
        if nxt == 0x00:
            drop.append(p + 1)
            continue
        seg = np.delete(a[start:p], [d - start for d in drop])
        segments.append(seg.tobytes())
        drop = []
        if 0xD0 <= nxt <= 0xD7:
            cuts.append(nxt)
            start = p + 2
            continue
        # any other marker (or a trailing lone FF) hard-ends the scan
        cuts.append(-1)
        return segments, cuts
    seg = np.delete(a[start:], [d - start for d in drop])
    segments.append(seg.tobytes())
    cuts.append(None)
    return segments, cuts


def _decode_scan_lut(
    scan: bytes,
    comps: list[tuple[int, int, int, int]],
    scan_tables: list[tuple[int, int]],
    htables: dict[tuple[int, int], _HuffDecoder],
    restart_interval: int,
    mcx: int,
    mcy: int,
) -> list[np.ndarray]:
    """Entropy decode: per-component ``(nblocks, 64)`` int64 zig-zag
    coefficients in MCU scan order. Bit-identical to the spec-shaped
    per-bit walk (T.81 F.2.2.3; test_jpeg pins the two across content,
    subsampling and restart intervals) but ~an order of magnitude
    faster: the scan is unstuffed ONCE into plain bytes,
    every Huffman symbol is ONE 16-bit-window lookup in the canonical
    prefix LUT (``_HuffDecoder.lut``), and amplitude bits are O(1)
    3-byte window peeks — no per-bit Python loop anywhere."""
    segs, cuts = _entropy_segments(scan)
    ncomp = len(comps)
    out = [
        np.zeros((mcx * mcy * hs * vs, 64), dtype=np.int64)
        for _, _, hs, vs in comps
    ]
    fill = [0] * ncomp
    luts = []
    for ci in range(ncomp):
        dsym, dlen = htables[(0, scan_tables[ci][0])].lut()
        asym, alen = htables[(1, scan_tables[ci][1])].lut()
        luts.append((dsym, dlen, asym, alen))
    si = 0
    buf = segs[0] + b"\x00\x00\x00"  # pad so 3-byte peeks never index out
    total = len(segs[0]) * 8
    pos = 0
    preds = [0] * ncomp
    rst = 0

    def _end_error() -> ValueError:
        # parity with the scalar reader's two out-of-bits conditions
        if cuts[si] is None:
            return ValueError("entropy stream exhausted")
        return ValueError("unexpected marker inside entropy data")

    def _read_amplitude(size: int) -> int:
        nonlocal pos
        if pos + size > total:
            raise _end_error()
        v = 0
        rem = size
        while rem:  # one iteration for every real stream (size <= 16)
            take = min(16, rem)
            b = pos >> 3
            sh = pos & 7
            w = (buf[b] << 16) | (buf[b + 1] << 8) | buf[b + 2]
            v = (v << take) | ((w >> (24 - sh - take)) & ((1 << take) - 1))
            pos += take
            rem -= take
        return v

    for m in range(mcx * mcy):
        if restart_interval and m and m % restart_interval == 0:
            # scalar parity: every entropy byte consumed, then RSTn
            if (pos + 7) // 8 != total // 8 or not isinstance(cuts[si], int) \
                    or cuts[si] < 0:
                raise ValueError("expected restart marker in scan")
            if cuts[si] & 7 != rst % 8:
                raise ValueError("restart marker out of sequence")
            si += 1
            buf = segs[si] + b"\x00\x00\x00"
            total = len(segs[si]) * 8
            pos = 0
            rst += 1
            preds = [0] * ncomp
        for ci in range(ncomp):
            dsym, dlen, asym, alen = luts[ci]
            _, _, hs, vs = comps[ci]
            arr = out[ci]
            for _ in range(hs * vs):
                zz = arr[fill[ci]]
                fill[ci] += 1
                b = pos >> 3
                sh = pos & 7
                w = (buf[b] << 16) | (buf[b + 1] << 8) | buf[b + 2]
                v = (w >> (8 - sh)) & 0xFFFF
                length = dlen[v]
                if length == 0:
                    if pos + 16 > total:
                        raise _end_error()
                    raise ValueError("invalid Huffman code in stream")
                if pos + length > total:
                    raise _end_error()
                size = dsym[v]
                pos += length
                if size:
                    if pos + size > total:
                        raise _end_error()
                    if size <= 16:
                        b = pos >> 3
                        sh = pos & 7
                        w = (buf[b] << 16) | (buf[b + 1] << 8) | buf[b + 2]
                        bits = (w >> (24 - sh - size)) & ((1 << size) - 1)
                        pos += size
                    else:  # corrupt-stream DC category > 16
                        bits = _read_amplitude(size)
                    if bits < 1 << (size - 1):
                        bits += 1 - (1 << size)
                    preds[ci] += bits
                zz[0] = preds[ci]
                k = 1
                while k < 64:
                    b = pos >> 3
                    sh = pos & 7
                    w = (buf[b] << 16) | (buf[b + 1] << 8) | buf[b + 2]
                    v = (w >> (8 - sh)) & 0xFFFF
                    length = alen[v]
                    if length == 0:
                        if pos + 16 > total:
                            raise _end_error()
                        raise ValueError("invalid Huffman code in stream")
                    if pos + length > total:
                        raise _end_error()
                    sym = asym[v]
                    pos += length
                    if sym == 0x00:  # EOB
                        break
                    run, size = sym >> 4, sym & 0x0F
                    if size == 0:
                        if run != 15:
                            raise ValueError("invalid AC symbol")
                        k += 16  # ZRL
                        continue
                    k += run
                    if k > 63:
                        raise ValueError("AC run overflows block")
                    if pos + size > total:
                        raise _end_error()
                    b = pos >> 3
                    sh = pos & 7
                    w = (buf[b] << 16) | (buf[b + 1] << 8) | buf[b + 2]
                    bits = (w >> (24 - sh - size)) & ((1 << size) - 1)
                    pos += size
                    if bits < 1 << (size - 1):
                        bits += 1 - (1 << size)
                    zz[k] = bits
                    k += 1
    return out


def jpeg_header_dims(data: bytes) -> tuple[int, int, int]:
    """(height, width, n_components) from the frame header ONLY — a
    marker walk to the first SOF segment, no Huffman/DCT work, O(header
    bytes) regardless of payload size. This is the metadata path the
    decode-budget cap routes oversized payloads to
    (``multimodal.image_pixel_extremes(decode_budget_bytes=...)``):
    at 100 TB, per-row decode CPU must be bounded by a budget, not by
    whatever the largest payload happens to cost. Accepts any SOF0-SOF15
    frame type (dimensions are frame-header fields common to all),
    including the progressive streams ``jpeg_decode`` refuses."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    pos = 2
    sof = {0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
           0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF}
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"expected marker at byte {pos}")
        marker = data[pos + 1]
        if marker == 0xFF:
            pos += 1
            continue
        if marker in (0xD9, 0xDA):  # EOI / SOS before any SOF
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        (seglen,) = struct.unpack_from(">H", data, pos + 2)
        if marker in sof:
            if pos + 10 > len(data):
                raise ValueError("truncated SOF frame header")
            _precision, h, w, nc = struct.unpack_from(">BHHB", data, pos + 4)
            return int(h), int(w), int(nc)
        pos += 2 + seglen
    raise ValueError("no SOF frame header found")


def jpeg_decode(data: bytes) -> np.ndarray:
    """Decode baseline 4:4:4 JFIF bytes (the subset in the module
    docstring) to uint8 pixels: (h, w) for 1 component, (h, w, 3) RGB
    for 3."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], _HuffDecoder] = {}
    restart_interval = 0
    h = w = None
    comps: list[tuple[int, int]] = []  # (component id, quant table id)
    scan: bytes | None = None
    scan_tables: list[tuple[int, int]] = []
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"expected marker at byte {pos}")
        marker = data[pos + 1]
        if marker == 0xFF:  # optional fill byte before a marker (B.1.1.2)
            pos += 1
            continue
        if marker == 0xD9:  # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:  # TEM/RSTn: no body
            pos += 2
            continue
        (seglen,) = struct.unpack_from(">H", data, pos + 2)
        body = data[pos + 4 : pos + 2 + seglen]
        pos += 2 + seglen
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            off = 0
            while off < len(body):
                pq, tq = body[off] >> 4, body[off] & 0x0F
                if pq != 0:
                    raise ValueError("16-bit quant tables not supported")
                tbl = np.frombuffer(body, np.uint8, 64, off + 1).astype(np.int64)
                nat = np.empty(64, dtype=np.int64)
                nat[ZIGZAG] = tbl
                qtables[tq] = nat.reshape(8, 8)
                off += 65
        elif marker == 0xC4:  # DHT
            off = 0
            while off < len(body):
                tc, th = body[off] >> 4, body[off] & 0x0F
                bits = list(body[off + 1 : off + 17])
                n = sum(bits)
                vals = list(body[off + 17 : off + 17 + n])
                htables[(tc, th)] = _HuffDecoder(bits, vals)
                off += 17 + n
        elif marker == 0xC0:  # SOF0 baseline
            precision, h, w, nc = struct.unpack_from(">BHHB", body, 0)
            if precision != 8:
                raise ValueError("only 8-bit precision supported")
            if nc not in (1, 3):
                raise ValueError(f"unsupported component count {nc}")
            for ci in range(nc):
                cid, sampling, tq = body[6 + 3 * ci : 9 + 3 * ci]
                hs, vs = sampling >> 4, sampling & 0x0F
                if nc == 1:
                    hs = vs = 1  # single-component scans are one block/MCU
                if hs not in (1, 2) or vs not in (1, 2):
                    raise ValueError(
                        f"unsupported sampling factors {hs}x{vs}"
                    )
                comps.append((cid, tq, hs, vs))
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError("only baseline sequential (SOF0) supported")
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:  # SOS — entropy data follows the header
            ns = body[0]
            if ns != len(comps):
                raise ValueError("non-interleaved scans not supported")
            for si in range(ns):
                _cid, tables = body[1 + 2 * si], body[2 + 2 * si]
                scan_tables.append((tables >> 4, tables & 0x0F))
            # entropy data runs until the next real marker (stuffed
            # FF00 excluded); find EOI
            end = len(data) - 2 if data.endswith(b"\xff\xd9") else len(data)
            scan = data[pos:end]
            break
    if h is None or scan is None:
        raise ValueError("truncated JPEG: missing SOF/SOS")

    hmax = max(hs for _, _, hs, _ in comps)
    vmax = max(vs for _, _, _, vs in comps)
    mcx = -(-w // (8 * hmax))
    mcy = -(-h // (8 * vmax))
    coeff = _decode_scan_lut(
        scan, comps, scan_tables, htables, restart_interval, mcx, mcy
    )
    # dequant + IDCT + MCU placement, batched over all blocks of a
    # component: one fancy-index de-zigzag, one stacked (8,8)@(nb,8,8)
    # matmul pair (same per-block association as the scalar original,
    # so pixels are bit-identical), one transpose-reshape to the plane
    planes = []
    for ci, (_cid, tq, hs, vs) in enumerate(comps):
        nat = np.zeros_like(coeff[ci])
        nat[:, ZIGZAG] = coeff[ci]
        blocks = nat.reshape(-1, 8, 8) * qtables[tq][None, :, :]
        pix = (DCT_M.T @ blocks.astype(np.float64)) @ DCT_M + 128.0
        grid = pix.reshape(mcy, mcx, vs, hs, 8, 8)
        planes.append(
            grid.transpose(0, 2, 4, 1, 3, 5).reshape(
                mcy * vs * 8, mcx * hs * 8
            )
        )
    # upsample subsampled components to full resolution (nearest /
    # sample replication — the decoder's choice per the spec) and crop
    planes = np.stack(
        [
            np.repeat(
                np.repeat(pl, vmax // vs, axis=0), hmax // hs, axis=1
            )[: mcy * vmax * 8, : mcx * hmax * 8]
            for pl, (_, _, hs, vs) in zip(planes, comps)
        ]
    )
    planes = planes[:, :h, :w]
    if len(comps) == 1:
        return np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
    rgb = _ycbcr_to_rgb(np.stack([planes[0], planes[1], planes[2]], axis=-1))
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)
