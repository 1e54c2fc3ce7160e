"""Baseline JPEG codec — pure stdlib+numpy, written from the public spec
(ITU-T T.81 / ISO 10918-1; quantization + Huffman tables from Annex K,
quality scaling per the public IJG formula).

Closes the round-3 "entropy-coded codecs remain honest gates" item for
JPEG: a REAL entropy coder (canonical Huffman, DC prediction, AC
run-length with ZRL/EOB, byte stuffing, restart markers) over a real
transform (8×8 DCT-II, batched as one numpy tensordot per component —
the per-block math never loops in Python; only the inherently sequential
bit-level Huffman scan does, per SYMBOL not per pixel).

Decoder (foreign-input path): baseline sequential DCT (SOF0/1) AND
progressive DCT (SOF2 — Annex G spectral selection + successive
approximation, EOB runs, DC/AC refinement scans), grayscale or YCbCr,
ANY h/v sampling factors ≤ 2 (4:4:4, 4:2:2, 4:2:0 — MCU interleaving
per the spec), DRI/RSTn restart intervals, stuffed bytes, APPn/COM
skipping. Lossless/arithmetic SOF variants raise — honest subset.

Encoder: 4:4:4/4:2:0 YCbCr baseline with the Annex K tables scaled by
the IJG quality formula and the Annex K "typical" Huffman tables, plus
a progressive (SOF2) encoder with a configurable scan script. Decode
parity is gated coefficient-exactly against an independent per-block
quantize/dequantize reference in tests, hand-packed spec goldens for
BOTH modes, and a pixel-identity gate progressive-vs-baseline (both
pack the same quantized coefficients).

The reference only sniffs JPEG magic bytes
(``/root/reference/src/cinescrapers/__main__.py:260-281``); full decode
parity is beyond it.
"""

from __future__ import annotations

import struct

import numpy as np

_JPEG_MAX_PIXELS = 64_000_000  # decompression-bomb cap (foreign-input path)

# --------------------------------------------------------------------------
# constant tables (ITU-T T.81 Annex K — public spec data)
# --------------------------------------------------------------------------
ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ]
)  # natural index of the k-th zigzag position (Figure A.6)

_QL_BASE = np.array(  # Table K.1 (luminance), natural order
    [
        16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99,
    ]
)
_QC_BASE = np.array(  # Table K.2 (chrominance), natural order
    [
        17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    ]
)

# Annex K.3 "typical" Huffman tables: (BITS[1..16], HUFFVAL)
_DC_LUM = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_DC_CHROM = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_AC_LUM = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
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
_AC_CHROM = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
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

# orthonormal DCT-II basis: C[u, x] = a(u) cos((2x+1)uπ/16)
_DCT = np.array(
    [
        [
            (np.sqrt(1 / 8) if u == 0 else np.sqrt(2 / 8))
            * np.cos((2 * x + 1) * u * np.pi / 16)
            for x in range(8)
        ]
        for u in range(8)
    ]
)


def quality_tables(quality: int = 75) -> tuple[np.ndarray, np.ndarray]:
    """Annex K tables scaled by the public IJG quality formula (1..100)."""
    q = min(100, max(1, quality))
    scale = 5000 // q if q < 50 else 200 - 2 * q
    out = []
    for base in (_QL_BASE, _QC_BASE):
        t = (base * scale + 50) // 100
        out.append(np.clip(t, 1, 255).astype(np.int32))
    return out[0], out[1]


# --------------------------------------------------------------------------
# Huffman machinery (canonical codes from (BITS, HUFFVAL) per Annex C)
# --------------------------------------------------------------------------
def _build_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol → (code, length)."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _build_decoder(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) → symbol."""
    return {(ln, c): s for s, (c, ln) in _build_codes(bits, vals).items()}


def _code_arrays(*tables) -> tuple[np.ndarray, np.ndarray]:
    """Canonical codes of each (BITS, HUFFVAL) table as read-only
    (len(tables), 256) uint16 code and uint8 length arrays, one row per
    table slot: the layout the C encode kernels take."""
    codes = np.zeros((len(tables), 256), np.uint16)
    lens = np.zeros((len(tables), 256), np.uint8)
    for slot, tbl in enumerate(tables):
        for sym, (code, ln) in _build_codes(*tbl).items():
            codes[slot, sym] = code
            lens[slot, sym] = ln
    codes.flags.writeable = lens.flags.writeable = False
    return codes, lens


# The encoders' tables are static, so their codes are built once: dicts for
# the Python emit paths, arrays (slots DC lum, DC chrom, AC lum, AC chrom)
# for the C kernels.
_DC_CODES = (_build_codes(*_DC_LUM), _build_codes(*_DC_CHROM))
_AC_CODES = (_build_codes(*_AC_LUM), _build_codes(*_AC_CHROM))
_SEQ_CODES, _SEQ_LENS = _code_arrays(_DC_LUM, _DC_CHROM, _AC_LUM, _AC_CHROM)


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            b = (self.acc >> (self.n - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def flush(self) -> bytes:
        if self.n:
            pad = 8 - self.n
            self.write((1 << pad) - 1, pad)  # pad with 1-bits per spec
        return bytes(self.out)


class _BitReader:
    """MSB-first reader over the entropy-coded segment; un-stuffs FF00 and
    stops at any other marker (exposing it to the caller)."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.n = 0
        self.marker: int | None = None

    def _fill(self) -> bool:
        d = self.data
        if self.marker is not None:
            return False
        if self.pos >= len(d):
            return False
        b = d[self.pos]
        if b == 0xFF:
            nxt = d[self.pos + 1] if self.pos + 1 < len(d) else 0xD9
            if nxt == 0x00:
                self.pos += 2
            else:
                self.marker = nxt  # real marker: stop feeding bits
                return False
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | b
        self.n += 8
        return True

    def bit(self) -> int:
        if self.n == 0 and not self._fill():
            return 0  # spec: missing bits past a marker read as 0 padding
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v

    def huff(self, table: dict[tuple[int, int], int]) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.bit()
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid JPEG Huffman code")

    def sync_to_marker(self) -> int | None:
        """Discard bits; return the pending marker byte (after 0xFF)."""
        self.acc = 0
        self.n = 0
        while self.marker is None and self.pos < len(self.data):
            if (
                self.data[self.pos] == 0xFF
                and self.pos + 1 < len(self.data)
                and self.data[self.pos + 1] != 0x00
            ):
                self.marker = self.data[self.pos + 1]
                break
            self.pos += 1
        return self.marker

    def consume_marker(self) -> None:
        self.pos += 2
        self.marker = None


def _extend(v: int, size: int) -> int:
    """DC/AC magnitude decode (spec F.2.2.1 EXTEND)."""
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def _category(v: int) -> int:
    return int(v).bit_length() if v >= 0 else int(-v).bit_length()


# --------------------------------------------------------------------------
# encode
# --------------------------------------------------------------------------
def _rgb_to_ycbcr(arr: np.ndarray) -> np.ndarray:
    f = arr.astype(np.float64)
    r, g, b = f[..., 0], f[..., 1], f[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return np.stack([y, cb, cr], axis=-1)


def _ycbcr_to_rgb(y: np.ndarray, cb: np.ndarray, cr: np.ndarray) -> np.ndarray:
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.clip(np.stack([r, g, b], axis=-1).round(), 0, 255).astype(np.uint8)


def _blockize(plane: np.ndarray) -> np.ndarray:
    """(H, W) → (n_blocks, 8, 8), edge-replicated to multiples of 8,
    blocks in raster order."""
    h, w = plane.shape
    ph, pw = -h % 8, -w % 8
    p = np.pad(plane, ((0, ph), (0, pw)), mode="edge") if ph or pw else plane
    bh, bw = p.shape[0] // 8, p.shape[1] // 8
    return p.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8), bh, bw


def _quantize_plane(plane: np.ndarray, qt: np.ndarray) -> np.ndarray:
    """Level-shift, batched DCT, quantize → (n_blocks, 64) int32 in
    NATURAL order."""
    blocks, _, _ = _blockize(np.subtract(plane, 128.0))
    # C f C^T as two BLAS matmuls (an unoptimized einsum measured 4 ms/img
    # — 70% of encode wall; matmul broadcasts over the block axis). One
    # gemm over all blocks at once rounds differently, so the bytes would
    # change.
    coeff = _DCT @ blocks @ _DCT.T
    coeff /= qt.reshape(8, 8)
    return np.rint(coeff, out=coeff).astype(np.int32).reshape(-1, 64)


def _encode_block(bw: "_BitWriter", blk: np.ndarray, pred: int, dc, ac) -> int:
    """Huffman-encode one zigzag-ordered quantized block; returns new DC
    predictor."""
    diff = int(blk[0]) - pred
    s = _category(diff)
    code, ln = dc[s]
    bw.write(code, ln)
    if s:
        bw.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
    run = 0
    last_nz = np.nonzero(blk[1:])[0]
    last = last_nz[-1] + 1 if last_nz.size else 0
    for k in range(1, last + 1):
        v = int(blk[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac[0xF0]  # ZRL
            bw.write(code, ln)
            run -= 16
        s = _category(v)
        code, ln = ac[run * 16 + s]
        bw.write(code, ln)
        bw.write(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if last < 63:
        code, ln = ac[0x00]  # EOB
        bw.write(code, ln)
    return int(blk[0])


def _python_entropy(coeffs, widths, samps, mcux, mcuy, restart_interval):
    """Reference pure-Python entropy encode (the semantics oracle for the
    C kernel — byte-identical output, gated in tests) and the only path
    that emits restart intervals."""
    dc_codes, ac_codes = _DC_CODES, _AC_CODES
    bw = _BitWriter()
    pred = [0, 0, 0]
    entropy = bytearray()
    rst = 0
    mcu_i = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_i and mcu_i % restart_interval == 0:
                entropy += bw.flush()
                bw = _BitWriter()
                entropy += bytes([0xFF, 0xD0 + rst])
                rst = (rst + 1) % 8
                pred = [0, 0, 0]
            for ci in range(3):
                sh, sv = samps[ci]
                tsel = 0 if ci == 0 else 1
                for by in range(sv):
                    for bx in range(sh):
                        row = (my * sv + by) * widths[ci] + (mx * sh + bx)
                        blk = coeffs[ci][row][ZIGZAG]
                        pred[ci] = _encode_block(
                            bw, blk, pred[ci], dc_codes[tsel], ac_codes[tsel]
                        )
            mcu_i += 1
    entropy += bw.flush()
    return entropy


def _mcu_rows(sh: int, sv: int, mcux: int, mcuy: int) -> np.ndarray:
    """Block-row indices of an (sh, sv)-sampled component, mcux * sh
    blocks wide, in interleaved MCU emission order: (mcuy, mcux, sv * sh)."""
    my = np.arange(mcuy).reshape(mcuy, 1, 1, 1)
    mx = np.arange(mcux).reshape(1, mcux, 1, 1)
    by = np.arange(sv).reshape(1, 1, sv, 1)
    bx = np.arange(sh).reshape(1, 1, 1, sh)
    return ((my * sv + by) * (mcux * sh) + (mx * sh + bx)).reshape(
        mcuy, mcux, sv * sh
    )


def _native_entropy(coeffs, samps, mcux, mcuy):
    """Try the C entropy-encode kernel: builds the emission-order zigzag
    block array (vectorized gather — MCU interleave for any sampling) and
    the per-block table/predictor slots, then one C call. Returns the
    stuffed entropy bytes (final flush included) or None (no compiler).
    Byte-identical to the Python _BitWriter path, gated in tests."""
    from cinescrapers_spark.images._native import jpeg_encode_blocks, native_lib

    if native_lib() is None:
        return None
    gathered = []
    pat_pred: list[int] = []
    pat_dc: list[int] = []
    pat_ac: list[int] = []
    for ci, (sh, sv) in enumerate(samps):
        # (mcuy, mcux, k_ci, 64); a plane is mcux * sh blocks wide
        gathered.append(coeffs[ci][_mcu_rows(sh, sv, mcux, mcuy)])
        tsel = 0 if ci == 0 else 1
        pat_pred += [ci] * (sv * sh)
        pat_dc += [tsel] * (sv * sh)
        pat_ac += [2 + tsel] * (sv * sh)
    emis = np.ascontiguousarray(
        np.concatenate(gathered, axis=2).reshape(-1, 64)[:, ZIGZAG]
    )
    n_mcu = mcux * mcuy
    return jpeg_encode_blocks(
        emis,
        np.tile(np.array(pat_pred, np.uint8), n_mcu),
        np.tile(np.array(pat_dc, np.uint8), n_mcu),
        np.tile(np.array(pat_ac, np.uint8), n_mcu),
        _SEQ_CODES,
        _SEQ_LENS,
    )


def _prepare_coeffs(arr: np.ndarray, quality: int, subsampling: str):
    """RGB → per-component quantized coefficient stores on the MCU-padded
    grid. Returns (coeffs, widths, samps, mcux, mcuy, ql, qc)."""
    h, w, c = arr.shape
    assert c == 3 and arr.dtype == np.uint8
    assert subsampling in ("444", "420")
    ql, qc = quality_tables(quality)
    ysamp = (2, 2) if subsampling == "420" else (1, 1)
    hmax, vmax = ysamp
    # pad the image to full MCUs so every component's plane blockizes to
    # exactly (mcuy*v, mcux*h) blocks; the color transform is per pixel,
    # so padding the RGB bytes first pads the planes identically
    mw, mh = 8 * hmax, 8 * vmax
    pad_h, pad_w = -h % mh, -w % mw
    if pad_h or pad_w:
        arr = np.pad(arr, ((0, pad_h), (0, pad_w), (0, 0)), mode="edge")
    ycc = _rgb_to_ycbcr(arr)
    planes = [ycc[..., 0], ycc[..., 1], ycc[..., 2]]
    if subsampling == "420":
        for i in (1, 2):
            p = planes[i]
            planes[i] = p.reshape(p.shape[0] // 2, 2, p.shape[1] // 2, 2).mean(
                axis=(1, 3)
            )
    qts = [ql, qc, qc]
    samps = [ysamp, (1, 1), (1, 1)]
    coeffs = []
    widths = []
    for p, qt in zip(planes, qts):
        q = _quantize_plane(p, qt)
        coeffs.append(q)
        widths.append(p.shape[1] // 8)
    mcux = planes[0].shape[1] // mw
    mcuy = planes[0].shape[0] // mh
    return coeffs, widths, samps, mcux, mcuy, ql, qc


def _seg(marker: int, body: bytes) -> bytes:
    return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body


def encode_jpeg(
    arr: np.ndarray,
    quality: int = 85,
    subsampling: str = "444",
    restart_interval: int = 0,
) -> bytes:
    """(h, w, 3) uint8 RGB → baseline JFIF bytes (Annex K Huffman tables,
    IJG quality scaling). ``subsampling`` "444" or "420" (2×2-averaged
    chroma); ``restart_interval`` > 0 emits DRI + RSTn every that many
    MCUs (what a streaming encoder does for error resilience)."""
    h, w, _c = arr.shape
    coeffs, widths, samps, mcux, mcuy, ql, qc = _prepare_coeffs(
        arr, quality, subsampling
    )
    ysamp = samps[0]

    entropy = None
    if restart_interval == 0:
        # hot path: one C call over the emission-order block array (the
        # per-symbol Python loop below measured ~24 ms/image at harvest —
        # BASELINE.md §D-1.3); byte-identical output, restart streams
        # keep the Python path
        entropy = _native_entropy(coeffs, samps, mcux, mcuy)
    if entropy is not None:
        entropy = bytearray(entropy)
    else:
        entropy = _python_entropy(
            coeffs, widths, samps, mcux, mcuy, restart_interval
        )

    out = bytearray(b"\xff\xd8")  # SOI
    out += _seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += _seg(0xDB, b"\x00" + bytes(ql[ZIGZAG].astype(np.uint8)))
    out += _seg(0xDB, b"\x01" + bytes(qc[ZIGZAG].astype(np.uint8)))
    sof = struct.pack(">BHHB", 8, h, w, 3)
    for cid, (sh, sv), qsel in ((1, ysamp, 0), (2, (1, 1), 1), (3, (1, 1), 1)):
        sof += bytes([cid, sh * 16 + sv, qsel])
    out += _seg(0xC0, sof)
    for cls, tid, (bits, vals) in (
        (0, 0, _DC_LUM), (0, 1, _DC_CHROM), (1, 0, _AC_LUM), (1, 1, _AC_CHROM)
    ):
        out += _seg(0xC4, bytes([cls * 16 + tid]) + bytes(bits) + bytes(vals))
    if restart_interval:
        out += _seg(0xDD, struct.pack(">H", restart_interval))
    sos = b"\x03" + b"\x01\x00" + b"\x02\x11" + b"\x03\x11" + b"\x00\x3f\x00"
    out += _seg(0xDA, sos)
    out += entropy
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# --------------------------------------------------------------------------
# progressive encode (T.81 Annex G). Packs the SAME quantized coefficients
# as the baseline encoder into a multi-scan SOF2 stream — spectral
# selection + successive approximation — which makes decode equivalence
# against the baseline roundtrip an exact pixel-level gate (same
# coefficients → same dequantize + IDCT), far stronger than a PSNR bound.
# --------------------------------------------------------------------------
# Progressive AC scans emit EOBn symbols (r<<4 for r>0) that the Annex K
# "typical" sequential tables don't contain, so the progressive encoder
# carries one complete flat 9-bit AC table: every symbol a progressive AC
# scan can produce (EOB0..EOB14, ZRL, r/s for s=1..10) at code length 9 —
# canonical, prefix-free, and no all-ones code. Compression is secondary;
# correctness of the scan structure is what's being shipped and tested.
_AC_PROG_SYMS = sorted(
    [r << 4 for r in range(15)]           # EOBn
    + [0xF0]                              # ZRL
    + [(r << 4) | s for r in range(16) for s in range(1, 11)]
)
_AC_PROG = ([0] * 8 + [len(_AC_PROG_SYMS)] + [0] * 7, _AC_PROG_SYMS)
_AC_PROG_CODES = _build_codes(*_AC_PROG)
_AC_PROG_CODE_ARR, _AC_PROG_LEN_ARR = (a[0] for a in _code_arrays(_AC_PROG))

# IJG-shaped default scan script: (comp_indices, Ss, Se, Ah, Al)
_PROG_SCRIPT_COLOR = [
    ([0, 1, 2], 0, 0, 0, 1),  # DC first, one bit held back
    ([0], 1, 5, 0, 2),        # luma low band
    ([2], 1, 63, 0, 1),
    ([1], 1, 63, 0, 1),
    ([0], 6, 63, 0, 2),       # luma high band
    ([0], 1, 63, 2, 1),       # luma refinement 2→1
    ([0, 1, 2], 0, 0, 1, 0),  # DC refinement
    ([2], 1, 63, 1, 0),
    ([1], 1, 63, 1, 0),
    ([0], 1, 63, 1, 0),       # final luma refinement
]


class _ProgACState:
    """EOB-run + buffered-correction-bit state shared across blocks of one
    scan (G.1.2.3: correction bits belonging to blocks inside an EOB run
    are emitted after the EOBn code that closes the run)."""

    def __init__(self, bw: "_BitWriter", ac_codes: dict):
        self.bw = bw
        self.ac = ac_codes
        self.eobrun = 0
        self.pending: list[int] = []

    def flush_eobrun(self) -> None:
        if self.eobrun > 0:
            nbits = self.eobrun.bit_length() - 1
            code, ln = self.ac[nbits << 4]
            self.bw.write(code, ln)
            if nbits:
                self.bw.write(self.eobrun & ((1 << nbits) - 1), nbits)
            self.eobrun = 0
        for b in self.pending:
            self.bw.write(b, 1)
        self.pending = []


def _enc_dc_first(bw, blk, pred, al, dc_codes):
    t = int(blk[0]) >> al  # arithmetic shift; refine restores the low bit
    diff = t - pred
    s = _category(diff)
    code, ln = dc_codes[s]
    bw.write(code, ln)
    if s:
        bw.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
    return t


def _enc_ac_first(st: _ProgACState, blk, ss, se, al):
    run = 0
    for k in range(ss, se + 1):
        v = int(blk[ZIGZAG[k]])
        t = abs(v) >> al  # magnitude rounds toward zero (G.1.2.2)
        if t == 0:
            run += 1
            continue
        st.flush_eobrun()
        while run > 15:
            code, ln = st.ac[0xF0]
            st.bw.write(code, ln)
            run -= 16
        s = t.bit_length()
        code, ln = st.ac[(run << 4) | s]
        st.bw.write(code, ln)
        st.bw.write(t if v > 0 else (~t) & ((1 << s) - 1), s)
        run = 0
    if run > 0:
        st.eobrun += 1
        if st.eobrun == 0x7FFF:
            st.flush_eobrun()


def _enc_ac_refine(st: _ProgACState, blk, ss, se, al):
    absv = []
    eobk = ss - 1  # index of the last newly-nonzero coefficient
    for k in range(ss, se + 1):
        t = abs(int(blk[ZIGZAG[k]])) >> al
        absv.append(t)
        if t == 1:
            eobk = k
    run = 0
    br: list[int] = []  # correction bits owed after the NEXT emitted code
    for k in range(ss, se + 1):
        t = absv[k - ss]
        if t == 0:
            run += 1
            continue
        while run > 15 and k <= eobk:
            st.flush_eobrun()
            code, ln = st.ac[0xF0]
            st.bw.write(code, ln)
            run -= 16
            for b in br:
                st.bw.write(b, 1)
            br = []
        if t > 1:
            # history-nonzero: just the next magnitude bit, run continues
            br.append(t & 1)
            continue
        st.flush_eobrun()
        code, ln = st.ac[(run << 4) | 1]
        st.bw.write(code, ln)
        st.bw.write(1 if int(blk[ZIGZAG[k]]) > 0 else 0, 1)
        for b in br:
            st.bw.write(b, 1)
        br = []
        run = 0
    if run > 0 or br:
        st.eobrun += 1
        st.pending.extend(br)
        if st.eobrun == 0x7FFF or len(st.pending) > 872:
            st.flush_eobrun()


def _scan_block_dims(comps_meta, ci, h, w) -> tuple[int, int]:
    """(rows, cols) of component ``ci``'s real blocks: the grid a
    single-component scan walks (T.81 A.2.2), not the MCU-padded one."""
    hmax = max(m[0] for m in comps_meta)
    vmax = max(m[1] for m in comps_meta)
    sh, sv, _ = comps_meta[ci]
    cw = -(-(w * sh) // hmax)
    ch = -(-(h * sv) // vmax)
    return -(-ch // 8), -(-cw // 8)


def _zigzag_blocks(coeffs, comps_meta, mcux, h, w) -> list[np.ndarray]:
    """Each component's blocks in single-component scan order, zigzagged,
    as one contiguous (n, 64) int32 array. Gathered once per image and
    shared by every scan the C kernels emit."""
    out = []
    for ci, (sh, _sv, _) in enumerate(comps_meta):
        cbh, cbw = _scan_block_dims(comps_meta, ci, h, w)
        rows = (np.arange(cbh)[:, None] * (mcux * sh) + np.arange(cbw)).reshape(-1)
        out.append(coeffs[ci].take(rows, axis=0).take(ZIGZAG, axis=1))
    return out


def _native_prog_emit(
    blocks, coeffs, comps_meta, scan_comps, ss, se, ah, al, mcux, mcuy,
):
    """Try the C progressive-encode kernels (one call per scan) over the
    image's per-component zigzag arrays (``blocks``, from
    ``_zigzag_blocks``); an interleaved DC scan gathers its MCU-order DC
    values from ``coeffs``. Byte-identical to the Python path (gated in
    tests); returns None without a compiler (caller runs the Python
    loop). Restart streams keep the Python path."""
    from cinescrapers_spark.images._native import (
        jpeg_prog_encode_ac,
        jpeg_prog_encode_dc,
        native_lib,
    )

    if native_lib() is None:
        return None
    if ss > 0:  # AC scans are single-component
        return jpeg_prog_encode_ac(
            blocks[scan_comps[0]], ss, se, ah, al,
            _AC_PROG_CODE_ARR, _AC_PROG_LEN_ARR,
        )
    if len(scan_comps) > 1:  # interleaved emission order
        per_comp, slots = [], []
        for ci in scan_comps:
            sh, sv, _ = comps_meta[ci]
            per_comp.append(coeffs[ci][_mcu_rows(sh, sv, mcux, mcuy), 0])
            tsel = 0 if ci == 0 else 1
            slots += [(ci << 1) | tsel] * (sv * sh)
        dc0 = np.concatenate(per_comp, axis=2).reshape(-1)
        pred_slot = np.tile(np.array(slots, np.uint8), mcux * mcuy)
    else:
        ci = scan_comps[0]
        dc0 = blocks[ci][:, 0]  # zigzag index 0 is the DC
        pred_slot = np.full(
            dc0.shape[0], 0 if ci == 0 else 1, np.uint8
        )  # predictor slot 0, table slot by component
    return jpeg_prog_encode_dc(
        dc0, pred_slot, ah, al, _SEQ_CODES[:2], _SEQ_LENS[:2]
    )


def _emit_progressive_scan(
    coeffs, blocks, comps_meta, scan_comps, ss, se, ah, al, mcux, mcuy, h, w,
    restart_interval,
):
    """Entropy bytes for one progressive scan. ``comps_meta`` is the
    per-component (samp_h, samp_v, dc_codes) list; geometry mirrors the
    decoder exactly (interleaved MCU grid for multi-component DC scans,
    actual block dims for single-component scans). With ``blocks`` (the
    image's ``_zigzag_blocks``; None for restart streams) the hot path
    hands the bit emission to the C kernels; this Python loop is the
    byte-identical reference and the restart-interval path."""
    if blocks is not None:
        fast = _native_prog_emit(
            blocks, coeffs, comps_meta, scan_comps, ss, se, ah, al, mcux, mcuy
        )
        if fast is not None:
            return fast
    ac_codes = _AC_PROG_CODES
    out = bytearray()
    bw = _BitWriter()
    st = _ProgACState(bw, ac_codes)
    preds = [0] * len(scan_comps)
    rst = 0
    unit_i = 0

    def restart_now():
        nonlocal bw, st, rst
        st.flush_eobrun()
        out.extend(bw.flush())
        out.extend(bytes([0xFF, 0xD0 + rst]))
        rst = (rst + 1) % 8
        bw = _BitWriter()
        st = _ProgACState(bw, ac_codes)
        preds[:] = [0] * len(scan_comps)

    if len(scan_comps) > 1:  # interleaved DC scan
        for my in range(mcuy):
            for mx in range(mcux):
                if restart_interval and unit_i and unit_i % restart_interval == 0:
                    restart_now()
                for si, ci in enumerate(scan_comps):
                    sh, sv, dc_codes = comps_meta[ci]
                    bw_stride = mcux * sh
                    for by in range(sv):
                        for bx in range(sh):
                            row = (my * sv + by) * bw_stride + (mx * sh + bx)
                            blk = coeffs[ci][row]
                            if ah == 0:
                                preds[si] = _enc_dc_first(
                                    bw, blk, preds[si], al, dc_codes
                                )
                            else:
                                bw.write((int(blk[0]) >> al) & 1, 1)
                unit_i += 1
    else:
        ci = scan_comps[0]
        sh, sv, dc_codes = comps_meta[ci]
        bw_stride = mcux * sh
        cbh, cbw = _scan_block_dims(comps_meta, ci, h, w)
        for by in range(cbh):
            for bx in range(cbw):
                if restart_interval and unit_i and unit_i % restart_interval == 0:
                    restart_now()
                blk = coeffs[ci][by * bw_stride + bx]
                if ss == 0:
                    if ah == 0:
                        preds[0] = _enc_dc_first(bw, blk, preds[0], al, dc_codes)
                    else:
                        bw.write((int(blk[0]) >> al) & 1, 1)
                elif ah == 0:
                    _enc_ac_first(st, blk, ss, se, al)
                else:
                    _enc_ac_refine(st, blk, ss, se, al)
                unit_i += 1
    st.flush_eobrun()
    out.extend(bw.flush())
    return bytes(out)


def encode_jpeg_progressive(
    arr: np.ndarray,
    quality: int = 85,
    subsampling: str = "444",
    scans: list | None = None,
    restart_interval: int = 0,
) -> bytes:
    """(h, w, 3) uint8 RGB → progressive (SOF2) JFIF bytes. ``scans`` is a
    list of (comp_indices, Ss, Se, Ah, Al) tuples; the default script is
    IJG-shaped (spectral selection AND successive approximation). Every
    coefficient bit is emitted across the script, so decode output is
    pixel-identical to the baseline encoding at the same quality."""
    h, w, _c = arr.shape
    coeffs, _widths, samps, mcux, mcuy, ql, qc = _prepare_coeffs(
        arr, quality, subsampling
    )
    if scans is None:
        scans = _PROG_SCRIPT_COLOR
    dc_lum, dc_chrom = _DC_CODES
    comps_meta = [
        (samps[0][0], samps[0][1], dc_lum),
        (1, 1, dc_chrom),
        (1, 1, dc_chrom),
    ]
    blocks = (
        _zigzag_blocks(coeffs, comps_meta, mcux, h, w)
        if restart_interval == 0
        else None
    )

    out = bytearray(b"\xff\xd8")
    out += _seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += _seg(0xDB, b"\x00" + bytes(ql[ZIGZAG].astype(np.uint8)))
    out += _seg(0xDB, b"\x01" + bytes(qc[ZIGZAG].astype(np.uint8)))
    sof = struct.pack(">BHHB", 8, h, w, 3)
    for cid, (sh, sv), qsel in (
        (1, samps[0], 0), (2, (1, 1), 1), (3, (1, 1), 1)
    ):
        sof += bytes([cid, sh * 16 + sv, qsel])
    out += _seg(0xC2, sof)  # SOF2: progressive DCT
    for cls, tid, (bits, vals) in (
        (0, 0, _DC_LUM), (0, 1, _DC_CHROM), (1, 0, _AC_PROG)
    ):
        out += _seg(0xC4, bytes([cls * 16 + tid]) + bytes(bits) + bytes(vals))
    if restart_interval:
        out += _seg(0xDD, struct.pack(">H", restart_interval))
    for scan_comps, ss, se, ah, al in scans:
        sos = bytes([len(scan_comps)])
        for ci in scan_comps:
            dc_sel = 0 if ci == 0 else 1
            sos += bytes([ci + 1, (dc_sel << 4) | 0])
        sos += bytes([ss, se, (ah << 4) | al])
        out += _seg(0xDA, sos)
        out += _emit_progressive_scan(
            coeffs, blocks, comps_meta, scan_comps, ss, se, ah, al, mcux,
            mcuy, h, w, restart_interval,
        )
    out += b"\xff\xd9"
    return bytes(out)


# --------------------------------------------------------------------------
# decode
# --------------------------------------------------------------------------
def decode_jpeg(data: bytes) -> np.ndarray:
    """JPEG bytes → (h, w, 3) uint8 RGB (grayscale replicated). Baseline
    sequential (SOF0/1) and progressive (SOF2: spectral selection +
    successive approximation per T.81 Annex G). Sampling factors ≤ 2 per
    axis, restart intervals, stuffed bytes.

    Foreign-input contract (fuzz-gated): crafted bytes either decode or
    raise ValueError / NotImplementedError — low-level parse errors
    (short buffers, unknown ids) never escape as IndexError/KeyError/
    struct.error, which would look like engine bugs to the harvest's
    per-row error isolation."""
    try:
        return _decode_jpeg(data)
    except (IndexError, KeyError, StopIteration, struct.error) as e:
        raise ValueError(f"malformed JPEG: {type(e).__name__}: {e}") from e


def _decode_jpeg(data: bytes) -> np.ndarray:
    assert data[:2] == b"\xff\xd8", "not a jpeg"
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    dc_tabs: dict[int, dict] = {}
    ac_tabs: dict[int, dict] = {}
    dc_raw: dict[int, tuple] = {}
    ac_raw: dict[int, tuple] = {}
    comps: list[dict] = []
    h = w = 0
    restart = 0
    progressive = False
    stores: list[np.ndarray] | None = None
    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"JPEG marker expected at {pos}")
        while data[pos + 1] == 0xFF:  # optional fill bytes before a marker
            pos += 1
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker in (0x01, *range(0xD0, 0xD8)):  # standalone
            continue
        (seglen,) = struct.unpack_from(">H", data, pos)
        body = data[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            bp = 0
            while bp < len(body):
                prec, tid = body[bp] >> 4, body[bp] & 0xF
                bp += 1
                if prec:
                    t = np.frombuffer(body, ">u2", 64, bp).astype(np.int32)
                    bp += 128
                else:
                    t = np.frombuffer(body, np.uint8, 64, bp).astype(np.int32)
                    bp += 64
                nat = np.empty(64, np.int32)
                nat[ZIGZAG] = t  # stored zigzag → natural
                qtables[tid] = nat
        elif marker == 0xC4:  # DHT
            bp = 0
            while bp < len(body):
                cls, tid = body[bp] >> 4, body[bp] & 0xF
                bits = list(body[bp + 1 : bp + 17])
                n = sum(bits)
                vals = list(body[bp + 17 : bp + 17 + n])
                (dc_tabs if cls == 0 else ac_tabs)[tid] = _build_decoder(bits, vals)
                (dc_raw if cls == 0 else ac_raw)[tid] = (bits, vals)
                bp += 17 + n
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline, SOF2 progressive
            progressive = marker == 0xC2
            prec, h, w, nc = struct.unpack_from(">BHHB", body, 0)
            if prec != 8:
                raise NotImplementedError("JPEG subset: 8-bit precision only")
            # decompression-bomb guard: a few-hundred-byte crafted file
            # with SOF h=w=65535 ×3 components would otherwise allocate
            # ~50 GB of int32 coefficient stores before any entropy data
            # is validated
            if h * w > _JPEG_MAX_PIXELS:
                raise ValueError(f"JPEG frame {w}x{h} exceeds pixel cap")
            for i in range(nc):
                cid, samp, qsel = body[6 + 3 * i : 9 + 3 * i]
                comps.append(
                    {"id": cid, "h": samp >> 4, "v": samp & 0xF, "q": qsel}
                )
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise NotImplementedError(
                f"JPEG subset: sequential + progressive DCT only "
                f"(SOF 0x{marker:02x})"
            )
        elif marker == 0xDD:  # DRI
            (restart,) = struct.unpack_from(">H", body, 0)
        elif marker == 0xDA:  # SOS
            ns = body[0]
            if not progressive:
                scan = []
                for i in range(ns):
                    cid, tsel = body[1 + 2 * i], body[2 + 2 * i]
                    comp = next(c for c in comps if c["id"] == cid)
                    scan.append((comp, tsel >> 4, tsel & 0xF))
                pos += seglen
                return _decode_scan(
                    data, pos, h, w, scan, qtables, dc_tabs, ac_tabs, restart,
                    dc_raw, ac_raw,
                )
            # progressive: one of many scans, each updating the shared
            # coefficient stores (T.81 Annex G)
            hmax, vmax, mcux, mcuy = _frame_geometry(comps, h, w)
            if stores is None:
                # one contiguous buffer (component views into it) so the
                # C scan kernel can address every store through offsets
                sizes = [mcuy * c["v"] * mcux * c["h"] * 64 for c in comps]
                store_offsets = np.cumsum([0] + sizes[:-1]).astype(np.int64)
                store_base = np.zeros(int(sum(sizes)), np.int32)
                stores = [
                    store_base[o : o + s].reshape(-1, 64)
                    for o, s in zip(store_offsets.tolist(), sizes)
                ]
            scan_sel = []
            for i in range(ns):
                cid, tsel = body[1 + 2 * i], body[2 + 2 * i]
                ci = next(j for j, c in enumerate(comps) if c["id"] == cid)
                scan_sel.append((ci, tsel >> 4, tsel & 0xF))
            ss = body[1 + 2 * ns]
            se = body[2 + 2 * ns]
            ah, al = body[3 + 2 * ns] >> 4, body[3 + 2 * ns] & 0xF
            pos = _progressive_scan(
                data, pos + seglen, comps, stores, scan_sel, ss, se, ah, al,
                restart, dc_tabs, ac_tabs, h, w, hmax, vmax, mcux, mcuy,
                dc_raw, ac_raw, store_base, store_offsets,
            )
            continue
        pos += seglen
    if progressive and stores is not None:
        hmax, vmax, mcux, mcuy = _frame_geometry(comps, h, w)
        scan_all = [(c, 0, 0) for c in comps]
        return _reconstruct(
            stores, scan_all, qtables, h, w, hmax, vmax, mcux, mcuy
        )
    raise ValueError("JPEG has no SOS scan")


def _decode_scan(
    data, pos, h, w, scan, qtables, dc_tabs, ac_tabs, restart,
    dc_raw=None, ac_raw=None,
):
    hmax = max(c["h"] for c, _, _ in scan)
    vmax = max(c["v"] for c, _, _ in scan)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    store = _native_scan(
        data, pos, scan, mcux, mcuy, restart, dc_raw, ac_raw
    )
    if store is None:
        store = _python_scan(data, pos, scan, mcux, mcuy, restart, dc_tabs, ac_tabs)
    return _reconstruct(store, scan, qtables, h, w, hmax, vmax, mcux, mcuy)


def _native_scan(data, pos, scan, mcux, mcuy, restart, dc_raw, ac_raw):
    """Try the C Huffman-scan kernel (images/_native.py): the bit-level
    entropy decode is the one inherently sequential Python loop in this
    codec, ~100× in C. Returns per-component (n_blocks, 64) int32 stores
    or None (no compiler / >4 components / table ids beyond slots)."""
    if dc_raw is None or ac_raw is None or len(scan) > 4:
        return None
    ids_ok = all(
        0 <= dct <= 3 and 0 <= act <= 3 and dct in dc_raw and act in ac_raw
        for _, dct, act in scan
    )
    if not ids_ok:
        return None
    from cinescrapers_spark.images._native import jpeg_decode_scan

    bits8 = np.zeros((8, 16), np.uint8)
    vals8 = np.zeros((8, 256), np.uint8)
    # tid is a 4-bit field (0-15) but only slots 0-3 exist; a stream may
    # legally DEFINE an unused table with tid > 3 (the ids_ok guard only
    # checks the SELECTED tables) — skip those instead of crashing, and
    # bail to the Python scan on oversize bits (sum > 256 won't fit vals8)
    for tid, (bits, vals) in dc_raw.items():
        if tid > 3:
            continue
        if sum(bits) > 256:
            return None
        bits8[tid, :] = bits
        vals8[tid, : len(vals)] = vals
    for tid, (bits, vals) in ac_raw.items():
        if tid > 3:
            continue
        if sum(bits) > 256:
            return None
        bits8[4 + tid, :] = bits
        vals8[4 + tid, : len(vals)] = vals
    meta = [(c["h"], c["v"], dct, 4 + act) for c, dct, act in scan]
    return jpeg_decode_scan(
        data, pos, meta, mcux, mcuy, restart, bits8, vals8
    )


def _python_scan(data, pos, scan, mcux, mcuy, restart, dc_tabs, ac_tabs):
    """Reference pure-Python entropy scan (the semantics oracle for the C
    kernel, equality-gated in tests) — per component: coefficient store
    (natural order), one row per block."""
    store = []
    for comp, _, _ in scan:
        bw_ = mcux * comp["h"]
        bh_ = mcuy * comp["v"]
        store.append(np.zeros((bh_ * bw_, 64), np.int32))
    rd = _BitReader(data, pos)
    pred = [0] * len(scan)
    mcu_i = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart and mcu_i and mcu_i % restart == 0:
                m = rd.sync_to_marker()
                if m is not None and 0xD0 <= m <= 0xD7:
                    rd.consume_marker()
                pred = [0] * len(scan)
            for si, (comp, dct, act) in enumerate(scan):
                dtab, atab = dc_tabs[dct], ac_tabs[act]
                bw_ = mcux * comp["h"]
                for by in range(comp["v"]):
                    for bx in range(comp["h"]):
                        blk = np.zeros(64, np.int32)
                        s = rd.huff(dtab)
                        diff = _extend(rd.bits(s), s) if s else 0
                        pred[si] += diff
                        blk[0] = pred[si]
                        k = 1
                        while k < 64:
                            rs = rd.huff(atab)
                            r, s = rs >> 4, rs & 0xF
                            if s == 0:
                                if r == 15:
                                    k += 16  # ZRL
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("JPEG AC index overflow")
                            blk[ZIGZAG[k]] = _extend(rd.bits(s), s)
                            k += 1
                        row = (my * comp["v"] + by) * bw_ + (mx * comp["h"] + bx)
                        store[si][row] = blk
            mcu_i += 1
    return store


# --------------------------------------------------------------------------
# progressive decode (T.81 Annex G: spectral selection + successive
# approximation). Each SOS updates the shared per-component coefficient
# stores; reconstruction happens once at EOI. Control flow follows the
# spec's figures G.6/G.7 (first scans) and G.1.2.3 (refinement); the
# correction-bit semantics match any conforming decoder by construction.
# --------------------------------------------------------------------------
def _frame_geometry(comps, h, w):
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    return hmax, vmax, mcux, mcuy


def _comp_blocks(c, h, w, hmax, vmax):
    """ACTUAL block dims of a component (non-interleaved scans cover these,
    not the MCU-padded grid): ceil(ceil(dim·samp/max)/8) per axis."""
    cw = -(-(w * c["h"]) // hmax)
    ch = -(-(h * c["v"]) // vmax)
    return -(-ch // 8), -(-cw // 8)


def _dc_first(rd, blk, pred, dtab, al):
    """G.2 DC first scan: baseline DC diff, value scaled by 2^Al. The
    predictor accumulates UNSHIFTED values; the store holds pred << Al."""
    s = rd.huff(dtab)
    diff = _extend(rd.bits(s), s) if s else 0
    pred += diff
    blk[0] = pred << al
    return pred


def _dc_refine(rd, blk, al):
    """DC successive-approximation refinement: one appended bit."""
    if rd.bit():
        blk[0] = int(blk[0]) | (1 << al)


def _ac_first(rd, blk, ss, se, al, eobrun, atab):
    """AC first scan for the band [ss, se] at bit position Al. EOBn codes
    (s=0, r<15) start an end-of-band run covering this and the next
    (1<<r)-1+bits(r) blocks. Returns the remaining EOB run."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = rd.huff(atab)
        r, s = rs >> 4, rs & 0xF
        if s == 0:
            if r == 15:
                k += 16  # ZRL
                continue
            eobrun = (1 << r) - 1
            if r:
                eobrun += rd.bits(r)
            return eobrun
        k += r
        if k > se:
            raise ValueError("JPEG AC index overflow")
        blk[ZIGZAG[k]] = _extend(rd.bits(s), s) << al
        k += 1
    return 0


def _ac_refine(rd, blk, ss, se, al, eobrun, atab):
    """AC successive-approximation refinement (G.1.2.3): newly-nonzero
    coefficients arrive as ±2^Al; every already-nonzero coefficient in
    the band consumes one correction bit, INCLUDING inside EOB runs."""
    p1 = 1 << al
    m1 = -p1
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = rd.huff(atab)
            r, s = rs >> 4, rs & 0xF
            newval = 0
            if s:
                if s != 1:
                    raise ValueError("JPEG AC refinement symbol s != 1")
                newval = p1 if rd.bit() else m1
            elif r != 15:
                eobrun = 1 << r
                if r:
                    eobrun += rd.bits(r)
                break  # correction bits of this block handled below
            # advance past r zero-history coefficients, emitting a
            # correction bit for each nonzero-history one passed over
            while k <= se:
                z = ZIGZAG[k]
                cur = int(blk[z])
                if cur != 0:
                    if rd.bit() and (cur & p1) == 0:
                        blk[z] = cur + (p1 if cur > 0 else m1)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if newval and k <= se:
                blk[ZIGZAG[k]] = newval
            k += 1
    if eobrun > 0:
        while k <= se:
            z = ZIGZAG[k]
            cur = int(blk[z])
            if cur != 0 and rd.bit() and (cur & p1) == 0:
                blk[z] = cur + (p1 if cur > 0 else m1)
            k += 1
        eobrun -= 1
    return eobrun


def _native_prog_scan(
    data, pos, comps, scan, ss, se, ah, al, restart,
    dc_raw, ac_raw, base, offsets, h, w, hmax, vmax, mcux, mcuy,
):
    """Try the C progressive-scan kernel (images/_native.py) — each SOS
    is one C call over the shared coefficient buffer. Returns the next
    marker position or None (no compiler / tables beyond the 0-3 slots /
    oversize DHT), in which case the Python scan below runs."""
    if base is None or len(scan) > 4:
        return None

    def _tbl_ok(raws, tid):
        return 0 <= tid <= 3 and tid in raws and sum(raws[tid][0]) <= 256

    for _ci, dct, act in scan:
        if ss == 0 and ah == 0 and not _tbl_ok(dc_raw, dct):
            return None  # DC-first needs its Huffman table
        if ss != 0 and not _tbl_ok(ac_raw, act):
            return None  # every AC scan shape needs its table
    from cinescrapers_spark.images._native import jpeg_prog_scan

    bits8 = np.zeros((8, 16), np.uint8)
    vals8 = np.zeros((8, 256), np.uint8)
    for raws, slot0 in ((dc_raw, 0), (ac_raw, 4)):
        for tid, (bits, vals) in raws.items():
            if tid > 3 or sum(bits) > 256:
                continue  # unused table defined beyond the slots
            bits8[slot0 + tid, :] = bits
            vals8[slot0 + tid, : len(vals)] = vals
    meta = [
        (
            comps[ci]["h"],
            comps[ci]["v"],
            dct if 0 <= dct <= 3 else 0,       # unused in refine scans
            4 + act if 0 <= act <= 3 else 4,   # unused in DC scans
        )
        for ci, dct, act in scan
    ]
    scan_off = np.array([offsets[ci] for ci, _, _ in scan], np.int64)
    if len(scan) == 1:
        cbh, cbw = _comp_blocks(comps[scan[0][0]], h, w, hmax, vmax)
    else:
        cbh = cbw = 0
    return jpeg_prog_scan(
        data, pos, meta, scan_off, mcux, mcuy, cbw, cbh, ss, se, ah, al,
        restart, bits8, vals8, base,
    )


def _progressive_scan(
    data, pos, comps, stores, scan, ss, se, ah, al,
    restart, dc_tabs, ac_tabs, h, w, hmax, vmax, mcux, mcuy,
    dc_raw=None, ac_raw=None, store_base=None, store_offsets=None,
):
    """Decode ONE progressive SOS, mutating ``stores``; returns the
    position of the next marker. Multi-component scans are DC-only and
    MCU-interleaved over the padded grid; single-component scans are
    non-interleaved over the component's ACTUAL block dims (G.1.1.1).
    The hot path is the C kernel (one call per scan, equality-gated in
    tests); this Python loop is the reference semantics and fallback."""
    if dc_raw is not None and ac_raw is not None:
        npos = _native_prog_scan(
            data, pos, comps, scan, ss, se, ah, al, restart,
            dc_raw, ac_raw, store_base, store_offsets,
            h, w, hmax, vmax, mcux, mcuy,
        )
        if npos is not None:
            return npos
    rd = _BitReader(data, pos)
    preds = [0] * len(scan)
    state = {"eobrun": 0}

    def maybe_restart(unit_i):
        if restart and unit_i and unit_i % restart == 0:
            m = rd.sync_to_marker()
            if m is not None and 0xD0 <= m <= 0xD7:
                rd.consume_marker()
            preds[:] = [0] * len(scan)
            state["eobrun"] = 0

    if len(scan) > 1:
        if ss != 0 or se != 0:
            raise ValueError("progressive AC scans must be single-component")
        mcu_i = 0
        for my in range(mcuy):
            for mx in range(mcux):
                maybe_restart(mcu_i)
                for si, (ci, dct, _act) in enumerate(scan):
                    c = comps[ci]
                    bw_ = mcux * c["h"]
                    for by in range(c["v"]):
                        for bx in range(c["h"]):
                            row = (my * c["v"] + by) * bw_ + (mx * c["h"] + bx)
                            blk = stores[ci][row]
                            if ah == 0:
                                preds[si] = _dc_first(
                                    rd, blk, preds[si], dc_tabs[dct], al
                                )
                            else:
                                _dc_refine(rd, blk, al)
                mcu_i += 1
    else:
        ci, dct, act = scan[0]
        c = comps[ci]
        bw_ = mcux * c["h"]
        cbh, cbw = _comp_blocks(c, h, w, hmax, vmax)
        unit = 0
        for by in range(cbh):
            for bx in range(cbw):
                maybe_restart(unit)
                blk = stores[ci][by * bw_ + bx]
                if ss == 0:
                    if ah == 0:
                        preds[0] = _dc_first(rd, blk, preds[0], dc_tabs[dct], al)
                    else:
                        _dc_refine(rd, blk, al)
                elif ah == 0:
                    state["eobrun"] = _ac_first(
                        rd, blk, ss, se, al, state["eobrun"], ac_tabs[act]
                    )
                else:
                    state["eobrun"] = _ac_refine(
                        rd, blk, ss, se, al, state["eobrun"], ac_tabs[act]
                    )
                unit += 1
    rd.sync_to_marker()
    return rd.pos


def _reconstruct(store, scan, qtables, h, w, hmax, vmax, mcux, mcuy):
    """Batched dequantize + IDCT + reassemble per component."""
    planes = []
    for si, (comp, _, _) in enumerate(scan):
        qt = qtables[comp["q"]].astype(np.float64)
        coeff = store[si].reshape(-1, 8, 8) * qt.reshape(8, 8)
        pix = _DCT.T @ coeff @ _DCT + 128.0  # C^T F C, BLAS over blocks
        bw_ = mcux * comp["h"]
        bh_ = mcuy * comp["v"]
        plane = (
            pix.reshape(bh_, bw_, 8, 8).transpose(0, 2, 1, 3).reshape(bh_ * 8, bw_ * 8)
        )
        # upsample to full MCU grid resolution, then crop to (h, w)
        plane = np.repeat(
            np.repeat(plane, vmax // comp["v"], axis=0), hmax // comp["h"], axis=1
        )
        planes.append(plane[:h, :w])
    if len(planes) == 1:
        y = np.clip(planes[0].round(), 0, 255).astype(np.uint8)
        return np.stack([y, y, y], axis=-1)
    return _ycbcr_to_rgb(planes[0], planes[1], planes[2])
