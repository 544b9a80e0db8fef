"""Baseline JPEG (ITU-T T.81 / ISO 10918-1) codec — pure stdlib +
numpy, no PIL/libjpeg in this environment.

Beyond-reference multimodal support (SURVEY.md §7 M9): the dominant
image format of any web crawl, decodable by the same Arrow-batched
``mapInPandas`` kernels that run the PNG/BMP/AVI codecs. Scope is
baseline sequential DCT (SOF0) AND progressive DCT (SOF2 — both
Annex-G mechanisms: spectral selection and successive approximation,
with EOBRUN end-of-band runs; r11), 8-bit, 1-component grayscale or
3-component YCbCr with sampling factors 1..2 per axis (4:4:4, 4:2:2
and 4:2:0 — MCU-interleaved scan, box-mean chroma downsample on
encode, replication upsample on decode), and DRI/RSTn restart
intervals (r11: byte-aligned resync, DC-predictor reset, modulo-8
sequence check — the error-resilience feature real camera/web JPEGs
carry routinely) — raises loudly on anything else (a codec, not a
sniffer).

Decode path: marker walk -> DQT/DHT/SOF0/SOS -> entropy-decode
(canonical Huffman from the file's own DHT, byte unstuffing, DC
difference coding, AC run/size with ZRL + EOB) -> dequantize ->
de-zigzag -> vectorized IDCT (einsum over all blocks at once) ->
level shift -> clamp -> crop -> (YCbCr->RGB for color).

Exactness contract used by the ``media_decode_jpeg`` oracle entry:
images whose 8x8 blocks are each CONSTANT, encoded with all-ones
quantization tables, decode bit-exactly — the float FDCT of a
constant block is DC = 8*(v-128) plus ~1e-13 noise (rounds to the
exact integer) and all-zero AC, and the IDCT of a DC-only block is
exactly constant again. That turns the lossy format into a
closed-form-verifiable one for synthetic payloads while the encoder/
decoder remain fully general (the AC/ZRL/category paths are pinned by
exact coefficient-level roundtrip property tests instead).
"""

from __future__ import annotations

import struct

import numpy as np

# --- zigzag order: index k -> (row, col) ----------------------------------


def _zigzag_order() -> list[tuple[int, int]]:
    out: list[tuple[int, int]] = []
    for s in range(15):
        js = range(max(0, s - 7), min(s, 7) + 1)
        diag = [(s - j, j) for j in js]  # row descending as j ascends
        out.extend(diag if s % 2 == 0 else diag[::-1])
    return out


ZIGZAG = _zigzag_order()
_ZFLAT = np.array([r * 8 + c for r, c in ZIGZAG], np.int64)
_UNZIG = np.argsort(_ZFLAT)  # natural index -> position in zigzag

# --- DCT (orthonormal 8x8 matrix: F = M f M^T, f = M^T F M) ---------------

_M = np.cos(
    (2 * np.arange(8)[None, :] + 1) * np.arange(8)[:, None] * np.pi / 16
) / 2.0
_M[0] *= 1.0 / np.sqrt(2.0)


def fdct2(blocks: np.ndarray) -> np.ndarray:
    """(n, 8, 8) float spatial -> (n, 8, 8) float coefficients."""
    return np.einsum("ux,nxy,vy->nuv", _M, blocks, _M)


def idct2(coeffs: np.ndarray) -> np.ndarray:
    """(n, 8, 8) float coefficients -> (n, 8, 8) float spatial."""
    return np.einsum("xu,nuv,yv->nxy", _M.T, coeffs, _M.T)


# --- Huffman tables (Annex K shapes; written to and re-read from DHT) -----

# (bits[16], values) — canonical code construction. Correctness does
# not depend on matching Annex K value ORDER (the decoder builds its
# tables from the file's own DHT); validity + full symbol coverage is
# asserted by tests: DC tables cover categories 0..11, AC tables all
# 162 symbols {EOB, ZRL} + (run 0..15 x size 1..10).
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

# Annex K example quantization tables (natural row-major order here;
# written to DQT in zigzag order as the format requires).
QUANT_LUMA_STD = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ],
    np.int64,
).reshape(8, 8)
QUANT_ONES = np.ones((8, 8), np.int64)


def _build_encode_table(bits: list[int], vals: list[int]) -> dict:
    """symbol -> (code, length) via the canonical construction."""
    out: dict[int, tuple[int, int]] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _build_decode_table(bits: list[int], vals: list[int]) -> dict:
    """(length, code) -> symbol."""
    out: dict[tuple[int, int], int] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return out


class _BitWriter:
    """MSB-first bit accumulator with JPEG byte stuffing (FF -> FF 00)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, length: int) -> None:
        if length == 0:
            return
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            b = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)
            self.nbits -= 8
            self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits (spec F.1.2.3)
        return bytes(self.out)

    def emit_restart(self, m: int) -> None:
        """Byte-align (1-bit padding, F.1.2.3 — a pad byte of FF is
        still stuffed by write) and append a raw RSTm marker."""
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)
        self.out += bytes([0xFF, 0xD0 + (m & 7)])


class _BitReader:
    """MSB-first bit reader over entropy-coded bytes, undoing stuffing."""

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def read_bit(self) -> int:
        if self.nbits == 0:
            if self.pos >= len(self.data):
                raise ValueError("JPEG entropy data exhausted mid-block")
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                if self.pos >= len(self.data) or self.data[self.pos] != 0x00:
                    raise ValueError("unexpected marker inside entropy data")
                self.pos += 1  # skip the stuffed 0x00
            self.acc = b
            self.nbits = 8
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def read_symbol(self, table: dict) -> int:
        code, length = 0, 0
        while length < 16:
            code = (code << 1) | self.read_bit()
            length += 1
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code in JPEG scan")

    def read_restart(self) -> int:
        """Discard the pad bits of the current byte and consume a raw
        RSTm marker (T.81 E.2.4 / F.2.1.3.1); returns m in 0..7."""
        self.nbits = 0
        if (
            self.pos + 2 > len(self.data)
            or self.data[self.pos] != 0xFF
            or not (0xD0 <= self.data[self.pos + 1] <= 0xD7)
        ):
            raise ValueError("expected RSTn marker at restart boundary")
        m = self.data[self.pos + 1] - 0xD0
        self.pos += 2
        return m


def _category(v: int) -> int:
    return int(v).bit_length() if v >= 0 else int(-v).bit_length()


def _extend(v: int, size: int) -> int:
    """T.81 F.12: map the raw `size`-bit field back to a signed value."""
    if size == 0:
        return 0
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def _encode_block(
    zz: np.ndarray, prev_dc: int, bw: _BitWriter, dc_tbl: dict, ac_tbl: dict
) -> int:
    """Entropy-encode one 64-long zigzag coefficient vector; returns
    the block's DC (the next block's predictor)."""
    dc = int(zz[0])
    diff = dc - prev_dc
    s = _category(diff)
    code, ln = dc_tbl[s]
    bw.write(code, ln)
    if s:
        bw.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
    run = 0
    last_nz = int(np.max(np.nonzero(zz)[0])) if np.any(zz[1:]) else 0
    for k in range(1, 64):
        v = int(zz[k])
        if k > last_nz:
            break
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_tbl[0xF0]  # ZRL
            bw.write(code, ln)
            run -= 16
        s = _category(v)
        code, ln = ac_tbl[(run << 4) | s]
        bw.write(code, ln)
        bw.write(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if last_nz < 63:
        code, ln = ac_tbl[0x00]  # EOB
        bw.write(code, ln)
    return dc


def _decode_block(
    br: _BitReader, prev_dc: int, dc_tbl: dict, ac_tbl: dict
) -> tuple[np.ndarray, int]:
    zz = np.zeros(64, np.int64)
    s = br.read_symbol(dc_tbl)
    diff = _extend(br.read_bits(s), s)
    dc = prev_dc + diff
    zz[0] = dc
    k = 1
    while k < 64:
        rs = br.read_symbol(ac_tbl)
        if rs == 0x00:  # EOB
            break
        if rs == 0xF0:  # ZRL
            k += 16
            continue
        run, size = rs >> 4, rs & 0x0F
        k += run
        if k > 63:
            raise ValueError("JPEG AC run past end of block")
        zz[k] = _extend(br.read_bits(size), size)
        k += 1
    return zz, dc


# --- colorspace -----------------------------------------------------------


def rgb_to_ycbcr(arr: np.ndarray) -> np.ndarray:
    """(h, w, 3) uint8 RGB -> (h, w, 3) float YCbCr (JFIF full range)."""
    a = arr.astype(np.float64)
    r, g, b = a[..., 0], a[..., 1], a[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168735892 * r - 0.331264108 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418687589 * g - 0.081312411 * b
    return np.stack([y, cb, cr], axis=-1)


def ycbcr_to_rgb(arr: np.ndarray) -> np.ndarray:
    """(h, w, 3) float YCbCr -> (h, w, 3) uint8 RGB (round + clamp)."""
    y, cb, cr = arr[..., 0], arr[..., 1] - 128.0, arr[..., 2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136286 * cb - 0.714136286 * cr
    b = y + 1.772 * cb
    out = np.stack([r, g, b], axis=-1)
    return np.clip(np.round(out), 0, 255).astype(np.uint8)


# --- encoder ---------------------------------------------------------------


_SAMPLINGS = {
    "444": ((1, 1), (1, 1)),  # (luma (H,V), chroma (H,V))
    "422": ((2, 1), (1, 1)),
    "420": ((2, 2), (1, 1)),
}


def _box_mean(plane: np.ndarray, fh: int, fw: int) -> np.ndarray:
    """Downsample by (fh, fw) box averaging, edge-padded to factor
    multiples (the classic chroma subsampler)."""
    if fh == 1 and fw == 1:
        return plane
    h, w = plane.shape
    ph, pw = -(-h // fh) * fh, -(-w // fw) * fw
    p = np.pad(plane, ((0, ph - h), (0, pw - w)), mode="edge")
    return p.reshape(ph // fh, fh, pw // fw, fw).mean(axis=(1, 3))


def _comp_dims(h: int, w: int, hi: int, vi: int, hmax: int, vmax: int):
    """T.81 A.1.1: component plane dims = ceil(dim * Hi/Hmax)."""
    return -(-h * vi // vmax), -(-w * hi // hmax)


def _mcu_blocks(plane: np.ndarray, hi: int, vi: int, nmx: int, nmy: int):
    """Component plane -> blocks in MCU-interleaved order: per MCU
    (raster), the component's vi x hi blocks (raster within MCU).
    The plane is edge-padded to the full MCU grid (nmx*hi, nmy*vi
    blocks)."""
    bh, bw = nmy * vi * 8, nmx * hi * 8
    h, w = plane.shape
    p = np.pad(plane, ((0, bh - h), (0, bw - w)), mode="edge")
    grid = (
        p.reshape(nmy * vi, 8, nmx * hi, 8).transpose(0, 2, 1, 3)
    )  # (block_row, block_col, 8, 8)
    order = []
    for my in range(nmy):
        for mx in range(nmx):
            for v in range(vi):
                for hh in range(hi):
                    order.append((my * vi + v, mx * hi + hh))
    rows = np.array([r for r, _ in order])
    cols = np.array([c for _, c in order])
    return grid[rows, cols]  # (n_blocks, 8, 8) in scan order


def encode_jpeg(
    arr: np.ndarray,
    quant_luma: np.ndarray | None = None,
    quant_chroma: np.ndarray | None = None,
    subsampling: str = "444",
    restart_interval: int = 0,
) -> bytes:
    """(h, w) grayscale or (h, w, 3) RGB uint8 -> baseline JFIF JPEG
    (SOF0, 8-bit, Annex-K-shaped Huffman tables written to DHT).
    ``subsampling``: '444' (default — the setting under which
    constant-8x8-block grayscale images roundtrip EXACTLY), '422' or
    '420' (box-mean chroma downsample, MCU-interleaved scan — the
    dominant real-crawl flavor). Default quantization is all-ones.
    ``restart_interval`` > 0 writes a DRI segment and an RSTm marker
    (byte-aligned, DC predictors reset, m cycling 0..7 — T.81 E.2.4)
    after every that-many MCUs, the error-resilience feature real
    camera/web JPEGs use routinely (r11 directive #4)."""
    if arr.dtype != np.uint8:
        raise ValueError("encode_jpeg expects uint8 input")
    gray = arr.ndim == 2
    if not gray and (arr.ndim != 3 or arr.shape[2] != 3):
        raise ValueError("encode_jpeg expects (h,w) or (h,w,3)")
    if subsampling not in _SAMPLINGS:
        raise ValueError(f"unknown subsampling {subsampling!r}")
    if restart_interval < 0 or restart_interval > 0xFFFF:
        raise ValueError("restart_interval out of u16 range")
    h, w = arr.shape[0], arr.shape[1]
    if h == 0 or w == 0 or h > 0xFFFF or w > 0xFFFF:
        raise ValueError("JPEG dimensions out of range")
    ql = QUANT_ONES if quant_luma is None else np.asarray(quant_luma, np.int64)
    qc = ql if quant_chroma is None else np.asarray(quant_chroma, np.int64)
    # ADVICE r10 #2: the DQT write below is .astype(np.uint8) — an
    # out-of-range table would silently wrap modulo 256 and decode to
    # wrong pixels; only 8-bit (Pq=0) tables are supported, so raise
    # loudly per the codec contract instead.
    for name, qt in (("quant_luma", ql), ("quant_chroma", qc)):
        if qt.shape != (8, 8):
            raise ValueError(f"{name} must be shape (8, 8)")
        if qt.min() < 1 or qt.max() > 255:
            raise ValueError(
                f"{name} values must be in 1..255 (8-bit Pq=0 tables)"
            )

    if gray:
        planes = [arr.astype(np.float64)]
        qts, qids = [ql], [0]
        samps = [(1, 1)]
    else:
        (lh, lv), (ch, cv) = _SAMPLINGS[subsampling]
        ycc = np.round(rgb_to_ycbcr(arr))
        planes = [
            ycc[..., 0],
            _box_mean(ycc[..., 1], lv // cv, lh // ch),
            _box_mean(ycc[..., 2], lv // cv, lh // ch),
        ]
        qts, qids = [ql, qc, qc], [0, 1, 1]
        samps = [(lh, lv), (ch, cv), (ch, cv)]

    hmax = max(s[0] for s in samps)
    vmax = max(s[1] for s in samps)
    nmx, nmy = -(-w // (8 * hmax)), -(-h // (8 * vmax))

    # quantized zigzag coefficients per component, MCU scan order
    comp_zz = []
    for plane, qt, (hi, vi) in zip(planes, qts, samps):
        blocks = _mcu_blocks(plane, hi, vi, nmx, nmy) - 128.0
        coeffs = np.round(fdct2(blocks) / qt.astype(np.float64)).astype(
            np.int64
        )
        comp_zz.append(coeffs.reshape(-1, 64)[:, _ZFLAT])

    enc_dc_l = _build_encode_table(DC_LUMA_BITS, DC_LUMA_VALS)
    enc_ac_l = _build_encode_table(AC_LUMA_BITS, AC_LUMA_VALS)
    enc_dc_c = _build_encode_table(DC_CHROMA_BITS, DC_CHROMA_VALS)
    enc_ac_c = _build_encode_table(AC_CHROMA_BITS, AC_CHROMA_VALS)
    comp_tables = [(enc_dc_l, enc_ac_l)] + [(enc_dc_c, enc_ac_c)] * (
        len(planes) - 1
    )

    bw = _BitWriter()
    prev = [0] * len(planes)
    pos = [0] * len(planes)
    for mcu in range(nmx * nmy):
        if restart_interval and mcu and mcu % restart_interval == 0:
            bw.emit_restart(mcu // restart_interval - 1)
            prev = [0] * len(planes)
        for ci, (hi, vi) in enumerate(samps):
            dc_t, ac_t = comp_tables[ci]
            for _ in range(hi * vi):
                prev[ci] = _encode_block(
                    comp_zz[ci][pos[ci]], prev[ci], bw, dc_t, ac_t
                )
                pos[ci] += 1
    scan = bw.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    out = bytearray()
    out += b"\xff\xd8"  # SOI
    out += seg(
        0xFFE0, b"JFIF\x00" + struct.pack(">BBBHHBB", 1, 1, 0, 1, 1, 0, 0)
    )
    out += seg(
        0xFFDB,
        bytes([0x00])
        + ql.reshape(-1)[_ZFLAT].astype(np.uint8).tobytes(),
    )
    if not gray:
        out += seg(
            0xFFDB,
            bytes([0x01])
            + qc.reshape(-1)[_ZFLAT].astype(np.uint8).tobytes(),
        )
    nc = len(planes)
    sof = struct.pack(">BHHB", 8, h, w, nc)
    for ci in range(nc):
        hi, vi = samps[ci]
        sof += bytes([ci + 1, (hi << 4) | vi, qids[ci]])
    out += seg(0xFFC0, sof)
    dht = bytes([0x00]) + bytes(DC_LUMA_BITS) + bytes(DC_LUMA_VALS)
    dht += bytes([0x10]) + bytes(AC_LUMA_BITS) + bytes(AC_LUMA_VALS)
    if not gray:
        dht += bytes([0x01]) + bytes(DC_CHROMA_BITS) + bytes(DC_CHROMA_VALS)
        dht += bytes([0x11]) + bytes(AC_CHROMA_BITS) + bytes(AC_CHROMA_VALS)
    out += seg(0xFFC4, dht)
    if restart_interval:
        out += seg(0xFFDD, struct.pack(">H", restart_interval))
    sos = bytes([nc])
    for ci in range(nc):
        sos += bytes([ci + 1, 0x00 if ci == 0 else 0x11])
    sos += bytes([0, 63, 0])
    out += seg(0xFFDA, sos)
    out += scan
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# --- decoder ---------------------------------------------------------------


def decode_jpeg(payload: bytes) -> np.ndarray:
    """Baseline JFIF JPEG -> (h, w) or (h, w, 3) uint8. Supports SOF0,
    8-bit, 1 or 3 components, sampling factors 1..2 per axis (4:4:4,
    4:2:2, 4:2:0 — chroma upsampled by pixel replication), and DRI /
    RSTn restart intervals (r11 — byte-aligned resync, DC predictor
    reset, modulo-8 marker-sequence check); raises on
    progressive/extended inputs."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], dict] = {}
    comps: list[tuple[int, int, int]] = []  # (id, sampling, tq)
    h = w = None
    restart_interval = 0
    scan_comps: list[tuple[int, int, int]] = []  # (id, dc_id, ac_id)
    scan_data = None

    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("JPEG marker sync lost")
        # ADVICE r10 #4: consume legal 0xFF fill bytes before the
        # marker code (T.81 B.1.1.2) instead of misparsing them as
        # marker 0xFFFF with a garbage length
        while pos + 4 <= len(payload) and payload[pos + 1] == 0xFF:
            pos += 1
        marker = struct.unpack_from(">H", payload, pos)[0]
        if marker == 0xFFD9:
            break
        if marker == 0xFF01 or 0xFFD0 <= marker <= 0xFFD8:
            # standalone markers carry NO length segment; none is
            # legal between header segments — fail loudly rather than
            # desynchronizing on a garbage length read
            raise ValueError(
                f"standalone marker {marker:#06x} outside a scan"
            )
        ln = struct.unpack_from(">H", payload, pos + 2)[0]
        body = payload[pos + 4: pos + 2 + ln]
        if marker == 0xFFDB:
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0x0F
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                flat = np.frombuffer(
                    body, np.uint8, 64, i + 1
                ).astype(np.int64)
                nat = np.empty(64, np.int64)
                nat[_ZFLAT] = flat  # stored zigzag -> natural
                qtables[tq] = nat.reshape(8, 8)
                i += 65
        elif marker == 0xFFC4:
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 0x0F
                bits = list(body[i + 1: i + 17])
                n = sum(bits)
                vals = list(body[i + 17: i + 17 + n])
                htables[(tc, th)] = _build_decode_table(bits, vals)
                i += 17 + n
        elif marker == 0xFFC0:
            prec, hh, ww, nc = struct.unpack_from(">BHHB", body, 0)
            if prec != 8:
                raise ValueError("only 8-bit precision supported")
            h, w = hh, ww
            for ci in range(nc):
                cid, samp, tq = body[6 + 3 * ci: 9 + 3 * ci]
                hi, vi = samp >> 4, samp & 0x0F
                if hi not in (1, 2) or vi not in (1, 2):
                    raise ValueError(
                        f"sampling factors {hi}x{vi} unsupported "
                        "(1..2 per axis)"
                    )
                comps.append((cid, samp, tq))
        elif marker == 0xFFC2:
            # progressive DCT (r11): re-parse through the multi-scan
            # coefficient-accumulation path
            return _decode_progressive(payload)
        elif marker in (0xFFC1, 0xFFC3, 0xFFC5, 0xFFC6, 0xFFC7,
                        0xFFC9, 0xFFCA, 0xFFCB, 0xFFCD, 0xFFCE, 0xFFCF):
            raise ValueError(
                "only baseline (SOF0) and progressive (SOF2) supported"
            )
        elif marker == 0xFFDD:
            restart_interval = struct.unpack_from(">H", body, 0)[0]
        elif marker == 0xFFDA:
            ns = body[0]
            for ci in range(ns):
                cid, tt = body[1 + 2 * ci], body[2 + 2 * ci]
                scan_comps.append((cid, tt >> 4, tt & 0x0F))
            # entropy data: up to the first non-stuffed marker; RSTn
            # markers belong TO the scan (consumed by read_restart at
            # each restart boundary), so they stay in scan_data
            start = pos + 2 + ln
            i = start
            while i + 1 < len(payload):
                if payload[i] == 0xFF and payload[i + 1] != 0x00:
                    if 0xD0 <= payload[i + 1] <= 0xD7:
                        i += 2
                        continue
                    break
                i += 1
            scan_data = payload[start:i]
            pos = i
            continue
        pos += 2 + ln

    if h is None or scan_data is None or not comps:
        raise ValueError("JPEG missing SOF0/SOS")
    if len(comps) not in (1, 3):
        raise ValueError(f"unsupported component count {len(comps)}")

    br = _BitReader(scan_data)
    comp_order = []  # align scan order with SOF components
    for cid, dc_id, ac_id in scan_comps:
        samp, tq = next(
            (s, t) for (i2, s, t) in comps if i2 == cid
        )
        comp_order.append((cid, dc_id, ac_id, tq, samp >> 4, samp & 0x0F))
    hmax = max(c[4] for c in comp_order)
    vmax = max(c[5] for c in comp_order)
    nmx, nmy = -(-w // (8 * hmax)), -(-h // (8 * vmax))

    # decode all blocks in MCU-interleaved order; place each block at
    # its (block_row, block_col) in the component's own block grid
    planes_zz = [
        np.zeros((nmy * vi * nmx * hi, 64), np.int64)
        for (_, _, _, _, hi, vi) in comp_order
    ]
    prev = [0] * len(comp_order)
    for my in range(nmy):
        for mx in range(nmx):
            mcu = my * nmx + mx
            if restart_interval and mcu and mcu % restart_interval == 0:
                m = br.read_restart()
                if m != (mcu // restart_interval - 1) % 8:
                    raise ValueError(
                        "RSTn marker out of sequence (corrupt scan)"
                    )
                prev = [0] * len(comp_order)
            for ci, (_, dc_id, ac_id, _, hi, vi) in enumerate(comp_order):
                for v in range(vi):
                    for hh in range(hi):
                        zz, prev[ci] = _decode_block(
                            br,
                            prev[ci],
                            htables[(0, dc_id)],
                            htables[(1, ac_id)],
                        )
                        bidx = (my * vi + v) * (nmx * hi) + mx * hi + hh
                        planes_zz[ci][bidx] = zz

    return _reconstruct_image(
        planes_zz, comp_order, qtables, h, w, hmax, vmax, nmx, nmy
    )


def _reconstruct_image(
    planes_zz, comp_order, qtables, h, w, hmax, vmax, nmx, nmy
) -> np.ndarray:
    """Shared decode tail (baseline + progressive): de-zigzag,
    dequantize, vectorized IDCT, level shift, crop, chroma upsample,
    colorspace."""
    planes = []
    for ci, (_, _, _, tq, hi, vi) in enumerate(comp_order):
        qt = qtables[tq].reshape(-1)
        nat = np.zeros_like(planes_zz[ci])
        nat[:, _ZFLAT] = planes_zz[ci]  # de-zigzag
        coeffs = (nat * qt).reshape(-1, 8, 8).astype(np.float64)
        spatial = idct2(coeffs) + 128.0
        nbx, nby = nmx * hi, nmy * vi
        grid = (
            spatial.reshape(nby, nbx, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(nby * 8, nbx * 8)
        )
        ch, cw = _comp_dims(h, w, hi, vi, hmax, vmax)
        plane = grid[:ch, :cw]
        if hi != hmax or vi != vmax:  # chroma upsample (replication)
            plane = np.repeat(
                np.repeat(plane, vmax // vi, axis=0), hmax // hi, axis=1
            )[:h, :w]
        planes.append(plane)

    if len(planes) == 1:
        return np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
    ycc = np.stack(planes, axis=-1)
    return ycbcr_to_rgb(ycc)


# --- progressive DCT (SOF2, T.81 Annex G) ----------------------------------
#
# r11: the second half of the r10 "restart markers and progressive"
# gap. Both Annex-G mechanisms are implemented on encode AND decode:
# spectral selection (each scan carries one Ss..Se zigzag band; DC and
# AC live in separate scans, AC scans are single-component) and
# successive approximation (scans deliver coefficients at reduced
# precision first — DC via arithmetic point transform >> Al with a
# 1-bit refinement scan per level, AC via truncate-toward-zero with
# the Annex-G correction-bit refinement protocol, including EOBRUN
# end-of-band run coding and RSTn restarts). The decoder accumulates
# coefficients across scans and reuses the shared reconstruction tail.


def _storage_blocks(
    plane: np.ndarray, hi: int, vi: int, nmx: int, nmy: int
) -> np.ndarray:
    """Component plane -> (nmy*vi * nmx*hi, 8, 8) blocks in ROW-MAJOR
    storage-grid order (the decoder's planes_zz layout), edge-padded
    to the full MCU grid."""
    bh, bw = nmy * vi * 8, nmx * hi * 8
    h, w = plane.shape
    p = np.pad(plane, ((0, bh - h), (0, bw - w)), mode="edge")
    return (
        p.reshape(nmy * vi, 8, nmx * hi, 8)
        .transpose(0, 2, 1, 3)
        .reshape(-1, 8, 8)
    )


def _trunc_shift(v: int, al: int) -> int:
    """T.81 G.1.2.2 AC point transform: divide by 2^Al truncating
    TOWARD ZERO (DC uses the arithmetic >> instead)."""
    return -((-v) >> al) if v < 0 else v >> al


def _prog_dec_ac_first_block(
    br: _BitReader, zz: np.ndarray, ac_tbl: dict,
    ss: int, se: int, al: int, eobrun: int,
) -> int:
    """Decode one block of an AC first scan (Ah == 0); returns the
    updated EOBRUN (blocks remaining in the current end-of-band
    run)."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = br.read_symbol(ac_tbl)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r == 15:  # ZRL
                k += 16
                continue
            eobrun = 1 << r
            if r:
                eobrun += br.read_bits(r)
            return eobrun - 1  # this block is part of the run
        k += r
        if k > se:
            raise ValueError("progressive AC run past band end")
        zz[k] = _extend(br.read_bits(s), s) << al
        k += 1
    return 0


def _prog_dec_ac_refine_block(
    br: _BitReader, zz: np.ndarray, ac_tbl: dict,
    ss: int, se: int, al: int, eobrun: int,
) -> int:
    """Decode one block of an AC refinement scan (Ah == Al + 1):
    newly-significant coefficients arrive as (run, 1) symbols with a
    sign bit; every already-nonzero coefficient visited on the way
    consumes one correction bit (T.81 G.1.2.3 / the jdphuff
    protocol). Returns the updated EOBRUN."""
    p1, m1 = 1 << al, -(1 << al)
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = br.read_symbol(ac_tbl)
            r, s = rs >> 4, rs & 0x0F
            if s == 0:
                if r != 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += br.read_bits(r)
                    break  # correction-only pass below finishes block
                val = 0  # ZRL: skip 16 zero-history coefficients
            else:
                if s != 1:
                    raise ValueError(
                        "AC refinement symbol with size != 1"
                    )
                val = p1 if br.read_bit() else m1
            while k <= se:
                if zz[k] != 0:
                    if br.read_bit():
                        if (abs(int(zz[k])) & p1) == 0:
                            zz[k] += p1 if zz[k] > 0 else m1
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if val != 0 and k <= se:
                zz[k] = val
            k += 1
    if eobrun > 0:
        while k <= se:
            if zz[k] != 0:
                if br.read_bit():
                    if (abs(int(zz[k])) & p1) == 0:
                        zz[k] += p1 if zz[k] > 0 else m1
            k += 1
        eobrun -= 1
    return eobrun


class _ProgBitWriter(_BitWriter):
    """_BitWriter plus the refinement-scan correction-bit buffer:
    bits appended while scanning zero runs are FLUSHED after the next
    emitted symbol (jcphuff's BE buffer), preserving the positional
    order the decoder consumes them in."""

    def __init__(self) -> None:
        super().__init__()
        self.pending: list[int] = []

    def flush_pending(self) -> None:
        for b in self.pending:
            self.write(b, 1)
        self.pending = []


def _prog_enc_ac_first_block(
    zz: np.ndarray, bw: _BitWriter, ac_t: dict,
    ss: int, se: int, al: int,
) -> None:
    """Encode one AC-first block. End-of-band runs are emitted as
    EOB0 per block (legal Annex-G; keeps the Annex-K tables, which
    define no EOBn>0 symbols, sufficient)."""
    vals = [_trunc_shift(int(zz[k]), al) for k in range(ss, se + 1)]
    last = -1
    for i, v in enumerate(vals):
        if v:
            last = i
    if last < 0:
        code, ln = ac_t[0x00]
        bw.write(code, ln)
        return
    run = 0
    for i in range(last + 1):
        v = vals[i]
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_t[0xF0]
            bw.write(code, ln)
            run -= 16
        s = _category(v)
        code, ln = ac_t[(run << 4) | s]
        bw.write(code, ln)
        bw.write(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if last < len(vals) - 1:
        code, ln = ac_t[0x00]
        bw.write(code, ln)


def _prog_enc_ac_refine_block(
    zz: np.ndarray, bw: _ProgBitWriter, ac_t: dict,
    ss: int, se: int, al: int,
) -> None:
    """Encode one AC-refinement block (jcphuff's protocol): newly
    significant coefficients (|v| >> Al == 1) as (run, 1) + sign bit;
    already-significant ones contribute buffered correction bits;
    trailing zeros close with EOB0 carrying the remaining buffer."""
    ab = [abs(int(zz[k])) >> al for k in range(ss, se + 1)]
    run = 0
    emitted_any = False
    trailing = False
    for i, a in enumerate(ab):
        if a == 0:
            run += 1
            trailing = True
            continue
        # ZRLs must fire at EVERY nonzero reached with run > 15 —
        # including correction-only positions — so every buffered
        # correction bit lies inside the span of the next emitted
        # symbol's decoder walk (the jcphuff invariant; checking only
        # at newly-significant positions desynchronizes the stream)
        while run > 15:
            code, ln = ac_t[0xF0]
            bw.write(code, ln)
            bw.flush_pending()
            run -= 16
        if a > 1:  # significant in an earlier scan: correction bit
            bw.pending.append(a & 1)
            continue
        # newly significant
        code, ln = ac_t[(run << 4) | 1]
        bw.write(code, ln)
        bw.write(1 if zz[ss + i] > 0 else 0, 1)
        bw.flush_pending()
        run = 0
        trailing = False
        emitted_any = True
    if trailing or bw.pending or not emitted_any:
        code, ln = ac_t[0x00]  # EOB0 absorbs the tail zero run
        bw.write(code, ln)
        bw.flush_pending()


def encode_jpeg_progressive(
    arr: np.ndarray,
    quant_luma: np.ndarray | None = None,
    quant_chroma: np.ndarray | None = None,
    subsampling: str = "444",
    restart_interval: int = 0,
    al: int = 1,
) -> bytes:
    """(h, w) grayscale or (h, w, 3) RGB uint8 -> PROGRESSIVE JFIF
    JPEG (SOF2). The scan script exercises both Annex-G mechanisms
    the way real encoders do: an (interleaved, for color) DC-first
    scan at point transform ``al``, DC refinement scans down to 0,
    then per component two spectral bands (1..5, 6..63) each as an
    AC-first scan at ``al`` followed by refinement scans down to 0.
    ``restart_interval`` (in MCUs for the DC scan, blocks for AC
    scans) inserts RSTm markers with predictor/EOBRUN resets.
    Coefficients are identical to ``encode_jpeg``'s, so the decoded
    image equals the baseline decode of the same input — the
    constant-block exactness contract carries over unchanged."""
    if arr.dtype != np.uint8:
        raise ValueError("encode_jpeg_progressive expects uint8 input")
    gray = arr.ndim == 2
    if not gray and (arr.ndim != 3 or arr.shape[2] != 3):
        raise ValueError("encode_jpeg_progressive expects (h,w) or (h,w,3)")
    if subsampling not in _SAMPLINGS:
        raise ValueError(f"unknown subsampling {subsampling!r}")
    if not (0 <= al <= 10):
        raise ValueError("al out of range")
    if restart_interval < 0 or restart_interval > 0xFFFF:
        raise ValueError("restart_interval out of u16 range")
    h, w = arr.shape[0], arr.shape[1]
    if h == 0 or w == 0 or h > 0xFFFF or w > 0xFFFF:
        raise ValueError("JPEG dimensions out of range")
    ql = QUANT_ONES if quant_luma is None else np.asarray(quant_luma, np.int64)
    qc = ql if quant_chroma is None else np.asarray(quant_chroma, np.int64)
    for name, qt in (("quant_luma", ql), ("quant_chroma", qc)):
        if qt.shape != (8, 8):
            raise ValueError(f"{name} must be shape (8, 8)")
        if qt.min() < 1 or qt.max() > 255:
            raise ValueError(
                f"{name} values must be in 1..255 (8-bit Pq=0 tables)"
            )

    if gray:
        planes = [arr.astype(np.float64)]
        qts, qids = [ql], [0]
        samps = [(1, 1)]
    else:
        (lh, lv), (ch_, cv) = _SAMPLINGS[subsampling]
        ycc = np.round(rgb_to_ycbcr(arr))
        planes = [
            ycc[..., 0],
            _box_mean(ycc[..., 1], lv // cv, lh // ch_),
            _box_mean(ycc[..., 2], lv // cv, lh // ch_),
        ]
        qts, qids = [ql, qc, qc], [0, 1, 1]
        samps = [(lh, lv), (ch_, cv), (ch_, cv)]
    hmax = max(s[0] for s in samps)
    vmax = max(s[1] for s in samps)
    nmx, nmy = -(-w // (8 * hmax)), -(-h // (8 * vmax))

    # quantized coefficients, ROW-MAJOR storage grid per component
    comp_zz = []
    for plane, qt, (hi, vi) in zip(planes, qts, samps):
        blocks = _storage_blocks(plane, hi, vi, nmx, nmy) - 128.0
        coeffs = np.round(fdct2(blocks) / qt.astype(np.float64)).astype(
            np.int64
        )
        comp_zz.append(coeffs.reshape(-1, 64)[:, _ZFLAT])

    enc_dc = [
        _build_encode_table(DC_LUMA_BITS, DC_LUMA_VALS),
        _build_encode_table(DC_CHROMA_BITS, DC_CHROMA_VALS),
    ]
    enc_ac = [
        _build_encode_table(AC_LUMA_BITS, AC_LUMA_VALS),
        _build_encode_table(AC_CHROMA_BITS, AC_CHROMA_VALS),
    ]
    nc = len(planes)
    tsel = [0] + [1] * (nc - 1)  # table id per component

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    out = bytearray()
    out += b"\xff\xd8"
    out += seg(
        0xFFE0, b"JFIF\x00" + struct.pack(">BBBHHBB", 1, 1, 0, 1, 1, 0, 0)
    )
    out += seg(
        0xFFDB,
        bytes([0x00]) + ql.reshape(-1)[_ZFLAT].astype(np.uint8).tobytes(),
    )
    if not gray:
        out += seg(
            0xFFDB,
            bytes([0x01])
            + qc.reshape(-1)[_ZFLAT].astype(np.uint8).tobytes(),
        )
    sof = struct.pack(">BHHB", 8, h, w, nc)
    for ci in range(nc):
        hi, vi = samps[ci]
        sof += bytes([ci + 1, (hi << 4) | vi, qids[ci]])
    out += seg(0xFFC2, sof)
    dht = bytes([0x00]) + bytes(DC_LUMA_BITS) + bytes(DC_LUMA_VALS)
    dht += bytes([0x10]) + bytes(AC_LUMA_BITS) + bytes(AC_LUMA_VALS)
    if not gray:
        dht += bytes([0x01]) + bytes(DC_CHROMA_BITS) + bytes(DC_CHROMA_VALS)
        dht += bytes([0x11]) + bytes(AC_CHROMA_BITS) + bytes(AC_CHROMA_VALS)
    out += seg(0xFFC4, dht)
    if restart_interval:
        out += seg(0xFFDD, struct.pack(">H", restart_interval))

    def sos_header(comps: list[int], ss: int, se: int, ah: int, a: int):
        body = bytes([len(comps)])
        for ci in comps:
            body += bytes([ci + 1, (tsel[ci] << 4) | tsel[ci]])
        body += bytes([ss, se, (ah << 4) | a])
        return seg(0xFFDA, body)

    def comp_true_grid(ci: int) -> list[int]:
        hi, vi = samps[ci]
        ch2, cw2 = _comp_dims(h, w, hi, vi, hmax, vmax)
        bh2, bw2 = -(-ch2 // 8), -(-cw2 // 8)
        nbx = nmx * hi
        return [r * nbx + c for r in range(bh2) for c in range(bw2)]

    # --- DC first scan (interleaved over all components) ---
    out += sos_header(list(range(nc)), 0, 0, 0, al)
    bw = _BitWriter()
    prev = [0] * nc
    for mcu in range(nmx * nmy):
        if restart_interval and mcu and mcu % restart_interval == 0:
            bw.emit_restart(mcu // restart_interval - 1)
            prev = [0] * nc
        my, mx = divmod(mcu, nmx)
        for ci in range(nc):
            hi, vi = samps[ci]
            for v in range(vi):
                for hh in range(hi):
                    idx = (my * vi + v) * (nmx * hi) + mx * hi + hh
                    dc_t = comp_zz[ci][idx][0] >> al
                    diff = int(dc_t - prev[ci])
                    prev[ci] = dc_t
                    s = _category(diff)
                    code, ln = enc_dc[tsel[ci]][s]
                    bw.write(code, ln)
                    if s:
                        bw.write(
                            diff if diff >= 0 else diff + (1 << s) - 1, s
                        )
    out += bw.flush()

    # --- DC refinement scans (one bit per level per block) ---
    for a in range(al - 1, -1, -1):
        out += sos_header(list(range(nc)), 0, 0, a + 1, a)
        bw = _BitWriter()
        for mcu in range(nmx * nmy):
            if restart_interval and mcu and mcu % restart_interval == 0:
                bw.emit_restart(mcu // restart_interval - 1)
            my, mx = divmod(mcu, nmx)
            for ci in range(nc):
                hi, vi = samps[ci]
                for v in range(vi):
                    for hh in range(hi):
                        idx = (my * vi + v) * (nmx * hi) + mx * hi + hh
                        bw.write((int(comp_zz[ci][idx][0]) >> a) & 1, 1)
        out += bw.flush()

    # --- AC scans: two spectral bands per component ---
    for ci in range(nc):
        grid = comp_true_grid(ci)
        for ss, se in ((1, 5), (6, 63)):
            out += sos_header([ci], ss, se, 0, al)
            bw = _BitWriter()
            for bi, idx in enumerate(grid):
                if (
                    restart_interval
                    and bi
                    and bi % restart_interval == 0
                ):
                    bw.emit_restart(bi // restart_interval - 1)
                _prog_enc_ac_first_block(
                    comp_zz[ci][idx], bw, enc_ac[tsel[ci]], ss, se, al
                )
            out += bw.flush()
            for a in range(al - 1, -1, -1):
                out += sos_header([ci], ss, se, a + 1, a)
                bwr = _ProgBitWriter()
                for bi, idx in enumerate(grid):
                    if (
                        restart_interval
                        and bi
                        and bi % restart_interval == 0
                    ):
                        bwr.emit_restart(bi // restart_interval - 1)
                        bwr.pending = []
                    _prog_enc_ac_refine_block(
                        comp_zz[ci][idx], bwr, enc_ac[tsel[ci]], ss, se, a
                    )
                out += bwr.flush()
    out += b"\xff\xd9"
    return bytes(out)


def _decode_progressive(payload: bytes) -> np.ndarray:
    """Progressive JPEG (SOF2) -> (h, w) or (h, w, 3) uint8: the
    multi-scan path — coefficients accumulate across scans (spectral
    selection bands, successive-approximation first + refinement
    passes, EOBRUN, RSTn restarts), then the shared reconstruction
    tail runs once."""
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], dict] = {}
    comps: list[tuple[int, int, int]] = []  # (id, samp, tq)
    h = w = None
    restart_interval = 0
    planes_zz: list[np.ndarray] | None = None
    hmax = vmax = nmx = nmy = None
    saw_scan = False

    def comp_index(cid: int) -> int:
        for i, (c, _, _) in enumerate(comps):
            if c == cid:
                return i
        raise ValueError(f"scan references unknown component {cid}")

    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("JPEG marker sync lost")
        while pos + 4 <= len(payload) and payload[pos + 1] == 0xFF:
            pos += 1
        marker = struct.unpack_from(">H", payload, pos)[0]
        if marker == 0xFFD9:
            break
        if marker == 0xFF01 or 0xFFD0 <= marker <= 0xFFD8:
            raise ValueError(
                f"standalone marker {marker:#06x} outside a scan"
            )
        ln = struct.unpack_from(">H", payload, pos + 2)[0]
        body = payload[pos + 4: pos + 2 + ln]
        if marker == 0xFFDB:
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0x0F
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                flat = np.frombuffer(
                    body, np.uint8, 64, i + 1
                ).astype(np.int64)
                nat = np.empty(64, np.int64)
                nat[_ZFLAT] = flat
                qtables[tq] = nat.reshape(8, 8)
                i += 65
        elif marker == 0xFFC4:
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 0x0F
                bits = list(body[i + 1: i + 17])
                n = sum(bits)
                vals = list(body[i + 17: i + 17 + n])
                htables[(tc, th)] = _build_decode_table(bits, vals)
                i += 17 + n
        elif marker == 0xFFC2:
            prec, hh_, ww, nc = struct.unpack_from(">BHHB", body, 0)
            if prec != 8:
                raise ValueError("only 8-bit precision supported")
            h, w = hh_, ww
            for ci in range(nc):
                cid, samp, tq = body[6 + 3 * ci: 9 + 3 * ci]
                hi, vi = samp >> 4, samp & 0x0F
                if hi not in (1, 2) or vi not in (1, 2):
                    raise ValueError(
                        f"sampling factors {hi}x{vi} unsupported "
                        "(1..2 per axis)"
                    )
                comps.append((cid, samp, tq))
            if len(comps) not in (1, 3):
                raise ValueError(
                    f"unsupported component count {len(comps)}"
                )
            hmax = max(s >> 4 for _, s, _ in comps)
            vmax = max(s & 0x0F for _, s, _ in comps)
            nmx, nmy = -(-w // (8 * hmax)), -(-h // (8 * vmax))
            planes_zz = [
                np.zeros(
                    (nmy * (s & 0x0F) * nmx * (s >> 4), 64), np.int64
                )
                for _, s, _ in comps
            ]
        elif marker == 0xFFDD:
            restart_interval = struct.unpack_from(">H", body, 0)[0]
        elif marker == 0xFFDA:
            if planes_zz is None:
                raise ValueError("SOS before SOF2")
            saw_scan = True
            ns = body[0]
            scomps = []
            for ci in range(ns):
                cid, tt = body[1 + 2 * ci], body[2 + 2 * ci]
                scomps.append((comp_index(cid), tt >> 4, tt & 0x0F))
            ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
            ah, a = body[3 + 2 * ns] >> 4, body[3 + 2 * ns] & 0x0F
            start = pos + 2 + ln
            i = start
            while i + 1 < len(payload):
                if payload[i] == 0xFF and payload[i + 1] != 0x00:
                    if 0xD0 <= payload[i + 1] <= 0xD7:
                        i += 2
                        continue
                    break
                i += 1
            _decode_progressive_scan(
                payload[start:i], scomps, ss, se, ah, a,
                comps, planes_zz, htables,
                h, w, hmax, vmax, nmx, nmy, restart_interval,
            )
            pos = i
            continue
        pos += 2 + ln

    if planes_zz is None or not saw_scan:
        raise ValueError("progressive JPEG missing SOF2/SOS")
    comp_order = [
        (cid, 0, 0, tq, samp >> 4, samp & 0x0F)
        for cid, samp, tq in comps
    ]
    return _reconstruct_image(
        planes_zz, comp_order, qtables, h, w, hmax, vmax, nmx, nmy
    )


def _decode_progressive_scan(
    data: bytes,
    scomps: list[tuple[int, int, int]],
    ss: int, se: int, ah: int, al: int,
    comps, planes_zz, htables,
    h, w, hmax, vmax, nmx, nmy, restart_interval: int,
) -> None:
    """Decode ONE progressive scan into the coefficient arrays."""
    br = _BitReader(data)
    if ss == 0:
        if se != 0:
            raise ValueError("progressive DC scan must have Se == 0")
        # DC scan: interleaved MCU geometry over the scan components
        # (a single-component scan degenerates to its own block grid
        # only when the image itself is single-component; multi-
        # component images keep MCU geometry for ns > 1)
        prev = [0] * len(scomps)
        if len(scomps) == 1 and len(comps) == 1:
            ci, dc_id, _ = scomps[0]
            tbl = htables[(0, dc_id)]
            n_blocks = planes_zz[ci].shape[0]
            for bi in range(n_blocks):
                if (
                    restart_interval
                    and bi
                    and bi % restart_interval == 0
                ):
                    m = br.read_restart()
                    if m != (bi // restart_interval - 1) % 8:
                        raise ValueError("RSTn out of sequence")
                    prev = [0]
                    
                zz = planes_zz[ci][bi]
                if ah == 0:
                    s = br.read_symbol(tbl)
                    diff = _extend(br.read_bits(s), s)
                    prev[0] += diff
                    zz[0] = prev[0] << al
                else:
                    if br.read_bit():
                        zz[0] = int(zz[0]) | (1 << al)
        else:
            for mcu in range(nmx * nmy):
                if (
                    restart_interval
                    and mcu
                    and mcu % restart_interval == 0
                ):
                    m = br.read_restart()
                    if m != (mcu // restart_interval - 1) % 8:
                        raise ValueError("RSTn out of sequence")
                    prev = [0] * len(scomps)
                my, mx = divmod(mcu, nmx)
                for si, (ci, dc_id, _) in enumerate(scomps):
                    samp = comps[ci][1]
                    hi, vi = samp >> 4, samp & 0x0F
                    for v in range(vi):
                        for hh in range(hi):
                            idx = (
                                (my * vi + v) * (nmx * hi)
                                + mx * hi + hh
                            )
                            zz = planes_zz[ci][idx]
                            if ah == 0:
                                tbl = htables[(0, dc_id)]
                                s = br.read_symbol(tbl)
                                diff = _extend(br.read_bits(s), s)
                                prev[si] += diff
                                zz[0] = prev[si] << al
                            else:
                                if br.read_bit():
                                    zz[0] = int(zz[0]) | (1 << al)
        return
    # AC scan: single component, non-interleaved block grid
    if len(scomps) != 1:
        raise ValueError("progressive AC scans are single-component")
    ci, _, ac_id = scomps[0]
    tbl = htables[(1, ac_id)]
    samp = comps[ci][1]
    hi, vi = samp >> 4, samp & 0x0F
    ch2, cw2 = _comp_dims(h, w, hi, vi, hmax, vmax)
    bh2, bw2 = -(-ch2 // 8), -(-cw2 // 8)
    nbx = nmx * hi
    eobrun = 0
    bi = 0
    for r_ in range(bh2):
        for c_ in range(bw2):
            if restart_interval and bi and bi % restart_interval == 0:
                m = br.read_restart()
                if m != (bi // restart_interval - 1) % 8:
                    raise ValueError("RSTn out of sequence")
                eobrun = 0
            zz = planes_zz[ci][r_ * nbx + c_]
            if ah == 0:
                eobrun = _prog_dec_ac_first_block(
                    br, zz, tbl, ss, se, al, eobrun
                )
            else:
                eobrun = _prog_dec_ac_refine_block(
                    br, zz, tbl, ss, se, al, eobrun
                )
            bi += 1
