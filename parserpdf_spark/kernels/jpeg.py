"""JPEG codec from scratch (stdlib + numpy): baseline AND progressive.

The PDF kernel (kernels/pdf_binary.py) surfaces /DCTDecode image
payloads byte-for-byte, and the reference pipeline hands such images to
PIL (``utils/file_utils.py:562-626``).  This container ships no image
library, so the dominant embedded-image format is implemented from the
public ITU-T T.81 spec directly:

- **decode_jpeg_baseline** (the one entry point — name kept for API
  stability): baseline sequential DCT (SOF0/1) and progressive (SOF2,
  Annex G: spectral selection + successive approximation across
  multiple scans), 8-bit, grayscale or 3-component YCbCr (JFIF),
  chroma sampling factors 1 or 2 (4:4:4 / 4:2:2 / 4:2:0), restart
  markers (DRI/RSTn), 8- and 16-bit quantization tables, inter-scan
  DHT/DRI updates, multi-marker streams with fill bytes.  Outside the
  subset (arithmetic coding, lossless/hierarchical SOFs, 12-bit, CMYK,
  truncated entropy data) raises ValueError — the keep-with-status
  contract upstream converts that to a per-row status.
- **encode_jpeg_baseline**: the matching writer (quality-scaled Annex K
  quantization tables, standard or full-symbol Huffman tables, optional
  4:2:0 subsampling, restart intervals), so fixtures carry *real*
  decodable JPEG bytes with known source pixels.
- **encode_jpeg_progressive**: a spectral/successive scan-script writer
  that no engine run calls.  It is the reference the progressive decoder
  is tested against: decoded byte-equal to the baseline decoder on
  identical quantized coefficients.

Correctness is NOT self-referential: tests pin closed-form cases (a
solid-color image is a pure DC term whose quantized value is derivable
by hand), round-trip error bounds against the known source pixels, and
the decoder's marker-level behavior on crafted streams.

The DCT uses the orthonormal 8x8 basis as one numpy matmul per block:
``coeffs = T @ block @ T.T`` with ``T[u,x] = c(u)/2 · cos((2x+1)uπ/16)``
and its exact inverse ``block = T.T @ coeffs @ T``.
"""

from __future__ import annotations

import struct
from typing import Iterator

import numpy as np

# ---------------------------------------------------------------------------
# Constants from ITU-T T.81 (public spec, Annex K)
# ---------------------------------------------------------------------------

_ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
])

# Annex K.1 luminance / K.2 chrominance quantization tables (quality 50)
_Q_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.float64).reshape(8, 8)
_Q_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.float64).reshape(8, 8)

# Annex K.3 typical Huffman tables: (bits[1..16], values)
_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
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
     0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA],
)
_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
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
     0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA],
)


def _dct_matrix() -> np.ndarray:
    u = np.arange(8).reshape(8, 1)
    x = np.arange(8).reshape(1, 8)
    t = 0.5 * np.cos((2 * x + 1) * u * np.pi / 16)
    t[0, :] *= 1 / np.sqrt(2)
    return t


_T = _dct_matrix()


def _scaled_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    """IJG-style quality scaling of the Annex K tables (public scheme:
    scale = 5000/q below 50, 200−2q above), clamped to [1, 255]."""
    q = min(100, max(1, int(quality)))
    scale = 5000 / q if q < 50 else 200 - 2 * q
    out = []
    for base in (_Q_LUMA, _Q_CHROMA):
        t = np.floor((base * scale + 50) / 100)
        out.append(np.clip(t, 1, 255))
    return out[0], out[1]


# ---------------------------------------------------------------------------
# Huffman machinery
# ---------------------------------------------------------------------------

def _build_codes(bits: list[int], values: list[int]) -> dict[int, tuple[int, int]]:
    """(bits, values) → {symbol: (code, length)} per T.81 C.2."""
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[values[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.out.append(0x00)
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def pad_to_byte(self) -> None:
        if self.nbits:
            self.write(0x7F, 8 - self.nbits)  # pad with 1-bits


def _build_fast_table(
    bits: list[int], values: list[int]
) -> tuple[list[int], list[int]]:
    """(bits, values) → 16-bit-peek lookup arrays (symbol, code_length):
    one table probe per Huffman symbol instead of bit-at-a-time walking.
    Entry 0 in the length array marks an invalid prefix."""
    sym = [0] * 65536
    ln = [0] * 65536
    code = 0
    k = 0
    for length in range(1, 17):
        n = bits[length - 1]
        if k + n > len(values):
            raise ValueError("DHT counts exceed value list")
        for _ in range(n):
            lo = code << (16 - length)
            hi = lo + (1 << (16 - length))
            if hi > 65536:
                raise ValueError("DHT code overflow (invalid counts)")
            sym[lo:hi] = [values[k]] * (hi - lo)
            ln[lo:hi] = [length] * (hi - lo)
            code += 1
            k += 1
        code <<= 1
    return sym, ln


def _entropy_segments(data: bytes, pos: int) -> tuple[list[bytes], int]:
    """SOS payload → (unstuffed byte runs split at RSTn markers, offset
    of the terminating marker's 0xFF).  The terminator is EOI for a
    single-scan stream or the next DHT/DRI/SOS/… of a progressive
    multi-scan stream.  Marker handling happens HERE, once, so the hot
    bit reader never inspects markers."""
    segs: list[bytes] = []
    cur = bytearray()
    n = len(data)
    while pos < n:
        nxt_ff = data.find(b"\xff", pos)
        if nxt_ff < 0:
            break
        cur += data[pos:nxt_ff]
        if nxt_ff + 1 >= n:
            break
        m = data[nxt_ff + 1]
        if m == 0x00:
            cur.append(0xFF)
            pos = nxt_ff + 2
        elif 0xD0 <= m <= 0xD7:
            segs.append(bytes(cur))
            cur = bytearray()
            pos = nxt_ff + 2
        elif m == 0xFF:  # fill byte
            pos = nxt_ff + 1
        else:
            segs.append(bytes(cur))
            return segs, nxt_ff
    raise ValueError("truncated JPEG entropy data (no terminating marker)")


class _SegReader:
    """Bit reader over one unstuffed entropy segment: 56-bit python-int
    buffer, 16-bit peeks against the fast Huffman tables."""

    __slots__ = ("data", "pos", "acc", "nbits")

    def __init__(self, seg: bytes):
        self.data = seg
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        data, pos, acc, nb = self.data, self.pos, self.acc, self.nbits
        acc &= (1 << nb) - 1  # drop consumed high bits — keeps acc ≤ 56 bits
        end = len(data)
        while nb <= 48 and pos < end:
            acc = (acc << 8) | data[pos]
            pos += 1
            nb += 8
        self.pos, self.acc, self.nbits = pos, acc, nb

    def read_symbol(self, sym: list[int], ln: list[int]) -> int:
        nb = self.nbits
        if nb < 16:
            self._fill()
            nb = self.nbits
        if nb >= 16:
            peek = (self.acc >> (nb - 16)) & 0xFFFF
        elif nb > 0:
            # stream tail: pad the peek with 1-bits (the encoder's
            # byte-pad convention), so final symbols still resolve
            peek = ((self.acc << (16 - nb)) | ((1 << (16 - nb)) - 1)) & 0xFFFF
        else:
            raise ValueError("truncated JPEG entropy data")
        length = ln[peek]
        if length == 0 or length > nb:
            raise ValueError("invalid Huffman code in entropy data")
        self.nbits = nb - length
        return sym[peek]

    def read_bits(self, t: int) -> int:
        if t == 0:
            return 0
        if self.nbits < t:
            self._fill()
            if self.nbits < t:
                raise ValueError("truncated JPEG entropy data")
        self.nbits -= t
        return (self.acc >> self.nbits) & ((1 << t) - 1)


def _extend(v: int, t: int) -> int:
    """T.81 F.12: map t-bit magnitude to signed value."""
    if t == 0:
        return 0
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def _magnitude(v: int) -> tuple[int, int]:
    """Signed value → (category t, t-bit code) per T.81 F.1.2.1."""
    t = int(v).bit_length() if v > 0 else int(-v).bit_length()
    if v < 0:
        v = v + (1 << t) - 1
    return t, v


# ---------------------------------------------------------------------------
# Color transforms (JFIF / BT.601 full-range)
# ---------------------------------------------------------------------------

def _rgb_to_ycbcr(rgb: np.ndarray) -> np.ndarray:
    r = rgb[..., 0].astype(np.float64)
    g = rgb[..., 1].astype(np.float64)
    b = rgb[..., 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return np.stack([y, cb, cr], axis=-1)


def _ycbcr_to_rgb(ycc: np.ndarray) -> np.ndarray:
    y = ycc[..., 0]
    cb = ycc[..., 1] - 128.0
    cr = ycc[..., 2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.stack([r, g, b], axis=-1).round(), 0, 255).astype(np.uint8)


# ---------------------------------------------------------------------------
# Encoder
# ---------------------------------------------------------------------------

def _edge_pad(plane: np.ndarray, m: int) -> np.ndarray:
    """Plane padded by repeating its last row and column up to multiples
    of ``m``."""
    h, w = plane.shape
    return np.pad(plane, ((0, -h % m), (0, -w % m)), mode="edge")


def _block_split(plane: np.ndarray) -> tuple[np.ndarray, int, int]:
    """Plane → (n_by, n_bx, 8, 8) blocks with edge replication."""
    padded = _edge_pad(plane, 8)
    bh, bw = padded.shape
    blocks = padded.reshape(bh // 8, 8, bw // 8, 8).transpose(0, 2, 1, 3)
    return blocks, bh // 8, bw // 8


def _planes(arr: np.ndarray, gray: bool, subsample: bool) -> list[np.ndarray]:
    """Pixels → the Y (or gray) plane and, for colour, Cb and Cr planes,
    4:2:0-averaged when ``subsample``."""
    if gray:
        return [arr.astype(np.float64)]
    ycc = _rgb_to_ycbcr(arr)
    y, cb, cr = ycc[..., 0], ycc[..., 1], ycc[..., 2]
    if subsample:
        cb, cr = [
            p.reshape(p.shape[0] // 2, 2, p.shape[1] // 2, 2).mean(axis=(1, 3))
            for p in (_edge_pad(cb, 2), _edge_pad(cr, 2))
        ]
    return [y, cb, cr]


def _encode_front(pixels, quality: int, subsample: bool, sof: bytes,
                  dht: tuple) -> tuple:
    """The encoders' shared front end: check ``pixels`` (HxWx3 RGB or HxW
    gray), write SOI, JFIF, DQT, the ``sof`` frame header and the ``dht``
    Huffman tables (chroma ones only for colour), and split the pixels
    into planes.  Returns (out, planes, per-plane quant tables, frame
    components as (id, sampling, table))."""
    arr = np.asarray(pixels, dtype=np.uint8)
    gray = arr.ndim == 2
    if not gray and (arr.ndim != 3 or arr.shape[2] != 3):
        raise ValueError("the JPEG encoders expect HxWx3 RGB or HxW gray")
    h, w = arr.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("degenerate image dimensions")
    q_luma, q_chroma = _scaled_tables(quality)
    qs = [q_luma] if gray else [q_luma, q_chroma, q_chroma]

    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" \
        + struct.pack(">HH", 1, 1) + b"\x00\x00"
    # DQT (table 0 luma; table 1 chroma when color)
    for tq, q in enumerate(qs[:2]):
        out += b"\xff\xdb" + struct.pack(">H", 2 + 65) + bytes([tq]) \
            + q.flatten()[_ZIGZAG].astype(np.uint8).tobytes()
    hs = 2 if (subsample and not gray) else 1
    comps = [(1, (hs << 4) | hs, 0)]
    if not gray:
        comps += [(2, 0x11, 1), (3, 0x11, 1)]
    frame = struct.pack(">BHHB", 8, h, w, len(comps))
    for cid, samp, tq in comps:
        frame += struct.pack(">BBB", cid, samp, tq)
    out += sof + struct.pack(">H", 2 + len(frame)) + frame
    for tc_th, (bits, values) in dht:
        if gray and tc_th & 0x0F:
            continue
        seg = bytes([tc_th]) + bytes(bits) + bytes(values)
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(seg)) + seg
    return out, _planes(arr, gray, subsample), qs, comps


def _write_dc(writer: _BitWriter, dc_codes: dict, diff: int) -> None:
    """One DC difference: its size category's code, then its bits."""
    t, code = _magnitude(diff) if diff else (0, 0)
    c, ln = dc_codes[t]
    writer.write(c, ln)
    if t:
        writer.write(code, t)


def _write_ac(writer: _BitWriter, ac_codes: dict, run: int, v: int) -> None:
    """One nonzero AC coefficient after ``run`` zeros: a ZRL per 16
    zeros, then the (run, size) code and the magnitude bits."""
    while run > 15:
        c, ln = ac_codes[0xF0]  # ZRL
        writer.write(c, ln)
        run -= 16
    t, code = _magnitude(v)
    c, ln = ac_codes[(run << 4) | t]
    writer.write(c, ln)
    writer.write(code, t)


def _encode_block(
    writer: _BitWriter,
    block: np.ndarray,
    q: np.ndarray,
    dc_codes: dict,
    ac_codes: dict,
    pred: int,
) -> int:
    coeffs = _T @ (block - 128.0) @ _T.T
    quant = np.round(coeffs / q).astype(np.int64)
    zz = quant.flatten()[_ZIGZAG]
    _write_dc(writer, dc_codes, int(zz[0]) - pred)
    run = 0
    nz = np.nonzero(zz[1:])[0]
    last = nz[-1] + 1 if len(nz) else 0
    for k in range(1, last + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        _write_ac(writer, ac_codes, run, v)
        run = 0
    if last < 63:
        c, ln = ac_codes[0x00]  # EOB
        writer.write(c, ln)
    return int(zz[0])


def encode_jpeg_baseline(
    pixels,
    quality: int = 90,
    subsample: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """HxWx3 uint8 RGB (or HxW grayscale) → baseline JFIF bytes.

    ``subsample=True`` emits 4:2:0 chroma; ``restart_interval`` > 0
    emits DRI + RSTn markers every that many MCUs."""
    out, planes, qs, comps = _encode_front(
        pixels, quality, subsample, b"\xff\xc0",
        ((0x00, _DC_LUMA), (0x10, _AC_LUMA),
         (0x01, _DC_CHROMA), (0x11, _AC_CHROMA)),
    )
    gray = len(planes) == 1
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    # SOS
    sos = bytes([len(comps)])
    for cid, _, _ in comps:
        td_ta = 0x00 if cid == 1 else 0x11
        sos += bytes([cid, td_ta])
    sos += b"\x00\x3f\x00"
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

    dc_l = _build_codes(*_DC_LUMA)
    ac_l = _build_codes(*_AC_LUMA)
    dc_c = _build_codes(*_DC_CHROMA)
    ac_c = _build_codes(*_AC_CHROMA)
    dcs = [dc_l] + [dc_c] * (0 if gray else 2)
    acs = [ac_l] + [ac_c] * (0 if gray else 2)
    blockses = [_block_split(p) for p in planes]

    writer = _BitWriter()
    preds = [0] * len(planes)
    # MCU geometry driven by the luma sampling factor
    if gray or not subsample:
        mcus_y, mcus_x = blockses[0][1], blockses[0][2]
        per_mcu = [(0, 1, 1)] if gray else [(0, 1, 1), (1, 1, 1), (2, 1, 1)]
    else:
        mcus_y = -(-blockses[0][1] // 2)
        mcus_x = -(-blockses[0][2] // 2)
        per_mcu = [(0, 2, 2), (1, 1, 1), (2, 1, 1)]
    mcu_count = 0
    rst = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                writer.pad_to_byte()
                writer.out += bytes([0xFF, 0xD0 + rst])
                rst = (rst + 1) % 8
                preds = [0] * len(planes)
            for ci, ch, cv in per_mcu:
                blocks, nby, nbx = blockses[ci]
                for by in range(cv):
                    for bx in range(ch):
                        yy = min(my * cv + by, nby - 1)
                        xx = min(mx * ch + bx, nbx - 1)
                        preds[ci] = _encode_block(
                            writer, blocks[yy, xx].astype(np.float64),
                            qs[ci], dcs[ci], acs[ci], preds[ci],
                        )
            mcu_count += 1
    writer.pad_to_byte()
    out += writer.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ---------------------------------------------------------------------------
# Decoder
# ---------------------------------------------------------------------------

def decode_jpeg_baseline(payload: bytes):
    """JFIF bytes (baseline or progressive) → (width, height, HxWx3
    uint8 RGB array).

    Grayscale streams are expanded to 3 identical channels so the
    feature stage sees one shape.  Raises ValueError outside the
    supported subset (see module docstring); truncated marker segments
    surface as ValueError too (keep-with-status contract), never
    IndexError/struct.error."""
    try:
        return _decode_jpeg(bytes(payload))
    except (IndexError, struct.error) as exc:
        raise ValueError(f"malformed JPEG structure: {exc}") from exc


def _decode_jpeg(data: bytes):
    if len(data) < 4 or data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[int, tuple[list[int], list[int]]] = {}
    restart_interval = 0
    frame = None  # (h, w, [(cid, hs, vs, tq)])
    progressive = False
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"expected marker at offset {pos}")
        marker = data[pos + 1]
        if marker == 0xFF:  # fill byte
            pos += 1
            continue
        if marker == 0xD9:
            raise ValueError("EOI before SOS (no image data)")
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if pos + 4 > len(data):
            raise ValueError("truncated marker segment")
        (seglen,) = struct.unpack_from(">H", data, pos + 2)
        if seglen < 2 or pos + 2 + seglen > len(data):
            raise ValueError("marker segment overruns data")
        seg = data[pos + 4 : pos + 2 + seglen]
        if marker == 0xDB:  # DQT
            sp = 0
            while sp < len(seg):
                pq, tq = seg[sp] >> 4, seg[sp] & 0x0F
                sp += 1
                if pq not in (0, 1):
                    raise ValueError("invalid DQT precision")
                n = 64 * (2 if pq else 1)
                if sp + n > len(seg):
                    raise ValueError("truncated DQT")
                if pq:
                    vals = np.frombuffer(seg[sp:sp + n], dtype=">u2")
                else:
                    vals = np.frombuffer(seg[sp:sp + n], dtype=np.uint8)
                table = np.zeros(64, dtype=np.float64)
                table[_ZIGZAG] = vals
                qtables[tq] = table.reshape(8, 8)
                sp += n
        elif marker == 0xC4:  # DHT
            _read_dht(seg, htables)
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline, SOF2 prog
            if seg[0] != 8:
                raise ValueError("only 8-bit precision supported")
            h, w = struct.unpack_from(">HH", seg, 1)
            ncomp = seg[5]
            if h == 0 or w == 0:
                raise ValueError("degenerate frame dimensions")
            if ncomp not in (1, 3):
                raise ValueError(f"{ncomp}-component JPEG not supported")
            comps = []
            for i in range(ncomp):
                cid = seg[6 + 3 * i]
                samp = seg[7 + 3 * i]
                hs, vs = samp >> 4, samp & 0x0F
                if hs not in (1, 2) or vs not in (1, 2):
                    raise ValueError(f"sampling factor {hs}x{vs} unsupported")
                comps.append((cid, hs, vs, seg[8 + 3 * i]))
            frame = (h, w, comps)
            progressive = marker == 0xC2
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"SOF marker 0xFF{marker:02X} (arithmetic/lossless/"
                "hierarchical) outside the supported subset"
            )
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", seg, 0)
        elif marker == 0xDA:  # SOS — entropy data follows
            if frame is None:
                raise ValueError("SOS before SOF")
            if progressive:
                return _decode_progressive(
                    data, pos, frame, qtables, htables, restart_interval,
                )
            return _decode_scan(
                data, pos + 2 + seglen, frame, list(_scan_components(seg)),
                qtables, htables, restart_interval,
            )
        pos += 2 + seglen
    raise ValueError("no SOS marker (truncated JPEG)")


def _read_dht(seg: bytes, htables: dict) -> None:
    """DHT segment → ``htables[class << 4 | id]``, one fast lookup table
    per Huffman table it holds."""
    sp = 0
    while sp + 17 <= len(seg):
        tc_th = seg[sp]
        bits = list(seg[sp + 1 : sp + 17])
        n = sum(bits)
        values = list(seg[sp + 17 : sp + 17 + n])
        if len(values) < n:
            raise ValueError("truncated DHT")
        htables[tc_th] = _build_fast_table(bits, values)
        sp += 17 + n


def _scan_components(seg: bytes) -> Iterator[tuple[int, int, int]]:
    """SOS segment → (component id, DC table, AC table) per component,
    read as they are consumed."""
    for i in range(seg[0]):
        yield seg[1 + 2 * i], seg[2 + 2 * i] >> 4, seg[2 + 2 * i] & 0x0F


def _mcu_grid(frame, entropy_len: int):
    """Frame → (components, max h and v sampling, MCU rows, MCU columns),
    checked against the ``entropy_len`` bytes that follow the header."""
    h, w, comps = frame
    if len(comps) == 1:
        # T.81 A.2.2/B.2.3: a one-component scan is NON-interleaved —
        # plain ceil(w/8) x ceil(h/8) block raster regardless of the
        # SOF sampling factors (some encoders declare 2x2 on grayscale)
        cid, _, _, tq = comps[0]
        comps = [(cid, 1, 1, tq)]
    max_h = max(c[1] for c in comps)
    max_v = max(c[2] for c in comps)
    mcus_x = -(-w // (8 * max_h))
    mcus_y = -(-h // (8 * max_v))
    if mcus_x * mcus_y > 1_000_000:
        raise ValueError("image too large for the pure-python decoder")
    # allocation sanity: every MCU costs ≥1 entropy bit, so a huge SOF
    # with a tiny payload must fail BEFORE the coefficient store
    # allocates (crafted-bomb guard, not a format rule)
    if mcus_x * mcus_y > entropy_len * 8 + 64:
        raise ValueError("frame dimensions exceed the entropy data")
    return comps, max_h, max_v, mcus_y, mcus_x


def _decode_scan(data, pos, frame, scan_map, qtables, htables,
                 restart_interval):
    h, w, comps = frame
    if len(scan_map) != len(comps):
        raise ValueError("scan component count != frame component count")
    comps, max_h, max_v, mcus_y, mcus_x = _mcu_grid(frame, len(data) - pos)
    comp_info = []
    for cid, hs, vs, tq in comps:
        sm = next((s for s in scan_map if s[0] == cid), None)
        if sm is None:
            raise ValueError(f"component {cid} missing from scan")
        if tq not in qtables:
            raise ValueError(f"missing quantization table {tq}")
        dc_t = htables.get(0x00 | sm[1])
        ac_t = htables.get(0x10 | sm[2])
        if dc_t is None or ac_t is None:
            raise ValueError("missing Huffman table referenced by scan")
        n_blocks = mcus_y * mcus_x * vs * hs
        comp_info.append({
            "hs": hs, "vs": vs, "q": qtables[tq], "dc": dc_t, "ac": ac_t,
            # all quantized blocks in MCU-raster order (my, mx, by, bx);
            # the IDCT runs ONCE over the stack after entropy decode
            "zz": np.zeros((n_blocks, 64), dtype=np.float64),
            "bi": 0,
        })

    segments, _ = _entropy_segments(data, pos)
    reader = _SegReader(segments[0])
    seg_idx = 0
    preds = [0] * len(comp_info)
    mcu_count = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if (restart_interval and mcu_count
                    and mcu_count % restart_interval == 0):
                seg_idx += 1
                if seg_idx >= len(segments):
                    raise ValueError("missing RSTn restart segment")
                reader = _SegReader(segments[seg_idx])
                preds = [0] * len(comp_info)
            for ci, info in enumerate(comp_info):
                dc_sym, dc_ln = info["dc"]
                ac_sym, ac_ln = info["ac"]
                for _ in range(info["vs"] * info["hs"]):
                    row = [0.0] * 64
                    t = reader.read_symbol(dc_sym, dc_ln)
                    if t > 11:
                        raise ValueError("invalid DC category")
                    preds[ci] += _extend(reader.read_bits(t), t)
                    row[0] = float(preds[ci])
                    k = 1
                    while k < 64:
                        rs = reader.read_symbol(ac_sym, ac_ln)
                        r, s = rs >> 4, rs & 0x0F
                        if s == 0:
                            if r == 15:
                                k += 16
                                continue
                            break  # EOB
                        k += r
                        if k > 63:
                            raise ValueError("AC run overflows block")
                        row[k] = float(_extend(reader.read_bits(s), s))
                        k += 1
                    info["zz"][info["bi"]] = row
                    info["bi"] += 1
            mcu_count += 1

    return _reconstruct(h, w, comp_info, mcus_y, mcus_x, max_h, max_v)


def _reconstruct(h, w, comp_info, mcus_y, mcus_x, max_h, max_v):
    """Quantized zigzag blocks → RGB: one batched de-zigzag +
    dequantize + IDCT per component, then upsample chroma to luma
    geometry, crop, color-convert.  Shared by the baseline and
    progressive paths."""
    planes = []
    for info in comp_info:
        hs, vs = info["hs"], info["vs"]
        nat = np.empty_like(info["zz"])
        nat[:, _ZIGZAG] = info["zz"]
        coeffs = nat.reshape(-1, 8, 8) * info["q"]
        blocks = np.einsum(
            "ij,njk,kl->nil", _T.T, coeffs, _T, optimize=True
        ) + 128.0
        p = (
            blocks.reshape(mcus_y, mcus_x, vs, hs, 8, 8)
            .transpose(0, 2, 4, 1, 3, 5)
            .reshape(mcus_y * vs * 8, mcus_x * hs * 8)
        )
        ry, rx = max_v // vs, max_h // hs
        if ry > 1 or rx > 1:
            p = np.repeat(np.repeat(p, ry, axis=0), rx, axis=1)
        planes.append(p[:h, :w])
    if len(planes) == 1:
        g = np.clip(planes[0].round(), 0, 255).astype(np.uint8)
        rgb = np.stack([g, g, g], axis=-1)
    else:
        rgb = _ycbcr_to_rgb(np.stack(planes, axis=-1))
    return w, h, rgb


# ---------------------------------------------------------------------------
# Progressive (SOF2) decoding — T.81 Annex G: spectral selection +
# successive approximation across multiple scans, then one IDCT.
# ---------------------------------------------------------------------------

def _decode_progressive(data, pos, frame, qtables, htables,
                        restart_interval):
    """Drive the remaining marker stream of a progressive JPEG: decode
    every scan into persistent per-component coefficient grids, then
    reconstruct once at EOI."""
    h, w, _ = frame
    comps, max_h, max_v, mcus_y, mcus_x = _mcu_grid(frame, len(data) - pos)
    store = []
    for cid, hs, vs, tq in comps:
        rows, cols = mcus_y * vs, mcus_x * hs
        # full-resolution block dims for non-interleaved (AC) scans:
        # ceil(comp_size / 8) of the component's own sample grid
        cw = -(-(w * hs) // max_h)
        ch = -(-(h * vs) // max_v)
        store.append({
            "cid": cid, "hs": hs, "vs": vs, "tq": tq,
            "rows": rows, "cols": cols,
            "bw": -(-cw // 8), "bh": -(-ch // 8),
            "coef": [[[0] * 64 for _ in range(cols)] for _ in range(rows)],
            "pred": 0, "dc_done": False,
        })

    n = len(data)
    saw_scan = False
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"expected marker at offset {pos}")
        marker = data[pos + 1]
        if marker == 0xFF:
            pos += 1
            continue
        if marker == 0xD9:  # EOI
            break
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if pos + 4 > n:
            raise ValueError("truncated marker segment")
        (seglen,) = struct.unpack_from(">H", data, pos + 2)
        if seglen < 2 or pos + 2 + seglen > n:
            raise ValueError("marker segment overruns data")
        seg = data[pos + 4 : pos + 2 + seglen]
        if marker == 0xC4:  # DHT between scans
            _read_dht(seg, htables)
        elif marker == 0xDD:
            (restart_interval,) = struct.unpack_from(">H", seg, 0)
        elif marker == 0xDA:
            scan_comps = []
            for cs, td, ta in _scan_components(seg):
                comp = next((c for c in store if c["cid"] == cs), None)
                if comp is None:
                    raise ValueError(f"scan references unknown component {cs}")
                scan_comps.append((comp, td, ta))
            ns = len(scan_comps)
            ss, se, ahal = seg[1 + 2 * ns], seg[2 + 2 * ns], seg[3 + 2 * ns]
            ah, al = ahal >> 4, ahal & 0x0F
            if ss > se or se > 63:
                raise ValueError("invalid spectral selection band")
            if ss > 0 and ns != 1:
                raise ValueError("progressive AC scan must be single-component")
            pos = _prog_scan(
                data, pos + 2 + seglen, scan_comps, ss, se, ah, al,
                htables, restart_interval, mcus_y, mcus_x,
            )
            saw_scan = True
            continue
        pos += 2 + seglen
    if not saw_scan:
        raise ValueError("progressive JPEG without any scan")

    comp_info = []
    for c in store:
        if c["tq"] not in qtables:
            raise ValueError(f"missing quantization table {c['tq']}")
        vs, hs = c["vs"], c["hs"]
        # _reconstruct expects MCU-raster block order (my, mx, by, bx),
        # not the coefficient grid's spatial raster
        zz = np.array(
            [c["coef"][my * vs + by][mx * hs + bx]
             for my in range(mcus_y) for mx in range(mcus_x)
             for by in range(vs) for bx in range(hs)],
            dtype=np.float64,
        )
        comp_info.append({"hs": hs, "vs": vs,
                          "q": qtables[c["tq"]], "zz": zz})
    return _reconstruct(h, w, comp_info, mcus_y, mcus_x, max_h, max_v)


def _prog_scan(data, pos, scan_comps, ss, se, ah, al, htables,
               restart_interval, mcus_y, mcus_x):
    """Decode one progressive scan's entropy data into the coefficient
    grids; returns the offset of the terminating marker."""
    segments, endpos = _entropy_segments(data, pos)
    seg_idx = 0
    reader = _SegReader(segments[0])
    state = {"eobrun": 0}
    for comp, _, _ in scan_comps:
        comp["pred"] = 0

    def next_segment():
        nonlocal reader, seg_idx
        seg_idx += 1
        if seg_idx >= len(segments):
            raise ValueError("missing RSTn restart segment")
        reader = _SegReader(segments[seg_idx])
        state["eobrun"] = 0
        for comp, _, _ in scan_comps:
            comp["pred"] = 0

    if ss == 0:  # DC scan (interleaved or single-component)
        tables = []
        for comp, td, _ in scan_comps:
            if ah == 0:
                t = htables.get(0x00 | td)
                if t is None:
                    raise ValueError("missing DC Huffman table")
                tables.append(t)
            else:
                tables.append(None)  # refinement reads raw bits only
        def dc_block(comp, tab, coef):
            if ah == 0:
                t = reader.read_symbol(*tab)
                if t > 11:
                    raise ValueError("invalid DC category")
                comp["pred"] += _extend(reader.read_bits(t), t)
                coef[0] = comp["pred"] << al
            else:
                if reader.read_bits(1):
                    coef[0] |= 1 << al

        unit = 0
        if len(scan_comps) == 1:
            # T.81 non-interleaved scan: the COMPONENT's own block
            # raster (bh x bw), NOT the frame MCU grid — they differ
            # whenever the component's sampling factor exceeds 1
            comp, _, _ = scan_comps[0]
            tab = tables[0]
            for r_blk in range(comp["bh"]):
                for c_blk in range(comp["bw"]):
                    if (restart_interval and unit
                            and unit % restart_interval == 0):
                        next_segment()
                    dc_block(comp, tab, comp["coef"][r_blk][c_blk])
                    unit += 1
            return endpos
        for my in range(mcus_y):
            for mx in range(mcus_x):
                if (restart_interval and unit
                        and unit % restart_interval == 0):
                    next_segment()
                for (comp, _, _), tab in zip(scan_comps, tables):
                    vs, hs = comp["vs"], comp["hs"]
                    for by in range(vs):
                        for bx in range(hs):
                            dc_block(comp, tab,
                                     comp["coef"][my * vs + by][mx * hs + bx])
                unit += 1
        return endpos

    # AC scan: single component, full-resolution block raster
    comp, _, ta = scan_comps[0]
    ac = htables.get(0x10 | ta)
    if ah == 0 and ac is None:
        raise ValueError("missing AC Huffman table")
    p1 = 1 << al
    m1 = -p1
    unit = 0
    for r_blk in range(comp["bh"]):
        for c_blk in range(comp["bw"]):
            if restart_interval and unit and unit % restart_interval == 0:
                next_segment()
            coef = comp["coef"][r_blk][c_blk]
            if ah == 0:
                _ac_first(reader, ac, coef, ss, se, al, state)
            else:
                if ac is None:
                    raise ValueError("missing AC Huffman table")
                _ac_refine(reader, ac, coef, ss, se, p1, m1, state)
            unit += 1
    return endpos


def _ac_first(reader, ac, coef, ss, se, al, state):
    """T.81 G.1.2.2: first AC pass of a band (Ah == 0)."""
    if state["eobrun"] > 0:
        state["eobrun"] -= 1
        return
    sym, ln = ac
    k = ss
    while k <= se:
        rs = reader.read_symbol(sym, ln)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r == 15:
                k += 16
                continue
            state["eobrun"] = (1 << r) - 1
            if r:
                state["eobrun"] += reader.read_bits(r)
            break
        k += r
        if k > se:
            raise ValueError("AC run overflows spectral band")
        coef[k] = _extend(reader.read_bits(s), s) << al
        k += 1


def _ac_refine(reader, ac, coef, ss, se, p1, m1, state):
    """T.81 G.1.2.3: successive-approximation AC refinement (Ah > 0):
    new ±1-magnitude coefficients appear at this bit position while
    already-nonzero coefficients receive correction bits."""
    sym, ln = ac

    def correct(k):
        if reader.read_bits(1):
            if coef[k] > 0 and not (coef[k] & p1):
                coef[k] += p1
            elif coef[k] < 0 and not (-coef[k] & p1):
                coef[k] += m1

    k = ss
    if state["eobrun"] > 0:
        state["eobrun"] -= 1
        for kk in range(ss, se + 1):
            if coef[kk]:
                correct(kk)
        return
    while k <= se:
        rs = reader.read_symbol(sym, ln)
        r, s = rs >> 4, rs & 0x0F
        val = 0
        if s == 0:
            if r != 15:
                state["eobrun"] = (1 << r) - 1
                if r:
                    state["eobrun"] += reader.read_bits(r)
                for kk in range(k, se + 1):
                    if coef[kk]:
                        correct(kk)
                return
            # r == 15: skip 16 zero-history positions
        elif s == 1:
            val = p1 if reader.read_bits(1) else m1
        else:
            raise ValueError("invalid refinement magnitude")
        while k <= se:
            if coef[k]:
                correct(k)
            else:
                if r == 0:
                    break
                r -= 1
            k += 1
        if val and k <= se:
            coef[k] = val
        k += 1


# ---------------------------------------------------------------------------
# Progressive encoder — exists so the progressive decoder can be tested
# against known source pixels without any image library in the container.
# Spectral-selection scans always; successive approximation optional.
# ---------------------------------------------------------------------------

# an AC Huffman table containing ALL 256 (run, size) symbols, so EOBn
# (n ≥ 1) codes are emittable (the Annex K baseline tables lack them):
# 254 symbols at length 8 + 2 at length 9 (Kraft sum 0.996 < 1)
_AC_PROG = (
    [0, 0, 0, 0, 0, 0, 0, 254, 2, 0, 0, 0, 0, 0, 0, 0],
    list(range(256)),
)


def _zz_grid(plane: np.ndarray, q: np.ndarray):
    """Plane → (grid[nby][nbx] of 64-int zigzag lists, nby, nbx)."""
    blocks, nby, nbx = _block_split(plane)
    grid = []
    for yb in range(nby):
        row = []
        for xb in range(nbx):
            coeffs = _T @ (blocks[yb, xb].astype(np.float64) - 128.0) @ _T.T
            zz = np.round(coeffs / q).astype(np.int64).flatten()[_ZIGZAG]
            row.append([int(v) for v in zz])
        grid.append(row)
    return grid, nby, nbx


def _sos_header(comps_tdta: list[tuple[int, int]], ss: int, se: int,
                ah: int, al: int) -> bytes:
    sos = bytes([len(comps_tdta)])
    for cid, tdta in comps_tdta:
        sos += bytes([cid, tdta])
    sos += bytes([ss, se, (ah << 4) | al])
    return b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos


def _emit_ac_first(writer, coef_iter, ss, se, al, ac_codes):
    """First (Ah=0) pass over a band: baseline RLE + cross-block
    EOBRUN batching (flushed at 0x7FFF and scan end)."""
    eobrun = 0

    def flush():
        nonlocal eobrun
        if eobrun == 0:
            return
        r = eobrun.bit_length() - 1
        c, ln = ac_codes[r << 4]
        writer.write(c, ln)
        if r:
            writer.write(eobrun - (1 << r), r)
        eobrun = 0

    for coef in coef_iter:
        vals = [
            (v >> al if v >= 0 else -((-v) >> al)) for v in coef[ss:se + 1]
        ]
        nz = [i for i, v in enumerate(vals) if v]
        if not nz:
            eobrun += 1
            if eobrun == 0x7FFF:
                flush()
            continue
        flush()
        run = 0
        last = nz[-1]
        for i in range(last + 1):
            v = vals[i]
            if v == 0:
                run += 1
                continue
            _write_ac(writer, ac_codes, run, v)
            run = 0
        if last < se - ss:
            eobrun += 1
    flush()


def _emit_ac_refine(writer, coef_iter, ss, se, al, ac_codes):
    """Refinement (Ah = al+1 → Al = al) pass: newly-significant ±1
    symbols with positionally-exact correction-bit interleaving (the
    order the decoder's span walk consumes them in), plus EOBRUN with
    trailing-correction buffering."""
    eobrun = 0
    eob_bits: list[int] = []

    def flush():
        nonlocal eobrun, eob_bits
        if eobrun:
            r = eobrun.bit_length() - 1
            c, ln = ac_codes[r << 4]
            writer.write(c, ln)
            if r:
                writer.write(eobrun - (1 << r), r)
            eobrun = 0
        for b in eob_bits:
            writer.write(b, 1)
        eob_bits = []

    for coef in coef_iter:
        newly = [k for k in range(ss, se + 1) if abs(coef[k]) >> al == 1]
        if not newly:
            had = False
            for k in range(ss, se + 1):
                if abs(coef[k]) >> (al + 1):
                    eob_bits.append((abs(coef[k]) >> al) & 1)
                    had = True
            eobrun += 1
            if eobrun == 0x7FFF:
                flush()
            continue
        flush()
        # span items since last symbol: 'z' (zero-history slot) or a
        # correction bit for an already-significant coefficient
        span: list = []
        for k in range(ss, se + 1):
            mag_prev = abs(coef[k]) >> (al + 1)
            if mag_prev:
                span.append(("c", (abs(coef[k]) >> al) & 1))
            elif abs(coef[k]) >> al == 1:
                # emit ZRLs positionally: each consumes exactly 16 'z'
                # slots and the corrections interleaved BEFORE its
                # 16th slot (the decoder's walk order)
                while sum(1 for it in span if it == "z") > 15:
                    c, ln = ac_codes[0xF0]
                    writer.write(c, ln)
                    zseen = 0
                    rest = []
                    for idx, it in enumerate(span):
                        if it == "z":
                            zseen += 1
                            if zseen == 16:
                                rest = span[idx + 1:]
                                break
                        else:
                            writer.write(it[1], 1)
                    span = rest
                r = sum(1 for it in span if it == "z")
                c, ln = ac_codes[(r << 4) | 1]
                writer.write(c, ln)
                writer.write(1 if coef[k] > 0 else 0, 1)
                for it in span:
                    if it != "z":
                        writer.write(it[1], 1)
                span = []
            else:
                span.append("z")
        trailing = [it[1] for it in span if it != "z"]
        if span:
            eobrun += 1
            eob_bits.extend(trailing)
    flush()


def encode_jpeg_progressive(
    pixels,
    quality: int = 90,
    subsample: bool = False,
    successive: bool = True,
    dc_separate: bool = False,
) -> bytes:
    """HxWx3 uint8 RGB (or HxW gray) → progressive (SOF2) JFIF bytes.

    Scan script: interleaved DC, then per-component AC bands 1-5 and
    6-63 (spectral selection).  ``successive=True`` encodes all of that
    at Al=1 and appends DC + AC refinement scans (Ah=1 → Al=0), so the
    decoder's successive-approximation paths are exercised end-to-end.
    """
    out, planes, qs, comps = _encode_front(
        pixels, quality, subsample, b"\xff\xc2",
        ((0x00, _DC_LUMA), (0x10, _AC_PROG), (0x01, _DC_CHROMA)),
    )
    gray = len(planes) == 1
    ncomp = len(comps)
    al = 1 if successive else 0

    grids = [_zz_grid(p, q) for p, q in zip(planes, qs)]
    dc_codes = [_build_codes(*_DC_LUMA)] + \
        [_build_codes(*_DC_CHROMA)] * (0 if gray else 2)
    ac_codes = _build_codes(*_AC_PROG)

    if gray or not subsample:
        mcus_y, mcus_x = grids[0][1], grids[0][2]
        samp_of = [(1, 1)] * ncomp
    else:
        mcus_y = -(-grids[0][1] // 2)
        mcus_x = -(-grids[0][2] // 2)
        samp_of = [(2, 2), (1, 1), (1, 1)]

    def mcu_blocks(ci):
        grid, nby, nbx = grids[ci]
        chs, cvs = samp_of[ci]
        for my in range(mcus_y):
            for mx in range(mcus_x):
                for by in range(cvs):
                    for bx in range(chs):
                        yield grid[min(my * cvs + by, nby - 1)][
                            min(mx * chs + bx, nbx - 1)]

    def raster_blocks(ci):
        grid, nby, nbx = grids[ci]
        for yb in range(nby):
            for xb in range(nbx):
                yield grid[yb][xb]

    def emit_dc(writer, ci, coef, preds):
        v = coef[0] >> al
        _write_dc(writer, dc_codes[ci], v - preds[ci])
        preds[ci] = v

    if dc_separate:
        # one non-interleaved DC scan per component: T.81 block order
        # is the component's OWN raster, not the frame MCU grid
        for ci in range(ncomp):
            out += _sos_header(
                [(comps[ci][0], (0x00 if ci == 0 else 0x01) << 4)],
                0, 0, 0, al)
            writer = _BitWriter()
            preds = [0] * ncomp
            for coef in raster_blocks(ci):
                emit_dc(writer, ci, coef, preds)
            writer.pad_to_byte()
            out += writer.out
    else:
        # scan 1: interleaved DC first pass at Al (frame MCU order)
        out += _sos_header(
            [(comps[ci][0], (0x00 if ci == 0 else 0x01) << 4)
             for ci in range(ncomp)], 0, 0, 0, al)
        writer = _BitWriter()
        preds = [0] * ncomp
        iters = [mcu_blocks(ci) for ci in range(ncomp)]
        for my in range(mcus_y):
            for mx in range(mcus_x):
                for ci in range(ncomp):
                    chs, cvs = samp_of[ci]
                    for _ in range(chs * cvs):
                        emit_dc(writer, ci, next(iters[ci]), preds)
        writer.pad_to_byte()
        out += writer.out

    # per-component AC first passes, two spectral bands
    for ci in range(ncomp):
        for ss, se in ((1, 5), (6, 63)):
            out += _sos_header([(comps[ci][0], 0x00)], ss, se, 0, al)
            writer = _BitWriter()
            _emit_ac_first(writer, raster_blocks(ci), ss, se, al, ac_codes)
            writer.pad_to_byte()
            out += writer.out

    if successive:
        # DC refinement: one raw bit per block, interleaved MCU order
        out += _sos_header(
            [(comps[ci][0], 0x00) for ci in range(ncomp)], 0, 0, 1, 0)
        writer = _BitWriter()
        iters = [mcu_blocks(ci) for ci in range(ncomp)]
        for my in range(mcus_y):
            for mx in range(mcus_x):
                for ci in range(ncomp):
                    chs, cvs = samp_of[ci]
                    for _ in range(chs * cvs):
                        writer.write(next(iters[ci])[0] & 1, 1)
        writer.pad_to_byte()
        out += writer.out
        # AC refinement per component per band
        for ci in range(ncomp):
            for ss, se in ((1, 5), (6, 63)):
                out += _sos_header([(comps[ci][0], 0x00)], ss, se, 1, 0)
                writer = _BitWriter()
                _emit_ac_refine(writer, raster_blocks(ci), ss, se, 0,
                                ac_codes)
                writer.pad_to_byte()
                out += writer.out

    out += b"\xff\xd9"
    return bytes(out)
