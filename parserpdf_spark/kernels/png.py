"""PNG codec from scratch (stdlib zlib + numpy, public PNG spec / RFC
2083).

Closes the image-stub gap for the web's dominant lossless format: docx
media parts and HTML figures are overwhelmingly PNG, and the reference
hands them to PIL (``utils/file_utils.py:562-626``).  Lossless, so
round-trips are EXACT — the strongest correctness check a codec can
have.

- **decode_png**: 8- and 16-bit depth (16-bit keeps the high byte),
  color types 0 (gray), 2 (RGB), 3 (indexed + PLTE), 4 (gray+alpha),
  6 (RGBA); all five row filters (None/Sub/Up/Average/Paeth — the same
  family the PDF kernel's stream-predictor reverser implements); Adam7
  interlacing (seven independently-filtered sub-images scattered back);
  tRNS transparency (palette alpha and gray/RGB color keys); multiple
  IDAT chunks; CRC checked per chunk.  Alpha composites over white
  (the feature stage wants opaque RGB); bit-packed depths 1/2/4 raise
  (honest subset).
- **encode_png**: color type 2 (RGB) or 0 (gray), filter-None rows,
  one IDAT — minimal but fully valid output with correct CRCs.

Outside-subset and malformed inputs raise ValueError only — the
keep-with-status contract upstream.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIG = b"\x89PNG\r\n\x1a\n"

# bytes per pixel before filtering, by color type (8-bit depth)
_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _chunk(tag: bytes, body: bytes) -> bytes:
    return (struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF))


def encode_png(pixels) -> bytes:
    """HxWx3 uint8 RGB (or HxW gray) → PNG bytes (filter-None rows)."""
    arr = np.asarray(pixels, dtype=np.uint8)
    gray = arr.ndim == 2
    if not gray and (arr.ndim != 3 or arr.shape[2] != 3):
        raise ValueError("encode_png expects HxWx3 RGB or HxW gray")
    h, w = arr.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("degenerate image dimensions")
    color_type = 0 if gray else 2
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    raw = bytearray()
    flat = arr.reshape(h, -1)
    for y in range(h):
        raw.append(0)  # filter None
        raw += flat[y].tobytes()
    return (_SIG + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(bytes(raw)))
            + _chunk(b"IEND", b""))


def unfilter_row(tag: int, row: bytearray, prev: bytearray, bpp: int) -> bool:
    """Reverse one PNG row filter (None/Sub/Up/Average/Paeth) in place:
    ``prev`` is the reconstructed row above (zeros for the first) and
    ``bpp`` the bytes per pixel.  False for an unknown filter tag; each
    caller words its own error."""
    if tag == 1:  # Sub
        for i in range(bpp, len(row)):
            row[i] = (row[i] + row[i - bpp]) & 0xFF
    elif tag == 2:  # Up
        for i in range(len(row)):
            row[i] = (row[i] + prev[i]) & 0xFF
    elif tag == 3:  # Average
        for i in range(len(row)):
            left = row[i - bpp] if i >= bpp else 0
            row[i] = (row[i] + ((left + prev[i]) >> 1)) & 0xFF
    elif tag == 4:  # Paeth
        for i in range(len(row)):
            a = row[i - bpp] if i >= bpp else 0
            b = prev[i]
            c = prev[i - bpp] if i >= bpp else 0
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            row[i] = (row[i] + pred) & 0xFF
    elif tag:
        return False
    return True


def _unfilter(data: bytes, h: int, w: int, bpp: int) -> np.ndarray:
    """Reverse per-row filters → (h, w*bpp) uint8 samples."""
    stride = w * bpp
    if len(data) < h * (stride + 1):
        raise ValueError("truncated PNG image data")
    out = bytearray()
    prev = bytearray(stride)
    for pos in range(0, h * (stride + 1), stride + 1):
        row = bytearray(data[pos + 1 : pos + 1 + stride])
        if not unfilter_row(data[pos], row, prev, bpp):
            raise ValueError(f"unknown PNG row filter {data[pos]}")
        out += row
        prev = row
    return np.frombuffer(out, dtype=np.uint8).reshape(h, stride)


def decode_png(payload: bytes):
    """PNG bytes → (width, height, HxWx3 uint8 RGB array).

    Alpha (channels or tRNS) composites over white; indexed images
    resolve through PLTE; grayscale expands to 3 equal channels; Adam7
    deinterlaces; 16-bit depth keeps the high byte.  Raises ValueError
    outside the subset (bit-packed depths, malformed chunks, bad
    CRCs)."""
    data = bytes(payload)
    if len(data) < 8 or data[:8] != _SIG:
        raise ValueError("not a PNG (missing signature)")
    pos = 8
    ihdr = None
    plte = None
    trns = None
    idat = bytearray()
    seen_iend = False
    while pos + 8 <= len(data):
        (length,) = struct.unpack_from(">I", data, pos)
        tag = data[pos + 4 : pos + 8]
        if pos + 12 + length > len(data):
            raise ValueError("truncated PNG chunk")
        body = data[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack_from(">I", data, pos + 8 + length)
        if zlib.crc32(tag + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {tag!r} CRC mismatch")
        if tag == b"IHDR":
            if length != 13:
                raise ValueError("bad IHDR length")
            ihdr = struct.unpack(">IIBBBBB", body)
        elif tag == b"PLTE":
            if length % 3:
                raise ValueError("bad PLTE length")
            plte = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif tag == b"IDAT":
            idat += body
        elif tag == b"tRNS":
            trns = body
        elif tag == b"IEND":
            seen_iend = True
            break
        # other ancillary chunks (tEXt, gAMA, pHYs…) are skipped
        pos += 12 + length
    if ihdr is None:
        raise ValueError("PNG without IHDR")
    if not seen_iend:
        raise ValueError("PNG without IEND (truncated)")
    w, h, depth, color_type, comp, filt, interlace = ihdr
    if w == 0 or h == 0 or w > 1 << 20 or h > 1 << 20 or w * h > 1 << 26:
        raise ValueError("degenerate or implausible PNG dimensions")
    if depth not in (8, 16):
        raise ValueError(
            f"PNG bit depth {depth} outside the 8/16-bit subset")
    if color_type not in _CHANNELS:
        raise ValueError(f"unknown PNG color type {color_type}")
    if depth == 16 and color_type == 3:
        raise ValueError("16-bit indexed PNG is not a valid combination")
    if comp != 0 or filt != 0:
        raise ValueError("unknown PNG compression/filter method")
    if interlace not in (0, 1):
        raise ValueError(f"unknown PNG interlace method {interlace}")
    if not idat:
        raise ValueError("PNG without IDAT data")
    nch = _CHANNELS[color_type]
    bypp = nch * (2 if depth == 16 else 1)
    # bounded inflate: a PNG bomb (tiny IDAT → huge plaintext) must not
    # allocate past the filtered-image size implied by the header.
    # Adam7 partitions the pixels but adds one filter byte per sub-image
    # row (≤ 1.875·h + 7 rows total across the seven passes).
    limit = h * w * bypp + (2 * h + 16 if interlace else h) + 8
    try:
        d = zlib.decompressobj()
        raw = d.decompress(bytes(idat), limit)
        if d.decompress(b"", 1):
            raise ValueError("PNG IDAT inflates past the image size")
    except zlib.error as exc:
        raise ValueError(f"broken PNG IDAT stream: {exc}") from exc

    if interlace == 0:
        pix = _unfilter(raw, h, w, bypp).reshape(h, w, bypp)
    else:  # Adam7: seven independently-filtered sub-images, scattered
        pix = np.zeros((h, w, bypp), dtype=np.uint8)
        passes = [(0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
                  (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2)]
        at = 0
        for x0, y0, xs, ys in passes:
            pw = (w - x0 + xs - 1) // xs
            ph = (h - y0 + ys - 1) // ys
            if pw <= 0 or ph <= 0:
                continue
            need = ph * (pw * bypp + 1)
            sub = _unfilter(raw[at:at + need], ph, pw, bypp)
            at += need
            pix[y0::ys, x0::xs] = sub.reshape(ph, pw, bypp)

    if depth == 16:  # big-endian samples: keep the high byte for output,
        # FULL precision for tRNS color-key comparison (high-byte-only
        # matching would whiten up to 256^3 non-transparent colors)
        full = pix.reshape(h, w, nch, 2)
        samples = full[..., 0]
        samples16 = (full[..., 0].astype(np.uint16) << 8) | full[..., 1]
    else:
        samples = pix
        samples16 = pix.astype(np.uint16)

    if color_type == 2:
        rgb = samples.reshape(h, w, 3)
        if trns is not None and len(trns) >= 6:
            key = np.frombuffer(trns[:6], dtype=">u2").astype(np.uint16)
            if depth != 16:
                key = key & 0xFF
            mask = (samples16.reshape(h, w, 3) == key).all(axis=-1)
            rgb = rgb.copy()
            rgb[mask] = 255  # transparent key → white background
    elif color_type == 0:
        g = samples.reshape(h, w)
        if trns is not None and len(trns) >= 2:
            (key,) = struct.unpack(">H", trns[:2])
            if depth != 16:
                key = key & 0xFF
            g = g.copy()
            g[samples16.reshape(h, w) == key] = 255
        rgb = np.stack([g, g, g], axis=-1)
    elif color_type == 3:
        if plte is None:
            raise ValueError("indexed PNG without PLTE")
        idx = samples.reshape(h, w)
        if int(idx.max(initial=0)) >= len(plte):
            raise ValueError("PNG palette index out of range")
        if trns is not None:
            alpha = np.full(len(plte), 255, dtype=np.float64)
            alpha[: min(len(trns), len(plte))] = np.frombuffer(
                trns[: len(plte)], dtype=np.uint8)
            a = (alpha[idx] / 255.0)[..., None]
            rgb = np.clip(
                (plte[idx] * a + 255.0 * (1 - a)).round(), 0, 255
            ).astype(np.uint8)
        else:
            rgb = plte[idx]
    elif color_type == 4:
        ga = samples.reshape(h, w, 2).astype(np.float64)
        g = ga[..., 0] * (ga[..., 1] / 255.0) + 255.0 * (1 - ga[..., 1] / 255.0)
        g8 = np.clip(g.round(), 0, 255).astype(np.uint8)
        rgb = np.stack([g8, g8, g8], axis=-1)
    else:  # 6: RGBA over white
        rgba = samples.reshape(h, w, 4).astype(np.float64)
        a = rgba[..., 3:4] / 255.0
        rgb = np.clip((rgba[..., :3] * a + 255.0 * (1 - a)).round(),
                      0, 255).astype(np.uint8)
    return w, h, rgb
