"""GIF decoder from scratch (stdlib only, public GIF87a/89a spec).

Animated GIFs are everywhere in web corpora; the reference hands them
to PIL (``utils/file_utils.py:562-626``).  LZW is fully algorithmic
(no historical code tables to transcribe), so unlike CCITT this format
is honestly implementable in-container:

- **decode_gif**: logical screen + global/local color tables, LSB-first
  variable-width LZW (clear/end codes, 12-bit cap, deferred-clear
  tolerant), interlaced images (4-pass row shuffle), transparency via
  Graphic Control Extension (transparent index composites over white),
  frame disposal ignored (frames decode independently against the
  screen).  Returns (width, height, [HxWx3 uint8 RGB frame, ...]).
- **encode_gif**: minimal valid writer (global palette, one or more
  full-frame images, optional interlace) for round-trip testing with
  known pixels.

Malformed input raises ValueError only — the keep-with-status contract.
"""

from __future__ import annotations

import struct

import numpy as np


def _lzw_decode_gif(data: bytes, min_code_size: int, max_pixels: int) -> list[int]:
    """GIF-flavor LZW: LSB-first bit packing, growing code width,
    clear/end codes, 4096-entry cap."""
    if not 2 <= min_code_size <= 11:
        raise ValueError(f"bad GIF LZW minimum code size {min_code_size}")
    clear = 1 << min_code_size
    end = clear + 1

    def fresh_table() -> list[list[int]]:
        return [[i] for i in range(clear)] + [[], []]

    table = fresh_table()
    width = min_code_size + 1
    out: list[int] = []
    prev: list[int] | None = None
    acc = 0
    nbits = 0
    pos = 0
    n = len(data)
    while True:
        while nbits < width:
            if pos >= n:
                # missing end code: tolerate if the image is complete
                if len(out) >= max_pixels:
                    return out
                raise ValueError("truncated GIF LZW stream")
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = fresh_table()
            width = min_code_size + 1
            prev = None
            continue
        if code == end:
            return out
        if prev is None:
            if code >= len(table):
                raise ValueError("GIF LZW first code out of table")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
        elif code == len(table):
            entry = prev + prev[:1]  # the KwKwK case
        else:
            raise ValueError("GIF LZW code out of range")
        out.extend(entry)
        if len(out) > max_pixels + 4096:
            raise ValueError("GIF LZW output overruns image size")
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry


def decode_gif(payload: bytes, max_frames: int = 64):
    """GIF bytes → (width, height, [HxWx3 uint8 RGB frames]).

    Malformed input raises ValueError only (keep-with-status)."""
    try:
        return _decode_gif(bytes(payload), max_frames)
    except (IndexError, struct.error) as exc:
        raise ValueError(f"malformed GIF structure: {exc}") from exc


def _color_table(data: bytes, pos: int, flags: int, scope: str):
    """The colour table at ``pos`` whose size the descriptor ``flags``
    give → (N×3 uint8 palette, offset after it)."""
    size = 2 << (flags & 0x07)
    if pos + 3 * size > len(data):
        raise ValueError(f"truncated {scope} color table")
    table = np.frombuffer(data, dtype=np.uint8, count=3 * size, offset=pos)
    return table.reshape(-1, 3), pos + 3 * size


def _interlace_order(h: int) -> list[int]:
    """Stored row order of an interlaced image: its four passes start at
    rows 0, 4, 2 and 1 and step 8, 8, 4 and 2."""
    return (list(range(0, h, 8)) + list(range(4, h, 8))
            + list(range(2, h, 4)) + list(range(1, h, 2)))


def _decode_gif(data: bytes, max_frames: int):
    if len(data) < 13 or data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF (missing GIF87a/89a signature)")
    w, h = struct.unpack_from("<HH", data, 6)
    if w == 0 or h == 0 or w > 1 << 15 or h > 1 << 15 or w * h > 1 << 26:
        raise ValueError("degenerate or implausible GIF dimensions")
    flags = data[10]
    pos = 13
    global_table = None
    if flags & 0x80:
        global_table, pos = _color_table(data, pos, flags, "global")

    frames: list[np.ndarray] = []
    transparent: int | None = None
    while pos < len(data):
        b = data[pos]
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension
            if pos + 2 > len(data):
                raise ValueError("truncated GIF extension")
            label = data[pos + 1]
            pos += 2
            if (label == 0xF9 and pos + 4 < len(data)
                    and data[pos] >= 4):
                gce_flags = data[pos + 1]
                transparent = (data[pos + 4]
                               if gce_flags & 0x01 else None)
            # skip sub-blocks
            while pos < len(data) and data[pos] != 0:
                pos += 1 + data[pos]
            pos += 1  # block terminator
        elif b == 0x2C:  # image descriptor
            if pos + 10 > len(data):
                raise ValueError("truncated image descriptor")
            ix, iy, iw, ih = struct.unpack_from("<HHHH", data, pos + 1)
            iflags = data[pos + 9]
            pos += 10
            table = global_table
            if iflags & 0x80:
                table, pos = _color_table(data, pos, iflags, "local")
            if table is None:
                raise ValueError("GIF image without any color table")
            if iw == 0 or ih == 0 or ix + iw > w or iy + ih > h:
                raise ValueError("GIF image rectangle outside the screen")
            if pos >= len(data):
                raise ValueError("truncated GIF image data")
            mcs = data[pos]
            pos += 1
            lzw = bytearray()
            while pos < len(data) and data[pos] != 0:
                ln = data[pos]
                lzw += data[pos + 1 : pos + 1 + ln]
                pos += 1 + ln
            pos += 1  # terminator
            idx = _lzw_decode_gif(bytes(lzw), mcs, iw * ih)
            if len(idx) < iw * ih:
                raise ValueError("GIF LZW data shorter than the image")
            arr = np.array(idx[: iw * ih], dtype=np.int32).reshape(ih, iw)
            if iflags & 0x40:  # interlaced: 4-pass row order
                de = np.empty_like(arr)
                de[_interlace_order(ih)] = arr
                arr = de
            if int(arr.max(initial=0)) >= len(table):
                raise ValueError("GIF palette index out of range")
            rgb_frame = table[arr].astype(np.uint8)
            if transparent is not None and transparent < len(table):
                rgb_frame = rgb_frame.copy()
                rgb_frame[arr == transparent] = 255  # over white
            # place the (possibly partial) rectangle on a white screen
            screen = np.full((h, w, 3), 255, dtype=np.uint8)
            screen[iy:iy + ih, ix:ix + iw] = rgb_frame
            frames.append(screen)
            transparent = None
            if len(frames) >= max_frames:
                break
        else:
            raise ValueError(f"unknown GIF block 0x{b:02X}")
    if not frames:
        raise ValueError("GIF without any image frame")
    return w, h, frames


def _lzw_encode_gif(indices: list[int], min_code_size: int) -> bytes:
    """Matching LZW writer (clear at start, end at finish)."""
    clear = 1 << min_code_size
    end = clear + 1
    table: dict[tuple[int, ...], int] = {(i,): i for i in range(clear)}
    next_code = end + 1
    width = min_code_size + 1
    acc = 0
    nbits = 0
    out = bytearray()

    def emit(code: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    emit(clear)
    seq: tuple[int, ...] = ()
    for px in indices:
        cand = seq + (px,)
        if cand in table:
            seq = cand
            continue
        emit(table[seq])
        if next_code < 4096:
            table[cand] = next_code
            if next_code == (1 << width) and width < 12:
                width += 1
            next_code += 1
        else:
            emit(clear)
            table = {(i,): i for i in range(clear)}
            next_code = end + 1
            width = min_code_size + 1
        seq = (px,)
    if seq:
        emit(table[seq])
    emit(end)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def encode_gif(frames, palette, interlace: bool = False) -> bytes:
    """[HxW index arrays] + (N,3) palette → GIF89a bytes."""
    palette = np.asarray(palette, dtype=np.uint8)
    n = len(palette)
    if n < 2 or n > 256:
        raise ValueError("palette must have 2..256 entries")
    bits = max(1, (n - 1).bit_length())
    size = 1 << bits
    first = np.asarray(frames[0])
    h, w = first.shape
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w, h)
    out += bytes([0x80 | (bits - 1), 0, 0])
    pal = np.zeros((size, 3), dtype=np.uint8)
    pal[:n] = palette
    out += pal.tobytes()
    mcs = max(2, bits)
    for fr in frames:
        arr = np.asarray(fr)
        if arr.shape != (h, w):
            raise ValueError("all frames must be full-screen")
        rows = arr
        if interlace:
            rows = arr[_interlace_order(h)]
        out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h)
        out += bytes([0x40 if interlace else 0])
        out += bytes([mcs])
        lzw = _lzw_encode_gif([int(v) for v in rows.flatten()], mcs)
        for i in range(0, len(lzw), 255):
            chunk = lzw[i:i + 255]
            out += bytes([len(chunk)]) + chunk
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)
