"""Multimodal column plumbing: binary payloads + typed metadata, with
decode / feature-extract / frame-sample stages as Arrow-batched UDFs.

Decode tiers:

- **Real decode for uncompressed formats**: a from-scratch BMP
  codec (``encode_bmp``/``decode_bmp``, stdlib struct + numpy — 24/32-bit
  BI_RGB, 8-bit palette, BI_RLE8) backs
  ``decode_features_real``, which computes genuine per-image pixel
  statistics (mean channel values, brightness) over Arrow batches.
- **Real decode for JPEG, PNG, and GIF**: the dominant web image
  formats decode through from-scratch codecs (kernels/jpeg.py — ITU
  T.81 baseline + progressive; kernels/png.py — zlib + the five row
  filters, indexed/alpha/interlace; kernels/gif.py — LSB-first LZW,
  animation frames); ``decode_image_auto`` magic-dispatches
  BMP/JPEG/PNG/GIF payloads and ``decode_frames_auto`` AVI/GIF, so the
  /DCTDecode bytes the PDF kernel surfaces and the docx ``word/media``
  parts yield genuine pixel features.

The reference handles media as PIL images written to per-doc dirs
(``utils/file_utils.py:562-626``); here payloads are opaque ``binary``
columns with metadata structs, the relational shape that scales.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from parserpdf_spark.schema import map_rows

MEDIA_DDL = (
    "doc_id string, media_ref string, payload binary, "
    "n_bytes int, magic string"
)


# ---------------------------------------------------------------------------
# Real decode tier: from-scratch 24-bit BMP codec (stdlib + numpy)
# ---------------------------------------------------------------------------

def encode_bmp(pixels) -> bytes:
    """HxWx3 uint8 RGB array → 24-bit BI_RGB .bmp bytes (bottom-up BGR
    rows, 4-byte row padding — the classic Windows 3.x layout)."""
    import struct

    import numpy as np

    arr = np.asarray(pixels, dtype=np.uint8)
    if arr.ndim != 3 or arr.shape[2] != 3:
        raise ValueError("encode_bmp expects an HxWx3 RGB array")
    h, w, _ = arr.shape
    row_len = (w * 3 + 3) & ~3
    body = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up
        row = arr[y, :, ::-1].tobytes()  # RGB → BGR
        body += row + b"\x00" * (row_len - len(row))
    pixel_off = 14 + 40
    size = pixel_off + len(body)
    header = struct.pack("<2sIHHI", b"BM", size, 0, 0, pixel_off)
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0
    )
    return header + info + bytes(body)


def decode_bmp(payload: bytes):
    """BMP bytes → (width, height, HxWx3 uint8 RGB array): 24-bit and
    32-bit BI_RGB (alpha byte dropped), 8-bit palette, and BI_RLE8.

    Raises ValueError outside that subset (1/4-bit, BI_RLE4, bitfield
    compressions, truncated data) — the keep-with-status wrapper in
    :func:`decode_features_real` converts that to a per-row status,
    never a task failure."""
    import struct

    import numpy as np

    data = bytes(payload)
    if len(data) < 54 or data[:2] != b"BM":
        raise ValueError("not a BMP (missing BM magic)")
    (pixel_off,) = struct.unpack_from("<I", data, 10)
    header_size, w, h, _planes, bpp, compression = struct.unpack_from(
        "<IiiHHI", data, 14
    )
    if header_size < 40 or bpp not in (8, 24, 32) or compression not in (0, 1):
        raise ValueError(
            f"unsupported BMP (header {header_size}, {bpp}bpp, "
            f"compression {compression}) — 8/24/32-bit BI_RGB or "
            "8-bit BI_RLE8 only"
        )
    if compression == 1 and bpp != 8:
        raise ValueError("BI_RLE8 requires 8bpp")
    top_down = h < 0
    h = abs(h)
    if w <= 0 or h <= 0 or w * h > 1 << 26:
        raise ValueError("degenerate or implausible BMP dimensions")
    palette = None
    if bpp == 8:
        # color table sits between the info header and the pixels
        (n_colors,) = struct.unpack_from("<I", data, 14 + 32)
        n_colors = n_colors or 256
        pal_at = 14 + header_size
        if pal_at + 4 * n_colors > len(data):
            raise ValueError("truncated BMP color table")
        palette = np.frombuffer(
            data, dtype=np.uint8, count=4 * n_colors, offset=pal_at
        ).reshape(-1, 4)[:, :3][:, ::-1]  # BGRX → RGB
    if compression == 1:  # RLE8
        idx = _bmp_rle8(data[pixel_off:], w, h)
        if int(idx.max(initial=0)) >= len(palette):
            raise ValueError("BMP palette index out of range")
        rows = palette[idx]
        if not top_down:
            rows = rows[::-1]
        return w, h, np.ascontiguousarray(rows)
    nch = bpp // 8
    row_len = (w * nch + 3) & ~3
    need = pixel_off + row_len * h
    if len(data) < need:
        raise ValueError("truncated BMP pixel data")
    rows = np.frombuffer(
        data, dtype=np.uint8, count=row_len * h, offset=pixel_off
    ).reshape(h, row_len)[:, : w * nch].reshape(h, w, nch)
    if not top_down:
        rows = rows[::-1]
    if bpp == 8:
        if int(rows.max(initial=0)) >= len(palette):
            raise ValueError("BMP palette index out of range")
        return w, h, np.ascontiguousarray(palette[rows[:, :, 0]])
    return w, h, np.ascontiguousarray(rows[:, :, 2::-1])  # BGR(A) → RGB


def _bmp_rle8(data: bytes, w: int, h: int):
    """BI_RLE8 → (h, w) index array (bottom-up row order, as stored)."""
    import numpy as np

    out = np.zeros((h, w), dtype=np.uint8)
    x = y = 0
    i = 0
    n = len(data)
    while i + 1 < n:
        a, b = data[i], data[i + 1]
        i += 2
        if a > 0:  # run
            end = min(x + a, w)
            if y < h:
                out[y, x:end] = b
            x = end
        elif b == 0:  # end of line
            x, y = 0, y + 1
        elif b == 1:  # end of bitmap
            return out
        elif b == 2:  # delta
            if i + 2 > n:
                raise ValueError("truncated BMP RLE delta")
            x = min(x + data[i], w)
            y += data[i + 1]
            i += 2
        else:  # absolute mode: b literal indices, word-aligned
            if i + b > n:
                raise ValueError("truncated BMP RLE literal run")
            end = min(x + b, w)
            if y < h:
                out[y, x:end] = np.frombuffer(
                    data, dtype=np.uint8, count=end - x, offset=i)
            x = end
            i += b + (b & 1)
        if y > h:
            raise ValueError("BMP RLE overruns image height")
    raise ValueError("BMP RLE without end-of-bitmap marker")


def _attach_media(docs: DataFrame, ref_fmt: str, make_payload) -> DataFrame:
    """Shared deterministic-payload generator: one media row per doc,
    payload = make_payload(doc_id) — the scaffolding the BMP, JPEG and
    AVI payload attachers share."""

    def row(doc_id):
        payload = make_payload(int(doc_id))
        return ({"doc_id": str(doc_id),
                 "media_ref": ref_fmt.format(doc_id=doc_id),
                 "payload": payload, "n_bytes": len(payload),
                 "magic": payload[:4].hex().upper()},)

    return map_rows(docs, ["doc_id"], row, MEDIA_DDL)


def bmp_payload(nid: int) -> bytes:
    """Deterministic REAL image bytes for one doc id: a small 24-bit
    BMP with PCG64-seeded pixels — same bytes every run, every engine.
    Module-level so the golden generator reuses the EXACT producer."""
    import numpy as np

    rng = np.random.default_rng(nid)
    w, h = 16 + nid % 17, 12 + nid % 11
    return encode_bmp(rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8))


def attach_bmp_payloads(docs: DataFrame) -> DataFrame:
    """Deterministic REAL images: one small 24-bit BMP per doc."""
    return _attach_media(docs, "img_{doc_id}.bmp", bmp_payload)


def jpeg_source_pixels(nid: int):
    """The known source pixels of :func:`attach_jpeg_payloads`' image
    for one doc — exposed so oracles can recompute features from the
    ORIGINAL pixels, independent of the decoder under test.  Smooth
    gradients (not noise) keep decode error ≈ rounding, so a
    decoded-vs-source tolerance is a meaningful correctness check."""
    import numpy as np

    w, h = 24 + nid % 13, 16 + nid % 9
    yy, xx = np.mgrid[0:h, 0:w]
    r = (xx * 255) // max(w - 1, 1)
    g = (yy * 255) // max(h - 1, 1)
    b = ((xx + yy) * 255) // max(w + h - 2, 1)
    return np.stack([r, g, b], axis=-1).astype(np.uint8)


def jpeg_payload(nid: int, quality: int = 92, subsample: bool = False) -> bytes:
    """Deterministic REAL baseline-JPEG bytes for one doc id
    (kernels/jpeg.py encoder over :func:`jpeg_source_pixels`)."""
    from parserpdf_spark.kernels.jpeg import encode_jpeg_baseline

    return encode_jpeg_baseline(
        jpeg_source_pixels(nid), quality=quality, subsample=subsample
    )


def attach_jpeg_payloads(docs: DataFrame, quality: int = 92,
                         subsample: bool = False) -> DataFrame:
    """Deterministic REAL JPEGs: one baseline JFIF image per doc — the
    compressed-format twin of :func:`attach_bmp_payloads`."""

    def make(nid: int) -> bytes:
        return jpeg_payload(nid, quality=quality, subsample=subsample)

    return _attach_media(docs, "img_{doc_id}.jpg", make)


def decode_image_auto(payload: bytes):
    """Magic-dispatched real image decode: BMP (``BM``), baseline JPEG
    (``FF D8``), or PNG (``89 50 4E 47``) → (width, height, HxWx3 uint8
    RGB).  Raises ValueError outside the subsets."""
    data = bytes(payload)
    if data[:2] == b"BM":
        return decode_bmp(data)
    if data[:2] == b"\xff\xd8":
        from parserpdf_spark.kernels.jpeg import decode_jpeg_baseline

        return decode_jpeg_baseline(data)
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        from parserpdf_spark.kernels.png import decode_png

        return decode_png(data)
    if data[:6] in (b"GIF87a", b"GIF89a"):
        from parserpdf_spark.kernels.gif import decode_gif

        w, h, frames = decode_gif(data, max_frames=1)
        return w, h, frames[0]
    if data[:4] in (b"II*\x00", b"MM\x00*"):
        from parserpdf_spark.kernels.tiff import decode_tiff

        return decode_tiff(data)
    raise ValueError(
        "unrecognized image magic (not BMP, JPEG, PNG, GIF, or TIFF)")


def decode_features_real(media: DataFrame) -> DataFrame:
    """REAL decode + feature extraction: BMP or baseline-JPEG payloads
    (kernels/jpeg.py, from-scratch T.81) → dimensions and per-channel
    pixel statistics, keep-with-status per row (a payload outside the
    codec subsets yields decode_ok=false + nulls, never a task
    failure)."""

    def row(doc_id, media_ref, payload):
        out = {"doc_id": doc_id, "media_ref": media_ref, "decode_ok": False}
        try:
            w, h, arr = decode_image_auto(bytes(payload))
            means = arr.reshape(-1, 3).mean(axis=0)
        except ValueError:
            return (out,)
        out.update(
            decode_ok=True, width=w, height=h,
            mean_r=round(float(means[0]), 6),
            mean_g=round(float(means[1]), 6),
            mean_b=round(float(means[2]), 6),
            brightness_millis=int(float(means.mean()) * 1000 / 255),
        )
        return (out,)

    return map_rows(
        media, ["doc_id", "media_ref", "payload"], row,
        "doc_id string, media_ref string, decode_ok boolean, width int, "
        "height int, mean_r double, mean_g double, mean_b double, "
        "brightness_millis long",
    )


def ocr_from_media(media: DataFrame) -> DataFrame:
    """Text-in-images over a (doc_id, media_ref, payload) table: decode
    any supported image format (magic dispatch) and run the
    deterministic glyph-template recognizer (kernels/ocr.py) — the
    training-pipeline "extract text from figures/screenshots" operator,
    composing the codec fleet with the OCR tier.

    Keep-with-status per row: ``ocr_status`` is ``"ok"`` (text
    recognized, in ``ocr_text``), ``"no_text"`` (decoded fine but the
    confidence gate found no glyph content — photographs must not
    transcribe), or ``"decode_error"``.  Same narrow row map as the
    feature stages — zero shuffle."""
    from parserpdf_spark.kernels.ocr import ocr_image

    def row(doc_id, media_ref, payload):
        try:
            _, _, arr = decode_image_auto(bytes(payload))
        except ValueError:
            return ({"doc_id": doc_id, "media_ref": media_ref,
                     "ocr_status": "decode_error"},)
        text = ocr_image(arr)
        return ({"doc_id": doc_id, "media_ref": media_ref,
                 "ocr_status": "ok" if text else "no_text",
                 "ocr_text": text or None},)

    return map_rows(
        media, ["doc_id", "media_ref", "payload"], row,
        "doc_id string, media_ref string, ocr_status string, ocr_text string",
    )


# ---------------------------------------------------------------------------
# Real decode tier, video: minimal uncompressed AVI (RIFF) frame container
# ---------------------------------------------------------------------------

def encode_avi_frames(frames, width: int, height: int) -> bytes:
    """List of HxWx3 uint8 RGB frames → minimal 10 fps RIFF/AVI bytes
    with raw BGR '00db' frame chunks inside the 'movi' LIST (the
    uncompressed DIB layout; just enough structure for the frame
    sampler)."""
    import struct

    import numpy as np

    chunks = b""
    for fr in frames:
        arr = np.asarray(fr, dtype=np.uint8)
        if arr.shape != (height, width, 3):
            raise ValueError("frame shape mismatch")
        raw = arr[::-1, :, ::-1].tobytes()  # bottom-up BGR like DIB
        chunks += struct.pack("<4sI", b"00db", len(raw)) + raw
        if len(raw) % 2:
            chunks += b"\x00"
    movi = b"LIST" + struct.pack("<I", 4 + len(chunks)) + b"movi" + chunks
    # avih main header: us/frame, 0, 0, flags, total frames, 0, streams,
    # 0, width, height + 4 reserved
    avih = struct.pack(
        "<4sI14I", b"avih", 56, 1_000_000 // 10, 0, 0, 0, len(frames),
        0, 1, 0, width, height, 0, 0, 0, 0,
    )
    hdrl = b"LIST" + struct.pack("<I", 4 + len(avih)) + b"hdrl" + avih
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_avi_frames(payload: bytes):
    """Minimal AVI bytes → (width, height, [HxWx3 uint8 RGB frames]).

    Walks the RIFF tree for the avih header (dimensions) and the movi
    LIST's '00db' raw-DIB chunks; anything else raises ValueError."""
    import struct

    import numpy as np

    data = bytes(payload)
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not an AVI (missing RIFF/AVI header)")
    width = height = None
    frames: list = []

    def walk(pos: int, end: int, depth: int = 0) -> None:
        nonlocal width, height
        if depth > 32:
            raise ValueError("AVI LIST nesting too deep")
        while pos + 8 <= end:
            cid, size = struct.unpack_from("<4sI", data, pos)
            body_start = pos + 8
            if body_start + size > end:
                raise ValueError("truncated AVI chunk")
            if cid == b"LIST":
                if size < 4:
                    raise ValueError("truncated LIST chunk")
                walk(body_start + 4, body_start + size, depth + 1)
            elif cid == b"avih":
                if size < 56:
                    raise ValueError("truncated avih header")
                vals = struct.unpack_from("<14I", data, body_start)
                width, height = vals[8], vals[9]
                if width <= 0 or height <= 0:
                    raise ValueError("degenerate AVI dimensions")
            elif cid == b"00db":
                if width is None or height is None:
                    raise ValueError("frame chunk before avih header")
                need = width * height * 3
                if size < need:
                    raise ValueError("truncated raw frame")
                arr = np.frombuffer(
                    data, dtype=np.uint8, count=need, offset=body_start
                ).reshape(height, width, 3)
                frames.append(arr[::-1, :, ::-1])  # → top-down RGB
            pos = body_start + size + (size & 1)

    walk(12, len(data))
    if width is None or not frames:
        raise ValueError("AVI without avih/frames")
    return width, height, frames


def avi_payload(nid: int) -> bytes:
    """Deterministic REAL video bytes for one doc id: a few-frame
    uncompressed AVI (seeded PCG64 frames) — byte-stable every run."""
    import numpy as np

    rng = np.random.default_rng(nid + 2 * 10**9)
    w, h = 8 + nid % 5, 6 + nid % 3
    frames = [
        rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        for _ in range(3 + nid % 4)
    ]
    return encode_avi_frames(frames, w, h)


def attach_avi_payloads(docs: DataFrame) -> DataFrame:
    """Deterministic REAL video: a few-frame uncompressed AVI per doc."""
    return _attach_media(docs, "vid_{doc_id}.avi", avi_payload)


def png_payload(nid: int) -> bytes:
    """Deterministic REAL PNG bytes (lossless, PCG64-seeded pixels)."""
    import numpy as np

    from parserpdf_spark.kernels.png import encode_png

    rng = np.random.default_rng(nid + 3 * 10**9)
    w, h = 12 + nid % 11, 10 + nid % 7
    return encode_png(rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8))


def gif_payload(nid: int) -> bytes:
    """Deterministic REAL GIF bytes (seeded palette + index frame)."""
    import numpy as np

    from parserpdf_spark.kernels.gif import encode_gif

    rng = np.random.default_rng(nid + 4 * 10**9)
    pal = rng.integers(0, 256, size=(8, 3), dtype=np.uint8)
    w, h = 10 + nid % 9, 8 + nid % 6
    idx = rng.integers(0, 8, size=(h, w), dtype=np.uint8)
    return encode_gif([idx], pal, interlace=nid % 2 == 0)


def tiff_payload(nid: int) -> bytes:
    """Deterministic REAL TIFF bytes (LZW strips, seeded pixels)."""
    import numpy as np

    from parserpdf_spark.kernels.tiff import encode_tiff

    rng = np.random.default_rng(nid + 5 * 10**9)
    w, h = 11 + nid % 8, 9 + nid % 5
    return encode_tiff(
        rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8),
        compression=5, rows_per_strip=4,
    )


def corrupt_image_payload(nid: int) -> bytes:
    """A deterministically-truncated JPEG — exercises the
    decode_ok=false keep-with-status arm of the real decode tier."""
    return jpeg_payload(nid)[: 24 + nid % 40]


def animated_gif_payload(nid: int) -> bytes:
    """Deterministic animated GIF (2-5 frames) for the frame-sampling
    tier — the GIF twin of :func:`avi_payload`."""
    import numpy as np

    from parserpdf_spark.kernels.gif import encode_gif

    rng = np.random.default_rng(nid + 6 * 10**9)
    pal = rng.integers(0, 256, size=(16, 3), dtype=np.uint8)
    w, h = 8 + nid % 5, 6 + nid % 3
    frames = [rng.integers(0, 16, size=(h, w), dtype=np.uint8)
              for _ in range(2 + nid % 4)]
    return encode_gif(frames, pal)


def corrupt_avi_payload(nid: int) -> bytes:
    """A deterministically-truncated AVI for the frame-sampling arm."""
    return avi_payload(nid)[: 16 + nid % 24]


def decode_frames_auto(payload: bytes):
    """Magic-dispatched multi-frame decode: raw-frame AVI or animated
    GIF → (width, height, [frames])."""
    data = bytes(payload)
    if data[:4] == b"RIFF":
        return decode_avi_frames(data)
    if data[:6] in (b"GIF87a", b"GIF89a"):
        from parserpdf_spark.kernels.gif import decode_gif

        return decode_gif(data)
    raise ValueError("unrecognized video magic (not AVI or GIF)")


def frame_sample_real(media: DataFrame) -> DataFrame:
    """REAL frame sampling: decode AVI or animated-GIF payloads and
    emit every 2nd frame with genuine per-frame statistics — a
    row-expanding row map over real pixels; keep-with-status (a corrupt
    payload yields one decode_ok=false row)."""

    def rows(doc_id, media_ref, payload):
        try:
            _, _, frames = decode_frames_auto(bytes(payload))
        except ValueError:
            return ({"doc_id": doc_id, "media_ref": media_ref,
                     "decode_ok": False},)
        return (
            {"doc_id": doc_id, "media_ref": media_ref, "decode_ok": True,
             "frame_no": i, "mean_brightness_millis":
                 int(float(frames[i].mean()) * 1000 / 255)}
            for i in range(0, len(frames), 2)
        )

    return map_rows(
        media, ["doc_id", "media_ref", "payload"], rows,
        "doc_id string, media_ref string, decode_ok boolean, frame_no int, "
        "mean_brightness_millis long",
    )
