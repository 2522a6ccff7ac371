"""Deterministic OCR kernel: glyph-template matching over scanned
page images (pure numpy, from scratch).

The reference OCRs scanned PDFs through Marker when ``force_ocr`` is
set (``converters/extraction_converter.py:111-114`` →
``converters/pdf_to_md.py:159``); this engine triages such files
``needs_ocr`` and surfaces their page images through the media bridge.
This module closes the loop: a from-scratch optical recognizer for the
fixed-pitch matrix-font set (A-Z a-z 0-9 + punctuation,
case-preserving), built on classic template correlation —

1. **Binarize** (fixed mid-gray threshold; pages are near-bilevel
   scans by construction).
2. **Line segmentation** by horizontal projection profile: contiguous
   ink-bearing row bands are text lines; band height estimates the
   glyph scale (band ≈ 7·scale rows for the 5x7 atlas).
3. **Grid-phase estimation** per line: the renderer is fixed-pitch
   (advance 6·scale), so the inter-cell gap columns carry minimal ink;
   the phase minimizing gap-column ink locates the cell grid without
   assuming margins.
4. **Template classification** per cell: block-mean downsample to 5x7,
   L2 distance against every atlas glyph over ±1 px jitter shifts
   (JPEG ringing moves edges), nearest template wins, deterministic
   tie-break by atlas order.
5. **Confidence gate**: cells whose best match is still far (mean
   squared error above ``_REJECT_MSE``) count as unrecognized; a page
   whose reject rate exceeds ``_MAX_REJECT_FRAC`` yields no text —
   photographs and noise must not transcribe as garbage letters.

The atlas is a from-scratch 5x7 monospace bitmap font (the classic
LED/LCD-matrix letterforms, public shapes) covering A-Z a-z 0-9 and
common punctuation; ``render_text`` rasterizes with it, so fixture ground
truth is knowable exactly and the whole loop (render → this repo's
JPEG encoder → PDF → triage → decode → OCR) is bit-deterministic.

Scale notes: the kernel is pure per-image numpy — it runs inside the
same ``mapInArrow`` row maps (``schema.map_rows``) as the codecs
(narrow, zero shuffle, one image per call), so an OCR fleet is just more
executors.
"""

from __future__ import annotations

import numpy as np

GLYPH_H = 7
GLYPH_W = 5
ADVANCE = 6  # 5 ink columns + 1 gap column, in glyph units
LINE_PITCH = 10  # rows from one line top to the next, in glyph units

# 5x7 matrix letterforms: 7 row masks per glyph, bit 4 = leftmost
# column.  Atlas ORDER is the deterministic tie-break order.
_FONT: list[tuple[str, tuple[int, ...]]] = [
    ("A", (0x0E, 0x11, 0x11, 0x1F, 0x11, 0x11, 0x11)),
    ("B", (0x1E, 0x11, 0x11, 0x1E, 0x11, 0x11, 0x1E)),
    ("C", (0x0E, 0x11, 0x10, 0x10, 0x10, 0x11, 0x0E)),
    ("D", (0x1C, 0x12, 0x11, 0x11, 0x11, 0x12, 0x1C)),
    ("E", (0x1F, 0x10, 0x10, 0x1E, 0x10, 0x10, 0x1F)),
    ("F", (0x1F, 0x10, 0x10, 0x1E, 0x10, 0x10, 0x10)),
    ("G", (0x0E, 0x11, 0x10, 0x17, 0x11, 0x11, 0x0F)),
    ("H", (0x11, 0x11, 0x11, 0x1F, 0x11, 0x11, 0x11)),
    ("I", (0x0E, 0x04, 0x04, 0x04, 0x04, 0x04, 0x0E)),
    ("J", (0x07, 0x02, 0x02, 0x02, 0x02, 0x12, 0x0C)),
    ("K", (0x11, 0x12, 0x14, 0x18, 0x14, 0x12, 0x11)),
    ("L", (0x10, 0x10, 0x10, 0x10, 0x10, 0x10, 0x1F)),
    ("M", (0x11, 0x1B, 0x15, 0x15, 0x11, 0x11, 0x11)),
    ("N", (0x11, 0x11, 0x19, 0x15, 0x13, 0x11, 0x11)),
    ("O", (0x0E, 0x11, 0x11, 0x11, 0x11, 0x11, 0x0E)),
    ("P", (0x1E, 0x11, 0x11, 0x1E, 0x10, 0x10, 0x10)),
    ("Q", (0x0E, 0x11, 0x11, 0x11, 0x15, 0x12, 0x0D)),
    ("R", (0x1E, 0x11, 0x11, 0x1E, 0x14, 0x12, 0x11)),
    ("S", (0x0F, 0x10, 0x10, 0x0E, 0x01, 0x01, 0x1E)),
    ("T", (0x1F, 0x04, 0x04, 0x04, 0x04, 0x04, 0x04)),
    ("U", (0x11, 0x11, 0x11, 0x11, 0x11, 0x11, 0x0E)),
    ("V", (0x11, 0x11, 0x11, 0x11, 0x11, 0x0A, 0x04)),
    ("W", (0x11, 0x11, 0x11, 0x15, 0x15, 0x15, 0x0A)),
    ("X", (0x11, 0x11, 0x0A, 0x04, 0x0A, 0x11, 0x11)),
    ("Y", (0x11, 0x11, 0x11, 0x0A, 0x04, 0x04, 0x04)),
    ("Z", (0x1F, 0x01, 0x02, 0x04, 0x08, 0x10, 0x1F)),
    ("0", (0x0E, 0x11, 0x13, 0x15, 0x19, 0x11, 0x0E)),
    ("1", (0x04, 0x0C, 0x04, 0x04, 0x04, 0x04, 0x0E)),
    ("2", (0x0E, 0x11, 0x01, 0x02, 0x04, 0x08, 0x1F)),
    ("3", (0x1F, 0x02, 0x04, 0x02, 0x01, 0x11, 0x0E)),
    ("4", (0x02, 0x06, 0x0A, 0x12, 0x1F, 0x02, 0x02)),
    ("5", (0x1F, 0x10, 0x1E, 0x01, 0x01, 0x11, 0x0E)),
    ("6", (0x06, 0x08, 0x10, 0x1E, 0x11, 0x11, 0x0E)),
    ("7", (0x1F, 0x01, 0x02, 0x04, 0x08, 0x08, 0x08)),
    ("8", (0x0E, 0x11, 0x11, 0x0E, 0x11, 0x11, 0x0E)),
    ("9", (0x0E, 0x11, 0x11, 0x0F, 0x01, 0x02, 0x0C)),
    (".", (0x00, 0x00, 0x00, 0x00, 0x00, 0x0C, 0x0C)),
    (",", (0x00, 0x00, 0x00, 0x00, 0x0C, 0x04, 0x08)),
    (":", (0x00, 0x0C, 0x0C, 0x00, 0x0C, 0x0C, 0x00)),
    (";", (0x00, 0x0C, 0x0C, 0x00, 0x0C, 0x04, 0x08)),
    ("!", (0x04, 0x04, 0x04, 0x04, 0x04, 0x00, 0x04)),
    ("?", (0x0E, 0x11, 0x01, 0x02, 0x04, 0x00, 0x04)),
    ("'", (0x0C, 0x04, 0x08, 0x00, 0x00, 0x00, 0x00)),
    ('"', (0x0A, 0x0A, 0x0A, 0x00, 0x00, 0x00, 0x00)),
    ("-", (0x00, 0x00, 0x00, 0x1F, 0x00, 0x00, 0x00)),
    ("(", (0x02, 0x04, 0x08, 0x08, 0x08, 0x04, 0x02)),
    (")", (0x08, 0x04, 0x02, 0x02, 0x02, 0x04, 0x08)),
    ("/", (0x01, 0x01, 0x02, 0x04, 0x08, 0x10, 0x10)),
    ("&", (0x0C, 0x12, 0x14, 0x08, 0x15, 0x12, 0x0D)),
    ("+", (0x00, 0x04, 0x04, 0x1F, 0x04, 0x04, 0x00)),
    ("=", (0x00, 0x00, 0x1F, 0x00, 0x1F, 0x00, 0x00)),
    ("%", (0x19, 0x19, 0x02, 0x04, 0x08, 0x13, 0x13)),
    ("$", (0x04, 0x0F, 0x14, 0x0E, 0x05, 0x1E, 0x04)),
    ("*", (0x00, 0x15, 0x0E, 0x1F, 0x0E, 0x15, 0x00)),
    # lowercase (classic LED x-height forms, descenders compressed into
    # the 7-row cell).  Closest cross-case pair is 'I'/'l' at 1 px
    # (MSE 0.029); recognition stays exact because the TRUE glyph at
    # the true grid position scores ~0 while any rival carries at least
    # that 1-px floor — verified by the mixed-case JPEG round-trip
    # sweep in tests/test_ocr.py (scales 1-3 × q75-92 incl. "Ill1l").
    ("a", (0x00, 0x00, 0x0E, 0x01, 0x0F, 0x11, 0x0F)),
    ("b", (0x10, 0x10, 0x16, 0x19, 0x11, 0x11, 0x1E)),
    ("c", (0x00, 0x00, 0x0E, 0x10, 0x10, 0x11, 0x0E)),
    ("d", (0x01, 0x01, 0x0D, 0x13, 0x11, 0x11, 0x0F)),
    ("e", (0x00, 0x00, 0x0E, 0x11, 0x1F, 0x10, 0x0E)),
    ("f", (0x06, 0x09, 0x08, 0x1C, 0x08, 0x08, 0x08)),
    ("g", (0x00, 0x00, 0x0F, 0x11, 0x0F, 0x01, 0x0E)),
    ("h", (0x10, 0x10, 0x16, 0x19, 0x11, 0x11, 0x11)),
    ("i", (0x04, 0x00, 0x0C, 0x04, 0x04, 0x04, 0x0E)),
    ("j", (0x02, 0x00, 0x06, 0x02, 0x02, 0x12, 0x0C)),
    ("k", (0x10, 0x10, 0x12, 0x14, 0x18, 0x14, 0x12)),
    ("l", (0x0C, 0x04, 0x04, 0x04, 0x04, 0x04, 0x0E)),
    ("m", (0x00, 0x00, 0x1A, 0x15, 0x15, 0x11, 0x11)),
    ("n", (0x00, 0x00, 0x16, 0x19, 0x11, 0x11, 0x11)),
    ("o", (0x00, 0x00, 0x0E, 0x11, 0x11, 0x11, 0x0E)),
    ("p", (0x00, 0x00, 0x1E, 0x11, 0x1E, 0x10, 0x10)),
    ("q", (0x00, 0x00, 0x0D, 0x13, 0x0F, 0x01, 0x01)),
    ("r", (0x00, 0x00, 0x16, 0x19, 0x10, 0x10, 0x10)),
    ("s", (0x00, 0x00, 0x0E, 0x10, 0x0E, 0x01, 0x1E)),
    ("t", (0x08, 0x08, 0x1C, 0x08, 0x08, 0x09, 0x06)),
    ("u", (0x00, 0x00, 0x11, 0x11, 0x11, 0x13, 0x0D)),
    ("v", (0x00, 0x00, 0x11, 0x11, 0x11, 0x0A, 0x04)),
    ("w", (0x00, 0x00, 0x11, 0x11, 0x15, 0x15, 0x0A)),
    ("x", (0x00, 0x00, 0x11, 0x0A, 0x04, 0x0A, 0x11)),
    ("y", (0x00, 0x00, 0x11, 0x11, 0x0F, 0x01, 0x0E)),
    ("z", (0x00, 0x00, 0x1F, 0x02, 0x04, 0x08, 0x1F)),
]
CHARSET = "".join(ch for ch, _ in _FONT)

# cells whose best template still misses by more than this mean squared
# error (on [0,1] ink intensity) are unrecognized; calibrated so crisp
# and JPEG-q85 glyph cells pass with wide margin while photographic /
# noise cells fail (tests/test_ocr.py pins both sides)
_REJECT_MSE = 0.18
# a band where more than this fraction of non-space cells is rejected
# contributes no text — garbage must not transcribe
_MAX_REJECT_FRAC = 0.30
# band-level confidence: a line band whose chosen hypothesis still has
# a mean best-template MSE above this is non-glyph content (photo strip
# inside an otherwise-textual scan) and is dropped wholesale.  Measured
# margins: crisp/JPEG-q75 text bands score <= 0.0008 even at scale 1;
# noise bands that happen to classify without rejects score >= 0.17
# (tests/test_ocr.py pins both sides)
_BAND_REJECT_MSE = 0.02


def _glyph_array(rows: tuple[int, ...]) -> np.ndarray:
    g = np.zeros((GLYPH_H, GLYPH_W), dtype=np.float32)
    for y, mask in enumerate(rows):
        for x in range(GLYPH_W):
            if mask & (1 << (GLYPH_W - 1 - x)):
                g[y, x] = 1.0
    return g


_TEMPLATES = np.stack([_glyph_array(rows) for _, rows in _FONT])


def render_text(lines: list[str], scale: int = 2,
                margin: int | None = None) -> np.ndarray:
    """Rasterize lines with the atlas → HxW uint8 grayscale page
    (255 background, 0 ink).  Case-preserving; characters outside
    the atlas render as spaces.  The fixture ground truth is therefore
    exactly ``[render_normalize(l) for l in lines]``."""
    if scale < 1:
        raise ValueError("render_text scale must be >= 1")
    lines = [render_normalize(line) for line in lines]
    if margin is None:
        margin = 6 * scale
    width = max((len(line) for line in lines), default=0)
    h = 2 * margin + max(len(lines) * LINE_PITCH - (LINE_PITCH - GLYPH_H),
                         GLYPH_H) * scale
    w = 2 * margin + max(width * ADVANCE - 1, GLYPH_W) * scale
    page = np.full((h, w), 255, dtype=np.uint8)
    by_char = dict(_FONT)
    for ln, line in enumerate(lines):
        top = margin + ln * LINE_PITCH * scale
        for k, ch in enumerate(line):
            rows = by_char.get(ch)
            if rows is None:
                continue
            left = margin + k * ADVANCE * scale
            glyph = _glyph_array(rows) > 0
            ink = np.kron(glyph, np.ones((scale, scale), dtype=bool))
            region = page[top:top + GLYPH_H * scale,
                          left:left + GLYPH_W * scale]
            region[ink] = 0
    return page


def render_normalize(line: str) -> str:
    """The text a rendered line round-trips to: case-preserving,
    atlas-only (anything else becomes a space), trailing spaces
    stripped."""
    return "".join(
        ch if (ch == " " or ch in CHARSET) else " " for ch in line
    ).rstrip()


def _bands(ink_rows: np.ndarray) -> list[tuple[int, int]]:
    """Contiguous True runs of the row-projection → (top, bottom)."""
    out = []
    top = None
    for y, has in enumerate(ink_rows):
        if has and top is None:
            top = y
        elif not has and top is not None:
            out.append((top, y))
            top = None
    if top is not None:
        out.append((top, len(ink_rows)))
    return out


def _classify_cells(gray: np.ndarray, top: int, x0: int, n_cells: int,
                    scale: int) -> tuple[list[str], int, int, float]:
    """Classify the fixed-pitch cells of one line → (per-cell chars,
    n_ink_cells, n_rejects, summed best-MSE over ink cells).  ``gray``
    is float ink intensity in [0,1]; rejected and empty cells classify
    as ``" "``."""
    h, w = gray.shape
    gh, gw = GLYPH_H * scale, GLYPH_W * scale
    chars: list[str] = []
    n_ink = 0
    n_reject = 0
    mse_sum = 0.0
    for k in range(n_cells):
        x = x0 + k * ADVANCE * scale
        best = None  # (mse, atlas_idx)
        has_ink = False
        for dy in (-1, 0, 1):
            for dx in (-1, 0, 1):
                y0, x0k = top + dy, x + dx
                if y0 < 0 or x0k < 0 or y0 + gh > h or x0k + gw > w:
                    continue
                cell = gray[y0:y0 + gh, x0k:x0k + gw]
                if dy == 0 and dx == 0:
                    has_ink = bool((cell > 0.5).any())
                small = cell.reshape(GLYPH_H, scale, GLYPH_W, scale
                                     ).mean(axis=(1, 3))
                mses = ((small[None, :, :] - _TEMPLATES) ** 2
                        ).mean(axis=(1, 2))
                idx = int(np.argmin(mses))
                cand = (float(mses[idx]), idx)
                if best is None or cand < best:
                    best = cand
        if not has_ink:
            chars.append(" ")
            continue
        n_ink += 1
        mse_sum += best[0] if best is not None else 1.0
        if best is None or best[0] > _REJECT_MSE:
            n_reject += 1
            chars.append(" ")
        else:
            chars.append(_FONT[best[1]][0])
    return chars, n_ink, n_reject, mse_sum


def _grid_phase(ink: np.ndarray, c0: int, c1: int, scale: int) -> int:
    """Estimate the cell-grid x origin on [c0-adv, c0]: the phase whose
    gap columns (the last ``scale`` of every ``6·scale``) carry the
    least ink wins; ties break toward the largest origin (tightest
    fit against the first ink column)."""
    adv = ADVANCE * scale
    col_ink = ink.sum(axis=0).astype(np.int64)
    best = None  # (gap_ink, -origin)
    for origin in range(max(c0 - adv + 1, 0), c0 + 1):
        gap = 0
        x = origin + GLYPH_W * scale
        while x < min(c1 + 1, ink.shape[1]):
            gap += int(col_ink[x:x + scale].sum())
            x += adv
        cand = (gap, -origin)
        if best is None or cand < best:
            best = cand
    return -best[1] if best is not None else c0


# a blank pixel-column run of at least this many glyph-advance widths
# inside one line band splits it into separate segments, each with its
# OWN grid phase (two pasted columns need not share cell alignment):
# word gaps blank about (6k+1)·scale px for k space cells, so 2.5
# advances sits between 1-space word gaps and 3-space column gutters
_SEG_SPLIT_ADVANCES = 2.5


def _col_runs(colmask: np.ndarray, gap_px: int) -> list[tuple[int, int]]:
    """Inclusive (c0, c1) ink-column runs of one band, merging runs
    separated by blank gaps smaller than ``gap_px``."""
    cols = np.flatnonzero(colmask)
    if cols.size == 0:
        return []
    runs: list[tuple[int, int]] = []
    c0 = prev = int(cols[0])
    for c in cols[1:].tolist():
        if c - prev >= gap_px:
            runs.append((c0, prev))
            c0 = c
        prev = c
    runs.append((c0, prev))
    return runs


def _scan_page(img: np.ndarray) -> tuple[list[dict], int, int]:
    """Scanned page → (segment records, total_ink_cells, total_rejects).

    A record is ``{"top", "bot", "scale", "x0", "cells"}`` — the line
    band's pixel rows, estimated glyph scale, the segment's grid-origin
    pixel column, and its raw per-cell classification (spaces for
    empty/rejected cells).  One band yields one record per
    gutter-separated segment, left to right."""
    a = np.asarray(img)
    if a.ndim == 3:
        a = a.mean(axis=2)
    gray = (255.0 - a.astype(np.float32)) / 255.0  # ink intensity
    ink = gray > 0.5
    img_h = gray.shape[0]
    records: list[dict] = []
    total_ink = 0
    total_reject = 0
    for top, bot in _bands(ink.any(axis=1)):
        band = ink[top:bot]
        # the ink band under-measures the glyph cell when a line has no
        # full-height characters: an all-x-height line ("gamma") spans
        # only rows 2-6 of its cells.  Try both hypotheses — full-height
        # (scale = h/7, cell top = ink top) and x-height-only
        # (scale = h/5, cell top 2 glyph rows above the ink) — and keep
        # the one whose ink cells match the atlas best (mean MSE; the
        # true alignment scores near 0, a mis-scaled grid does not).
        h_px = bot - top
        hyps = [(max(1, round(h_px / GLYPH_H)), top)]
        s_x = max(1, round(h_px / 5))
        if (s_x, top - 2 * s_x) != hyps[0] and top - 2 * s_x >= -1:
            hyps.append((s_x, top - 2 * s_x))
        best = None  # (mean_mse, -scale, records, ink, reject)
        for scale, y0 in hyps:
            if best is not None and best[0] < 0.02:
                break  # first hypothesis already a clean match

            gap_px = int(_SEG_SPLIT_ADVANCES * ADVANCE * scale)
            recs: list[dict] = []
            ink_n = reject_n = 0
            mse_total = 0.0
            for c0, c1 in _col_runs(band.any(axis=0), gap_px):
                x0 = _grid_phase(band, c0, c1, scale)
                n_cells = max(1, -(-(c1 + 1 - x0) // (ADVANCE * scale)))
                cells, n_ink, n_reject, mse_sum = _classify_cells(
                    gray, y0, x0, n_cells, scale)
                ink_n += n_ink
                reject_n += n_reject
                mse_total += mse_sum
                recs.append({
                    "top": max(y0, 0),
                    "bot": min(y0 + GLYPH_H * scale, img_h),
                    "scale": scale, "x0": x0, "cells": cells,
                })
            mean_mse = mse_total / ink_n if ink_n else float("inf")
            cand = (round(mean_mse, 6), -scale, recs, ink_n, reject_n)
            if best is None or cand[:2] < best[:2]:
                best = cand
        mean_mse, _, recs, ink_n, reject_n = best
        # band-level gate: a band with no confident glyph content (photo
        # strip, noise region) contributes nothing — the rest of the
        # page still extracts (mixed scans keep their text)
        if (
            ink_n == 0
            or reject_n > _MAX_REJECT_FRAC * ink_n
            or mean_mse > _BAND_REJECT_MSE
        ):
            continue
        records.extend(recs)
        total_ink += ink_n
        total_reject += reject_n
    return records, total_ink, total_reject


def _page_rejected(total_ink: int, total_reject: int) -> bool:
    # per-band gates already dropped unconfident bands; a page is
    # rejected when nothing survived them
    return total_ink == 0 or total_reject > _MAX_REJECT_FRAC * total_ink


def ocr_image(img: np.ndarray) -> str:
    """Scanned page (HxW gray or HxWx3 RGB uint8) → recognized text,
    lines joined with newlines.  Same-band segments rejoin with their
    pixel-distance-derived space count, so a single-grid page
    round-trips exactly.  Pages with no recognizable glyph content
    (photographs, noise) return the empty string."""
    records, total_ink, total_reject = _scan_page(img)
    if _page_rejected(total_ink, total_reject):
        return ""
    lines: list[str] = []
    cur_band = None
    for r in records:
        adv = ADVANCE * r["scale"]
        if (r["top"], r["bot"]) != cur_band:
            cur_band = (r["top"], r["bot"])
            lines.append("")
            band_x0 = r["x0"]
            band_cells = 0
        else:
            k_start = round((r["x0"] - band_x0) / adv)
            lines[-1] += " " * max(k_start - band_cells, 1)
            band_cells = max(k_start, band_cells + 1)
        lines[-1] += "".join(r["cells"])
        band_cells += len(r["cells"])
    return "\n".join(line.strip() for line in lines).strip("\n")


def ocr_page_segments(img: np.ndarray) -> list[dict]:
    """Scanned page → text segments with pixel geometry, for layout
    reconstruction.  A segment is ``{"top", "bot", "x0", "x1", "scale",
    "text"}`` in pixel coordinates (top-down rows, x1 exclusive);
    column gutters split segments (see ``_SEG_SPLIT_ADVANCES``).
    Rejected pages (photographs, noise) return ``[]``."""
    records, total_ink, total_reject = _scan_page(img)
    if _page_rejected(total_ink, total_reject):
        return []
    segments: list[dict] = []
    for r in records:
        text = "".join(r["cells"]).strip()
        if not text:
            continue
        scale = r["scale"]
        adv = ADVANCE * scale
        segments.append({
            "top": r["top"], "bot": r["bot"],
            "x0": r["x0"],
            "x1": r["x0"] + (len(r["cells"]) - 1) * adv + GLYPH_W * scale,
            "scale": scale,
            "text": text,
        })
    return segments


# paragraph grouping: consecutive segments whose vertical gap is at most
# this many scale units join into one block (the renderer's inter-line
# gap is LINE_PITCH - GLYPH_H = 3; a blank source line yields 13)
_PARA_GAP_UNITS = 5


def ocr_page_blocks(img: np.ndarray) -> list[dict]:
    """Scanned page → paragraph-grouped layout blocks.

    Vertically adjacent segments of the same glyph scale whose x-ranges
    overlap merge into one block (texts joined with single spaces) —
    re-creating the page's paragraph/column structure so the downstream
    layout kernel (kernels/pdf_extract.py) can run its usual
    reading-order sort and font-size-quantile heading classification
    over OCR output exactly as over born-digital PDFs.  Returns
    ``{"top", "bot", "x0", "x1", "scale", "text"}`` blocks in pixel
    coordinates; ``[]`` for rejected pages."""
    blocks: list[dict] = []  # closed + open groups, top-down
    open_blocks: list[dict] = []
    for seg in ocr_page_segments(img):
        still_open = []
        matched = None
        for blk in open_blocks:
            gap = seg["top"] - blk["bot"]
            if gap > _PARA_GAP_UNITS * blk["scale"]:
                continue  # fell out of reach: closed (already in blocks)
            still_open.append(blk)
            if (
                matched is None
                and blk["scale"] == seg["scale"]
                and seg["x0"] < blk["x1"] and blk["x0"] < seg["x1"]
            ):
                matched = blk
        open_blocks = still_open
        if matched is None:
            blk = dict(seg)
            blocks.append(blk)
            open_blocks.append(blk)
        else:
            matched["bot"] = seg["bot"]
            matched["x0"] = min(matched["x0"], seg["x0"])
            matched["x1"] = max(matched["x1"], seg["x1"])
            matched["text"] += " " + seg["text"]
    return blocks
