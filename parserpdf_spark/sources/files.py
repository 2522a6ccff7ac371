"""Scanned-file-bytes → docs(doc_id, spans) ingestion bridge.

The reference's core use is *path in, markdown out*: ``convert_files``
walks uploaded paths and hands each file to a converter
(``converters/pdf_to_md.py:121-189``, parse call at ``:159``; HTML
collection ``utils/file_utils.py:452-463``).  This module is the Spark
analog: it turns a ``binaryFile`` scan (sources/scans.py, columns
path/content) into the engine's canonical interleaved docs table, so
``scan_files → files_to_docs → extract_docs`` runs end-to-end from a
directory of real files.

Routing (keep-with-status, mirroring the reference's extension gate at
``pdf_to_md.py:214-224`` — no silent drops):

- ``.html``/``.htm``  → decode bytes → one ``kind="html"`` span
- ``.docx``           → stdlib OOXML shim (kernels/docx_extract.py) →
  one ``kind="html"`` span; unparseable files (corrupt zip) become
  ``ingest_status="error"`` rows
- ``.doc``            → legacy Word binaries (OLE2 magic) parse via the
  from-scratch CFB + piece-table kernel (kernels/doc_extract.py, text
  only); outside-subset files become ``ingest_status="error"`` rows
- ``.pdf``            → text-bearing PDFs parse from scratch
  (kernels/pdf_binary.py: object/stream framing, filter chains, width
  tables, Type0/CID CMaps, text operators, image XObjects) into
  ``pdf_block`` spans — embedded images become media-carrying blocks —
  that feed the existing layout kernel.  PDFs outside the built-in
  subset are TRIAGED by why they failed:
  ``ingest_status="encrypted"`` (route to decryption),
  ``"needs_ocr"`` (image-bearing, no text layer — route to an OCR
  fleet), ``"needs_prechunk"`` (a feature gap; spans to be supplied as
  JSON ``{page,bbox,font_size,text}`` blocks by the external
  pre-chunker).
- ``.md``/``.markdown`` → one ``kind="markdown"`` passthrough span (the
  reference collects markdown as-is, ``utils/file_utils.py:465-471``)
- ``.epub``           → OCF/OPF spine walk (kernels/epub_extract.py)
  concatenates the XHTML content documents in reading order into one
  ``kind="html"`` span
- ``.odt``            → OpenDocument shim (kernels/odt_extract.py:
  text:h/text:p/tables/lists from content.xml) → one ``kind="html"``
  span; ``Pictures/*`` payloads ride the media bridge
- ``.rtf``            → from-scratch control-word parser
  (kernels/rtf_extract.py: headings via outlinelevel, tables via
  cell/row marks, cp1252 + unicode escapes) → one ``kind="html"`` span
- anything else       → ``ingest_status="skipped"``

Embedded image PAYLOADS (PDF XObjects, docx media parts) ride a second
narrow bridge, :func:`files_to_media` → (doc_id, media_ref, payload),
feeding the K2 image sink (operators/sinks.export_image_payloads).

Scale shape: one ``schema.map_rows`` pass (a ``mapInArrow``) over Arrow
batches of (path, content) — narrow, zero shuffle, same plan position as
the extraction kernel; the binaryFile scan already splits across
executors per file.  A single file's bytes can't split below the file
(binaryFile semantics), so pathological multi-GB uploads bound per-task
memory — the reference has the same per-file floor;
``maxRecordsPerBatch`` caps docs per Arrow batch, and genuinely huge
corpora should cap upload size at the edge.
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import DataFrame

from parserpdf_spark.kernels.docx_extract import docx_to_html
from parserpdf_spark.kernels.epub_extract import epub_to_html
from parserpdf_spark.kernels.odt_extract import odt_to_html
from parserpdf_spark.kernels.rtf_extract import rtf_to_html
from parserpdf_spark.schema import SPANS_DDL, map_rows

FILES_DOCS_DDL = (
    "doc_id string, src_path string, ingest_status string, "
    f"ingest_error string, spans {SPANS_DDL}"
)


def _span(text: str, kind: str = "html") -> list[dict[str, Any]]:
    return [{"kind": kind, "text": text, "media_ref": None, "offset": 0}]


def _block_spans(blocks: list[dict]) -> list[dict[str, Any]]:
    """One pdf_block span per layout block, in block order: the block as
    JSON, with its media_ref."""
    return [{"kind": "pdf_block", "text": json.dumps(b),
             "media_ref": b.get("media_ref"), "offset": i}
            for i, b in enumerate(blocks)]


# suffix → span kind of the files whose UTF-8 text is the span
_TEXT_KINDS = {".html": "html", ".htm": "html",
               ".md": "markdown", ".markdown": "markdown"}

# suffix → bytes → HTML converter; a ValueError marks the file "error"
_HTML_CONVERTERS = {".epub": epub_to_html, ".odt": odt_to_html,
                    ".rtf": rtf_to_html}


def _path_parts(path: str) -> tuple[str, str]:
    """(doc_id, lowercase suffix incl. dot) — THE doc-id derivation, shared
    by the docs bridge and the media bridge so their rows always join."""
    name = path.rsplit("/", 1)[-1]
    stem, dot, ext = name.rpartition(".")
    suffix = f".{ext.lower()}" if dot else ""
    return (stem if dot else name), suffix


def route_file(path: str, content: bytes) -> dict[str, Any]:
    """Pure-python routing for one scanned file (also used by the golden
    generator, keeping goldens independent of the Spark execution path)."""
    doc_id, suffix = _path_parts(path)
    row = {
        "doc_id": doc_id,
        "src_path": path,
        "ingest_status": "ok",
        "ingest_error": None,
        "spans": [],
    }
    if suffix in _TEXT_KINDS:
        try:
            row["spans"] = _span(bytes(content).decode("utf-8"),
                                 _TEXT_KINDS[suffix])
        except UnicodeDecodeError as exc:
            row["ingest_status"] = "error"
            row["ingest_error"] = f"UnicodeDecodeError: {exc}"
    elif suffix in _HTML_CONVERTERS:
        try:
            row["spans"] = _span(_HTML_CONVERTERS[suffix](bytes(content)))
        except ValueError as exc:
            row["ingest_status"] = "error"
            row["ingest_error"] = str(exc)
    elif suffix in (".docx", ".doc"):
        import struct

        from parserpdf_spark.kernels.doc_extract import CFB_MAGIC, doc_to_html

        is_ole2 = bytes(content[:8]) == CFB_MAGIC
        try:
            if suffix == ".doc" and is_ole2:
                # legacy Word binary: from-scratch CFB + piece-table read
                row["spans"] = _span(doc_to_html(bytes(content)))
            else:
                row["spans"] = _span(docx_to_html(bytes(content)))
        except (ValueError, struct.error) as exc:
            # struct.error is also translated at the kernel boundary; the
            # widened catch here keeps the keep-with-status contract even
            # for parse paths added later
            row["ingest_status"] = "error"
            row["ingest_error"] = str(exc)
    elif suffix == ".pdf":
        # text-bearing PDFs parse from scratch (kernels/pdf_binary.py);
        # files outside the built-in subset are TRIAGED, not lumped: a
        # 100 TB ingest routes encrypted files to decryption, scanned
        # files to an OCR fleet, and only genuine feature gaps to the
        # external pre-chunker (the reference's force_ocr knob,
        # converters/extraction_converter.py:111-114, is the same split)
        from parserpdf_spark.kernels.pdf_binary import pdf_to_blocks

        try:
            blocks = pdf_to_blocks(bytes(content))
            row["spans"] = _block_spans(blocks)
        except ValueError as exc:
            category = getattr(exc, "category", None)
            if category in ("encrypted", "needs_ocr"):
                row["ingest_status"] = category
                row["ingest_error"] = str(exc)
            else:
                row["ingest_status"] = "needs_prechunk"
                row["ingest_error"] = (
                    f"outside the built-in pdf subset ({exc}); feed the "
                    "external pre-chunker's pdf_block spans instead"
                )
    else:
        row["ingest_status"] = "skipped"
        row["ingest_error"] = f"unsupported extension {suffix!r}"
    return row


def ocr_route_file(path: str, content: bytes) -> dict[str, Any]:
    """:func:`route_file` + the deterministic OCR tier for scanned PDFs.

    The reference OCRs text-layer-absent PDFs through Marker when
    ``force_ocr`` is set (``converters/extraction_converter.py:111-114``
    → ``converters/pdf_to_md.py:159``); this is the from-scratch
    equivalent.  Files the plain router triages ``needs_ocr`` re-enter
    through ``pdf_to_blocks_and_media(require_text=False)``: each page
    image decodes through the repo's own JPEG codec (DCTDecode) or
    reconstructs from the XObject's own geometry (FlateDecode raw
    pixels, 8-bit gray/RGB and 1-bit bilevel), the glyph-template
    recognizer (kernels/ocr.py) rebuilds paragraph blocks with pixel
    geometry, and the pixel coordinates map through the image's
    placement bbox into page points — so the ordinary layout kernel
    (reading order, columns, heading quantiles) runs over OCR output
    exactly as over born-digital PDFs.

    Outcomes for a ``needs_ocr`` input (keep-with-status):

    - recognizable text      → ``ingest_status="ok"`` with ``pdf_block``
      spans (``font_size`` = glyph pixel height, so larger-type lines
      classify as headings); unrecognizable page images (photographs
      inside an otherwise-textual scan) stay as figure blocks.
    - nothing recognizable   → stays ``"needs_ocr"`` — a photograph
      must not transcribe as garbage; route to a heavier OCR fleet.
    - undecodable page image → ``"error"`` with the codec's reason.

    Everything else returns the plain route unchanged.
    """
    row = route_file(path, content)
    if row["ingest_status"] != "needs_ocr":
        return row
    from parserpdf_spark.kernels.jpeg import decode_jpeg_baseline
    from parserpdf_spark.kernels.ocr import GLYPH_H, ocr_page_blocks
    from parserpdf_spark.kernels.pdf_binary import pdf_to_blocks_and_media

    try:
        img_blocks, media = pdf_to_blocks_and_media(
            bytes(content), require_text=False
        )
        payloads = {m["media_ref"]: m for m in media}
        out_blocks: list[dict] = []
        recognized = 0
        for blk in img_blocks:
            ref = blk.get("media_ref")
            m = payloads.get(ref) if ref else None
            data = bytes(m["payload"]) if m and m.get("payload") else b""
            if data[:2] == b"\xff\xd8":
                w, h, pixels = decode_jpeg_baseline(data)
            elif m and m.get("width"):
                # raw-pixel scan (FlateDecode et al. — already passed
                # through the filter pipeline): reconstruct from the
                # XObject's own geometry.  bpc 1 is the classic bilevel
                # scanner format: rows pack MSB-first, padded to byte
                # boundaries; DeviceGray 1 = white.
                import numpy as np

                w, h = m["width"], m["height"]
                if not (0 < w * h <= 64_000_000):
                    out_blocks.append(blk)  # absurd dims: keep figure
                    continue
                if m.get("bpc") == 1:
                    stride = (w + 7) // 8
                    n = stride * h
                    if len(data) < n:
                        out_blocks.append(blk)
                        continue
                    rows = np.frombuffer(data[:n], np.uint8)
                    bits = np.unpackbits(rows.reshape(h, stride), axis=1)
                    pixels = bits[:, :w] * np.uint8(255)
                else:
                    n = w * h * (1 if m["gray"] else 3)
                    if len(data) < n:
                        out_blocks.append(blk)  # truncated: keep figure
                        continue
                    shape = (h, w) if m["gray"] else (h, w, 3)
                    pixels = np.frombuffer(data[:n], np.uint8).reshape(shape)
            else:
                out_blocks.append(blk)  # undecodable figure: keep as-is
                continue
            rot = int(blk.get("page_rotate") or 0)
            if rot:
                # the stored pixels are upright only after the page's
                # clockwise /Rotate — apply it before recognition; the
                # bbox is already in visual space
                import numpy as np

                pixels = np.rot90(pixels, k=-(rot // 90))
            h, w = pixels.shape[0], pixels.shape[1]
            x0b, ytop, x1b, ybot = blk["bbox"]
            if x1b <= x0b or ybot <= ytop:
                # degenerate (zero-area) placement: no geometry to map
                # text into — keep the figure block
                out_blocks.append(blk)
                continue
            paras = ocr_page_blocks(pixels)
            if not paras:
                out_blocks.append(blk)  # photograph/noise: stays a figure
                continue
            recognized += 1
            # image pixel (row r, col c) → page point via the placement
            # bbox [X0, Ytop, X1, Ybot] (top-down y, like all blocks)
            sx = (x1b - x0b) / w
            sy = (ybot - ytop) / h
            for p in paras:
                out_blocks.append({
                    "page": blk["page"],
                    "bbox": [round(x0b + p["x0"] * sx, 2),
                             round(ytop + p["top"] * sy, 2),
                             round(x0b + p["x1"] * sx, 2),
                             round(ytop + p["bot"] * sy, 2)],
                    "font_size": round(GLYPH_H * p["scale"] * sy, 2),
                    "text": p["text"],
                    "block_type_hint": None,
                })
        if recognized == 0:
            row["ingest_error"] = (
                "ocr found no recognizable text (photographic or "
                "non-glyph content); route to a heavier OCR fleet"
            )
            return row
        row["ingest_status"] = "ok"
        row["ingest_error"] = None
        row["spans"] = _block_spans(out_blocks)
    except ValueError as exc:
        row["ingest_status"] = "error"
        row["ingest_error"] = f"ocr tier: {exc}"
    return row


def files_to_docs(files: DataFrame, ocr: bool = False) -> DataFrame:
    """binaryFile scan (path, …, content) → docs rows with ingest status.

    Every scanned file yields exactly one row — accepted files carry
    spans, everything else carries a status + reason (keep-with-status).
    ``ocr=True`` additionally runs the deterministic OCR tier over
    ``needs_ocr`` PDFs (:func:`ocr_route_file`), the analog of the
    reference's ``force_ocr`` knob.
    """
    router = ocr_route_file if ocr else route_file
    return map_rows(files, ["path", "content"],
                    lambda p, c: (router(p, c),), FILES_DOCS_DDL)


def ingested_docs(files_docs: DataFrame) -> DataFrame:
    """The extractable subset, in the canonical docs(doc_id, spans) shape."""
    return files_docs.filter(
        files_docs["ingest_status"] == "ok"
    ).select("doc_id", "spans")


FILES_MEDIA_DDL = "doc_id string, media_ref string, payload binary"


def file_media_rows(path: str, content: bytes) -> list[dict[str, Any]]:
    """Embedded image payloads of one file (pure python; best-effort —
    a file whose parse fails contributes no payload rows here, its
    error surfaces through the main :func:`route_file` bridge).

    - ``.pdf``: image XObject payloads (DCTDecode JPEGs byte-for-byte).
      SCANNED (text-layer-absent) PDFs still surface their page images
      here (``require_text=False``) — the docs bridge triages them
      ``needs_ocr`` while this bridge delivers exactly the payloads an
      OCR fleet needs.  NB: this re-runs the PDF parse — the docs and
      media bridges are deliberately independent narrow stages
      (different output schemas, usually different runs); a pipeline
      needing both in one pass can call ``pdf_to_blocks_and_media``
      directly.
    - ``.docx``: ``word/media/*`` zip parts, refs relative to ``word/``
      (matching the ``<img src="media/…">`` refs the shim kernel emits);
      legacy ``.doc`` has no media scope (text-only kernel)
    """
    doc_id, suffix = _path_parts(path)
    rows: list[dict[str, Any]] = []
    if suffix == ".pdf":
        from parserpdf_spark.kernels.pdf_binary import pdf_to_blocks_and_media

        try:
            _, media = pdf_to_blocks_and_media(bytes(content),
                                               require_text=False)
        except ValueError:
            return []
        rows = [
            {"doc_id": doc_id, "media_ref": m["media_ref"],
             "payload": m["payload"]}
            for m in media
        ]
    elif suffix == ".odt":
        from parserpdf_spark.kernels.odt_extract import odt_media_rows

        try:
            rows = [
                {"doc_id": doc_id, "media_ref": ref, "payload": payload}
                for ref, payload in odt_media_rows(bytes(content))
            ]
        except ValueError:
            return []
    elif suffix == ".docx":
        import io
        import zipfile
        import zlib

        from parserpdf_spark.kernels.ziputil import bounded_read

        try:
            zf = zipfile.ZipFile(io.BytesIO(bytes(content)))
            for info in zf.infolist():
                if info.filename.startswith("word/media/"):
                    try:
                        payload = bounded_read(zf, info)
                    except ValueError:
                        # bomb-sized media part: drop the member,
                        # keep the document's other media
                        continue
                    rows.append({
                        "doc_id": doc_id,
                        "media_ref": info.filename[len("word/"):],
                        "payload": payload,
                    })
        except (zipfile.BadZipFile, KeyError, OSError, zlib.error):
            return []
    return rows


def files_to_media(files: DataFrame) -> DataFrame:
    """binaryFile scan → (doc_id, media_ref, payload) rows for the K2
    image sink: the embedded-image payloads whose refs the extraction
    output's ``image`` spans carry.  Same narrow row map as
    :func:`files_to_docs` — zero shuffle, file-per-task."""
    return map_rows(files, ["path", "content"], file_media_rows,
                    FILES_MEDIA_DDL)
