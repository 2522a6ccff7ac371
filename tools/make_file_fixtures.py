"""Generate the committed real-file ingestion corpus + its goldens.

Builds ``fixtures/files_corpus/`` — actual .html/.htm/.docx/.pdf/.txt
files on disk, deterministically derived from the sandbox's
``sf0.001/documents.parquet`` — and the two goldens the driver oracles
read:

- ``goldens/extract_files.parquet``      — expected extraction spans for
  every ingestable fixture file (pure-python route + kernels, no Spark)
- ``goldens/file_ingest_status.parquet`` — expected keep-with-status row
  per scanned file

Regenerate (together, committed together) whenever the kernels, the
synthesizer, or the routing in sources/files.py change:

    python tools/make_file_fixtures.py
"""

from __future__ import annotations

import os
import shutil
import sys
import zipfile
from xml.etree import ElementTree as ET

import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from parserpdf_spark.kernels.extract import extract_document_safe  # noqa: E402
from parserpdf_spark.sources.synth import (  # noqa: E402
    HEAD_WORDS,
    PARA_WORDS,
    _chunks,
    _words,
    synth_html_doc,
)

SF_DIR = "/root/testdata/sf0.001"
FIXTURES = os.path.join(REPO, "fixtures", "files_corpus")
GOLDENS = os.path.join(REPO, "goldens")


def _rel(path: str) -> str:
    """A golden's src_path: repo-relative (fixtures/…), so the goldens
    hold the same bytes whichever checkout writes them."""
    return os.path.relpath(path, REPO)

_NS = {
    "w": "http://schemas.openxmlformats.org/wordprocessingml/2006/main",
    "r": "http://schemas.openxmlformats.org/officeDocument/2006/relationships",
    "wp": "http://schemas.openxmlformats.org/drawingml/2006/wordprocessingDrawing",
    "a": "http://schemas.openxmlformats.org/drawingml/2006/main",
    "pic": "http://schemas.openxmlformats.org/drawingml/2006/picture",
}
for _p, _u in _NS.items():
    ET.register_namespace(_p, _u)


def _w(tag: str) -> str:
    return f"{{{_NS['w']}}}{tag}"


def _para(body, text: str, style: str | None = None):
    p = ET.SubElement(body, _w("p"))
    if style:
        ppr = ET.SubElement(p, _w("pPr"))
        ET.SubElement(ppr, _w("pStyle"), {_w("val"): style})
    r = ET.SubElement(p, _w("r"))
    t = ET.SubElement(r, _w("t"))
    t.text = text
    return p


def _list_para(body, text: str):
    p = ET.SubElement(body, _w("p"))
    ppr = ET.SubElement(p, _w("pPr"))
    numpr = ET.SubElement(ppr, _w("numPr"))
    ET.SubElement(numpr, _w("ilvl"), {_w("val"): "0"})
    ET.SubElement(numpr, _w("numId"), {_w("val"): "1"})
    r = ET.SubElement(p, _w("r"))
    t = ET.SubElement(r, _w("t"))
    t.text = text


def _image_para(body, rel_id: str):
    p = ET.SubElement(body, _w("p"))
    r = ET.SubElement(p, _w("r"))
    drawing = ET.SubElement(r, _w("drawing"))
    inline = ET.SubElement(drawing, f"{{{_NS['wp']}}}inline")
    graphic = ET.SubElement(inline, f"{{{_NS['a']}}}graphic")
    gdata = ET.SubElement(graphic, f"{{{_NS['a']}}}graphicData")
    pic = ET.SubElement(gdata, f"{{{_NS['pic']}}}pic")
    fill = ET.SubElement(pic, f"{{{_NS['pic']}}}blipFill")
    ET.SubElement(
        fill, f"{{{_NS['a']}}}blip", {f"{{{_NS['r']}}}embed": rel_id}
    )


def _table(body, cells2x3: list[str]):
    tbl = ET.SubElement(body, _w("tbl"))
    for row in (cells2x3[:3], cells2x3[3:6]):
        tr = ET.SubElement(tbl, _w("tr"))
        for cell in row:
            tc = ET.SubElement(tr, _w("tc"))
            p = ET.SubElement(tc, _w("p"))
            r = ET.SubElement(p, _w("r"))
            t = ET.SubElement(r, _w("t"))
            t.text = cell


def build_docx(nid: int, text: str) -> bytes:
    """A realistic minimal OOXML package: heading + body paragraphs,
    a table on even ids, an embedded image on ids with nid % 4 == 1,
    a 3-item bulleted list (w:numPr) on ids with nid % 4 == 3."""
    words = _words(text)
    doc = ET.Element(_w("document"))
    body = ET.SubElement(doc, _w("body"))
    _para(body, " ".join(words[:HEAD_WORDS]), style="Heading1")
    if nid % 2 == 0:
        _table(body, [wd for wd in words[:6]])
    if nid % 4 == 3 and len(words) >= 6:
        for wd in words[3:6]:
            _list_para(body, wd)
    with_image = nid % 4 == 1
    for chunk in _chunks(words[HEAD_WORDS:], PARA_WORDS):
        _para(body, " ".join(chunk))
    if with_image:
        _image_para(body, "rId5")

    import io

    buf = io.BytesIO()

    class _DetZip(zipfile.ZipFile):
        """writestr with a pinned date_time so fixture bytes are
        deterministic run-to-run (zipfile embeds wall-clock otherwise)."""

        def writestr(self, name, data, *a, **kw):  # noqa: D102
            info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            super().writestr(info, data, *a, **kw)

    with _DetZip(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr(
            "[Content_Types].xml",
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
            '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/>'
            '<Default Extension="png" ContentType="image/png"/>'
            '<Override PartName="/word/document.xml" ContentType="application/vnd.openxmlformats-officedocument.wordprocessingml.document.main+xml"/>'
            "</Types>",
        )
        zf.writestr(
            "_rels/.rels",
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="word/document.xml"/>'
            "</Relationships>",
        )
        zf.writestr(
            "word/document.xml",
            ET.tostring(doc, encoding="unicode", xml_declaration=True),
        )
        if with_image:
            zf.writestr(
                "word/_rels/document.xml.rels",
                '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
                '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
                '<Relationship Id="rId5" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/image" Target="media/figure1.png"/>'
                "</Relationships>",
            )
            # a REAL (decodable) PNG: deterministic 8x8 gradient seeded
            # by nid, so the K2 media payload yields genuine pixels
            import numpy as np

            from parserpdf_spark.kernels.png import encode_png

            yy, xx = np.mgrid[0:8, 0:8]
            pix = np.stack([
                (xx * 255) // 7, (yy * 255) // 7,
                np.full((8, 8), nid % 251),
            ], axis=-1).astype(np.uint8)
            zf.writestr("word/media/figure1.png", encode_png(pix))
    return buf.getvalue()


def _cfb_container(streams: dict[str, bytes]) -> bytes:
    """A minimal valid CFB/OLE2 compound file (512-byte sectors, 64-byte
    mini sectors, 4096 cutoff): streams smaller than the cutoff live in
    the root's mini-stream so the reader's miniFAT path gets exercised
    by the committed fixture."""
    import struct

    SSZ, MSSZ, CUTOFF = 512, 64, 4096
    FREE, END = 0xFFFFFFFF, 0xFFFFFFFE

    def pad(b: bytes, unit: int) -> bytes:
        return b + b"\x00" * (-len(b) % unit)

    # mini-stream assembly + miniFAT
    mini_data = b""
    minifat: list[int] = []
    mini_start: dict[str, int] = {}
    regular: dict[str, bytes] = {}
    for name, data in streams.items():
        if len(data) < CUTOFF:
            first = len(minifat)
            mini_start[name] = first
            n = max(1, -(-len(data) // MSSZ))
            minifat.extend(list(range(first + 1, first + n)) + [END])
            mini_data += pad(data, MSSZ)
        else:
            regular[name] = pad(data, SSZ)

    n_entries = 1 + len(streams)
    dir_sectors = -(-(n_entries * 128) // SSZ)
    minifat_sectors = -(-(len(minifat) * 4) // SSZ) if minifat else 0
    mini_sectors = len(mini_data) // SSZ if mini_data else 0
    mini_data = pad(mini_data, SSZ)
    mini_sectors = len(mini_data) // SSZ

    # sector layout: 0 = FAT, then DIR, MINIFAT, MINI container, regular
    s_dir = 1
    s_minifat = s_dir + dir_sectors
    s_mini = s_minifat + minifat_sectors
    s_reg = s_mini + mini_sectors
    reg_start: dict[str, int] = {}
    cur = s_reg
    for name, data in regular.items():
        reg_start[name] = cur
        cur += len(data) // SSZ
    total_sectors = cur
    assert total_sectors <= SSZ // 4, "fixture too large for one FAT sector"

    fat = [FREE] * (SSZ // 4)
    fat[0] = 0xFFFFFFFD  # FATSECT marker

    def chain(start: int, n: int) -> None:
        for i in range(n):
            fat[start + i] = start + i + 1 if i + 1 < n else END

    chain(s_dir, dir_sectors)
    if minifat_sectors:
        chain(s_minifat, minifat_sectors)
    if mini_sectors:
        chain(s_mini, mini_sectors)
    for name, data in regular.items():
        chain(reg_start[name], len(data) // SSZ)

    def dir_entry(name: str, otype: int, start: int, size: int,
                  child: int = FREE) -> bytes:
        raw = name.encode("utf-16-le") + b"\x00\x00"
        e = bytearray(128)
        e[: len(raw)] = raw
        struct.pack_into("<H", e, 64, len(raw))
        e[66] = otype
        e[67] = 1  # black
        struct.pack_into("<III", e, 68, FREE, FREE, child)
        struct.pack_into("<I", e, 116, start)
        struct.pack_into("<Q", e, 120, size)
        return bytes(e)

    entries = [dir_entry("Root Entry", 5, s_mini if mini_data else END,
                         len(mini_data), child=1)]
    for name, data in streams.items():
        start = mini_start.get(name, reg_start.get(name, END))
        entries.append(dir_entry(name, 2, start, len(data)))
    dir_data = pad(b"".join(entries), SSZ)

    header = bytearray(512)
    header[:8] = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"
    struct.pack_into("<H", header, 0x18, 0x003E)  # minor
    struct.pack_into("<H", header, 0x1A, 0x0003)  # major (512-byte)
    struct.pack_into("<H", header, 0x1C, 0xFFFE)  # little-endian
    struct.pack_into("<H", header, 0x1E, 9)       # sector shift
    struct.pack_into("<H", header, 0x20, 6)       # mini shift
    struct.pack_into("<I", header, 0x2C, 1)       # n FAT sectors
    struct.pack_into("<I", header, 0x30, s_dir)
    struct.pack_into("<I", header, 0x38, CUTOFF)
    struct.pack_into("<I", header, 0x3C,
                     s_minifat if minifat_sectors else END)
    struct.pack_into("<I", header, 0x40, minifat_sectors)
    struct.pack_into("<I", header, 0x44, END)     # no DIFAT chain
    struct.pack_into("<I", header, 0x48, 0)
    difat = [0] + [FREE] * 108
    struct.pack_into("<109I", header, 0x4C, *difat)

    fat_data = struct.pack(f"<{SSZ // 4}I", *fat)
    minifat_data = pad(
        struct.pack(f"<{len(minifat)}I", *minifat), SSZ
    ) if minifat else b""
    body = bytes(header) + fat_data + dir_data + minifat_data + mini_data
    for name, data in regular.items():
        body += data
    return body


def build_doc(nid: int, text: str, styled: bool = False,
              utf16: bool = False) -> bytes:
    """A real Word-97 binary ``.doc``: CFB container with a WordDocument
    stream (FIB + cp1252 text) and a 1Table stream (CLX piece table) —
    the same heading + paragraph text decomposition as the sibling
    formats, one piece, compressed encoding.

    ``styled=True`` additionally writes the [MS-DOC] style machinery:
    an STSH style sheet (Normal at istd 0, ``heading 1`` at istd 1 with
    sti 1), a 512-byte PAPX FKP page mapping the first paragraph's FC
    run to istd 1 (cb==0 PapxInFkp form), and the PlcfBtePapx bin table
    pointing at it — so the title paragraph extracts as a heading."""
    import struct

    words = _words(text)
    paras = [" ".join(words[:HEAD_WORDS])] + [
        " ".join(c) for c in _chunks(words[HEAD_WORDS:], PARA_WORDS)
    ]
    with_table = styled and not utf16 and len(words) >= HEAD_WORDS + 6
    if with_table:
        # a 2x3 table after the heading (the docx builder's shape):
        # cells end with 0x07 marks, each row closed by a TTP 0x07
        tw = words[HEAD_WORDS:HEAD_WORDS + 6]
        row1 = tw[0] + "\x07" + tw[1] + "\x07" + tw[2] + "\x07"
        row2 = tw[3] + "\x07" + tw[4] + "\x07" + tw[5] + "\x07"
        doc_text = (paras[0] + "\r" + row1 + "\x07" + row2 + "\x07"
                    + "\r".join(paras[1:]) + "\r")
    else:
        doc_text = "\r".join(paras) + "\r"
    # utf16=True writes an uncompressed UTF-16LE piece (fc bit 30 clear,
    # fc NOT doubled) — the path where astral chars occupy two code
    # units and FC arithmetic must count units, not python chars
    raw = doc_text.encode("utf-16-le" if utf16 else "cp1252")

    TEXT_AT = 0x600
    fib = bytearray(TEXT_AT)
    struct.pack_into("<H", fib, 0x00, 0xA5EC)   # wIdent
    struct.pack_into("<H", fib, 0x02, 0x00C1)   # nFib (Word 97)
    struct.pack_into("<H", fib, 0x06, 0x0409)   # lid
    struct.pack_into("<H", fib, 0x0A, 0x0200)   # flags: fWhichTblStm=1
    struct.pack_into("<H", fib, 0x20, 0x000E)   # csw
    struct.pack_into("<H", fib, 0x3E, 0x0016)   # cslw
    struct.pack_into("<I", fib, 0x40, TEXT_AT + len(raw))  # cbMac
    ccp = (len(raw) // 2) if utf16 else len(doc_text)
    struct.pack_into("<I", fib, 0x4C, ccp)                 # ccpText
    struct.pack_into("<H", fib, 0x98, 0x005D)   # cbRgFcLcb (93 pairs)
    # CLX sits at offset 0 of 1Table
    fc_field = TEXT_AT if utf16 else ((TEXT_AT * 2) | 0x40000000)
    plc = struct.pack("<II", 0, ccp) + struct.pack("<HIH", 0, fc_field, 0)
    clx = b"\x02" + struct.pack("<I", len(plc)) + plc
    struct.pack_into("<I", fib, 0x01A2, 0)          # fcClx
    struct.pack_into("<I", fib, 0x01A6, len(clx))   # lcbClx
    word_stream = bytes(fib) + raw
    table_stream = clx

    if styled:
        # --- STSH: cbStshi + minimal stshi (cstd=2), then 2 LPStds:
        # istd 0 = Normal (sti 0), istd 1 = heading 1 (sti 1)
        stshi = struct.pack("<HH", 2, 10) + bytes(14)  # cstd, cbSTDBase
        lpstds = (struct.pack("<H", 2) + struct.pack("<H", 0)
                  + struct.pack("<H", 2) + struct.pack("<H", 1))
        stsh = struct.pack("<H", len(stshi)) + stshi + lpstds

        # --- PAPX FKP page (512 bytes) in the WordDocument stream at
        # the next 512-aligned page.  Blobs use the PapxInFkp cb==0
        # form (cb'(1 byte) then 2*cb' grpprl bytes starting with istd).
        blob_h = b"\x00\x01" + struct.pack("<H", 1)  # istd 1 (heading 1)
        # istd 0 + sprmPFInTable(0x2416)=1, padded to an even grpprl
        blob_t = b"\x00\x03" + struct.pack("<H", 0) + b"\x16\x24\x01\x00"
        # istd 0 + sprmPFInTable=1 + sprmPFTtp(0x2417)=1 (row terminator)
        blob_r = (b"\x00\x04" + struct.pack("<H", 0)
                  + b"\x16\x24\x01" + b"\x17\x24\x01")
        fc = TEXT_AT
        enc = "utf-16-le" if utf16 else "cp1252"
        head_end = fc + len((paras[0] + "\r").encode(enc))
        runs: list[tuple[int, str]] = [(head_end, "h")]
        if with_table:
            at = head_end
            for row in (row1, row2):
                at += len(row.encode("cp1252"))
                runs.append((at, "t"))   # the row's cells
                at += 1
                runs.append((at, "r"))   # the TTP row mark
        fc_lim = TEXT_AT + len(raw)
        runs.append((fc_lim, "p"))
        page = bytearray(512)
        crun = len(runs)
        struct.pack_into("<I", page, 0, fc)
        for k, (lim, _) in enumerate(runs):
            struct.pack_into("<I", page, 4 * (k + 1), lim)
        blob_at = {"h": 470, "t": 476, "r": 486}
        for key, off in blob_at.items():
            blob = {"h": blob_h, "t": blob_t, "r": blob_r}[key]
            page[off:off + len(blob)] = blob
        for k, (_, kind) in enumerate(runs):
            page[(crun + 1) * 4 + k * 13] = (
                0 if kind == "p" else blob_at[kind] // 2)
        page[511] = crun
        fc_first = TEXT_AT
        pn = -(-len(word_stream) // 512)
        word_stream = word_stream + b"\x00" * (pn * 512 - len(word_stream))
        word_stream += bytes(page)

        # --- CHPX FKP page: bold the first word and italicize the
        # second word of the first body paragraph (sprmCFBold 0x0835 /
        # sprmCFItalic 0x0836 toggles) — the runs cover [fc, fc_lim]
        # contiguously as the kernel's consistency check requires
        chp_runs: list[tuple[int, bytes | None]] = []
        body = paras[1] if len(paras) > 1 else ""
        body_words = body.split()
        if len(body_words) >= 2:
            prefix = paras[0] + "\r"
            if with_table:
                prefix += row1 + "\x07" + row2 + "\x07"
            b0 = TEXT_AT + len(prefix.encode(enc))
            b1 = b0 + len(body_words[0].encode(enc))
            i0 = b1 + len(" ".encode(enc))
            i1 = i0 + len(body_words[1].encode(enc))
            bold_grp = b"\x35\x08\x01"
            ital_grp = b"\x36\x08\x01"
            chp_runs = [
                (fc_first, None), (b0, bold_grp), (b1, None),
                (i0, ital_grp), (i1, None),
            ]
        pn_chp = 0
        bte_chp = b""
        if chp_runs:
            cpage = bytearray(512)
            crun_c = len(chp_runs)
            lims = [lo for lo, _ in chp_runs[1:]] + [fc_lim]
            struct.pack_into("<I", cpage, 0, chp_runs[0][0])
            for k, lim in enumerate(lims):
                struct.pack_into("<I", cpage, 4 * (k + 1), lim)
            blob_off = {id(bold_grp): 480, id(ital_grp): 490}
            for grp, off in ((bold_grp, 480), (ital_grp, 490)):
                cpage[off] = len(grp)
                cpage[off + 1 : off + 1 + len(grp)] = grp
            for k, (_, grp) in enumerate(chp_runs):
                cpage[(crun_c + 1) * 4 + k] = (
                    0 if grp is None else blob_off[id(grp)] // 2)
            cpage[511] = crun_c
            pn_chp = -(-len(word_stream) // 512)
            word_stream = word_stream + b"\x00" * (
                pn_chp * 512 - len(word_stream)) + bytes(cpage)
            bte_chp = struct.pack("<III", fc_first, fc_lim, pn_chp)

        # --- PlcfBtePapx: [fc_first, fc_lim] → pn
        bte = struct.pack("<III", fc_first, fc_lim, pn)
        fc_stsh = len(table_stream)
        fc_bte = fc_stsh + len(stsh)
        fc_bte_chp = fc_bte + len(bte)
        table_stream = table_stream + stsh + bte + bte_chp
        fib = bytearray(word_stream[:TEXT_AT])
        struct.pack_into("<I", fib, 0x00A2, fc_stsh)
        struct.pack_into("<I", fib, 0x00A6, len(stsh))
        struct.pack_into("<I", fib, 0x0102, fc_bte)
        struct.pack_into("<I", fib, 0x0106, len(bte))
        if bte_chp:
            struct.pack_into("<I", fib, 0x00FA, fc_bte_chp)
            struct.pack_into("<I", fib, 0x00FE, len(bte_chp))
        word_stream = bytes(fib) + word_stream[TEXT_AT:]

    return _cfb_container({"WordDocument": word_stream, "1Table": table_stream})


PAGE_W, PAGE_H = 612, 842
PDF_LEFT_X, PDF_RIGHT_X = 50, 310
PDF_TOP_Y = 120
PDF_ROW_PITCH = 50
PDF_ROWS_PER_COL = 6
PDF_BODY_SIZE, PDF_TITLE_SIZE = 10, 18
PDF_LEADING = 12


def _pdf_escape(s: str) -> str:
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


def _pdf_text_block(
    x: float, y_top: float, size: int, lines: list[str], hex_digits: int = 0,
    encode_char=None,
) -> str:
    """One BT..ET block: absolute Td to the first baseline, T* steps.
    ``hex_digits`` > 0 shows text as hex-string codes of that width:
    4 for 2-byte CIDs (Type0 Identity-H / UCS-2), 2 for 1-byte codes
    (embedded-CMap ASCII codespace).  ``encode_char`` overrides the
    per-char hex mapping entirely (variable-width raw-charset codes)."""
    y_baseline = PAGE_H - y_top - size
    ops = [f"BT /F1 {size} Tf {PDF_LEADING} TL {x} {y_baseline} Td"]
    for i, line in enumerate(lines):
        if i:
            ops.append("T*")
        if encode_char is not None:
            ops.append("<" + "".join(encode_char(c) for c in line) + "> Tj")
        elif hex_digits:
            ops.append(
                "<" + "".join(f"{ord(c):0{hex_digits}X}" for c in line)
                + "> Tj"
            )
        else:
            ops.append(f"({_pdf_escape(line)}) Tj")
    ops.append("ET")
    return " ".join(ops)


def _wrap_words(words: list[str], per_line: int = 6) -> list[str]:
    # 6 words/line → 2 lines per 12-word chunk → block height ~24pt at
    # 50pt row pitch: the >15pt inter-row gap that separates 2-column
    # TEXT from table grids in the layout kernel (ROW_GAP_MAX_PT)
    return [" ".join(words[i:i + per_line]) for i in range(0, len(words), per_line)]


# deterministic Japanese text for the UCS-2 fixture: 15 words → 3-word
# title + one 12-word paragraph, single column (short by design so layout
# classification is width-independent — UCS-2 CIDs have no /W lookup)
_CJK_VOCAB = [
    "日本語", "文書", "解析", "東京", "大学", "自然", "言語", "処理",
    "機械", "学習", "深層", "統計", "手法", "研究", "評価", "実験",
]


def cjk_text(nid: int) -> str:
    n = len(_CJK_VOCAB)
    return " ".join(
        _CJK_VOCAB[(nid + 3 * k) % n] + _CJK_VOCAB[(nid + 5 * k + 1) % n]
        for k in range(15)
    )


def _embedded_jpeg() -> bytes:
    """The 64x48 image embedded in the image-bearing PDF fixture: a
    REAL baseline JPEG (from-scratch kernels/jpeg.py encoder) over a
    deterministic gradient, so the /DCTDecode payload the PDF kernel
    surfaces byte-for-byte is decodable to known pixels."""
    import numpy as np

    from parserpdf_spark.kernels.jpeg import encode_jpeg_baseline

    yy, xx = np.mgrid[0:48, 0:64]
    pixels = np.stack([
        (xx * 255) // 63, (yy * 255) // 47, ((xx + yy) * 255) // 110,
    ], axis=-1).astype(np.uint8)
    return encode_jpeg_baseline(pixels, quality=90)


EMBEDDED_JPEG = _embedded_jpeg()


def build_pdf(
    nid: int,
    text: str,
    compress: bool,
    font_mode: str = "type1",
    with_image: bool = False,
    objstm: bool = False,
    rotate: int = 0,
) -> bytes:
    """A real (minimal, valid-xref) PDF: full-width title + two-column
    body in the synth geometry; Flate-compressed streams on request.

    ``font_mode="type0"`` uses a composite Identity-H font (hex-string
    CIDs, /W width array, ToUnicode CMap); ``font_mode="cmap"`` uses an
    embedded /Encoding CID CMap stream with a 1-byte ASCII codespace
    (plus an unused 2-byte range, exercising variable-length code
    splitting) and an identity cidrange so the same /W widths apply;
    ``font_mode="ucs2"`` uses the predefined /UniJIS-UCS2-H encoding
    (2-byte codes ARE the UCS-2 code points — the CJK path; widths fall
    back to /DW since CIDs need Adobe registry tables); ``with_image``
    embeds a DCTDecode image XObject placed full-width between title and
    body; ``objstm`` packs all non-stream objects (catalog, pages tree,
    font, page dicts) into a PDF 1.5 /Type /ObjStm compressed object
    stream — the modern layout where no ``N 0 obj`` frame exists for
    them.
    """
    import zlib

    hex_digits = {"type0": 4, "ucs2": 4, "cmap": 2}.get(font_mode, 0)
    encode_char = None
    if font_mode == "gbk":
        # synthetic raw-charset code assignment in GBK-EUC shape:
        # 1-byte ASCII (0x20-0x7E as-is), 2-byte CJK rows 0xB0A1.. —
        # the file's OWN /ToUnicode is the only map back to text,
        # exactly the class the registry-free fallback targets
        gbk_codes: dict[str, int] = {}
        nxt = 0xB0A1
        for c in sorted({c for c in text}):
            if ord(c) < 0x7F:
                gbk_codes[c] = ord(c)
                continue
            gbk_codes[c] = nxt
            nxt = nxt + 1 if (nxt & 0xFF) < 0xFE else (nxt & 0xFF00) + 0x1A1

        def encode_char(c, _m=gbk_codes):
            code = _m[c]
            return f"{code:02X}" if code < 0x100 else f"{code:04X}"
    words = _words(text)
    pages_ops: dict[int, list[str]] = {}
    title = " ".join(words[:HEAD_WORDS])
    pages_ops[0] = [
        _pdf_text_block(PDF_LEFT_X, 40, PDF_TITLE_SIZE, [title], hex_digits,
                        encode_char)
    ]
    if with_image:
        # unit square scaled 512x37 at (50, 730): top-down y 75..112,
        # between the title (~40-62) and the body rows (120+)
        pages_ops[0].append("q 512 0 0 37 50 730 cm /Im1 Do Q")
    for i, chunk in enumerate(_chunks(words[HEAD_WORDS:], PARA_WORDS)):
        page = i // (2 * PDF_ROWS_PER_COL)
        slot = i % (2 * PDF_ROWS_PER_COL)
        x = PDF_LEFT_X if slot < PDF_ROWS_PER_COL else PDF_RIGHT_X
        row = slot % PDF_ROWS_PER_COL
        y_top = PDF_TOP_Y + row * PDF_ROW_PITCH
        pages_ops.setdefault(page, []).append(
            _pdf_text_block(x, y_top, PDF_BODY_SIZE, _wrap_words(chunk),
                            hex_digits, encode_char)
        )

    n_pages = len(pages_ops)
    # object numbering: 1 catalog, 2 pages-root, 3 font,
    # then per page: 4+2k page, 5+2k contents; 100+ for font/image parts
    objs: dict[int, bytes] = {}
    kids = " ".join(f"{4 + 2 * k} 0 R" for k in range(n_pages))
    objs[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
    objs[2] = (
        f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode()
    )
    if font_mode in ("type0", "cmap"):
        from parserpdf_spark.kernels.pdf_binary import _HELVETICA

        if font_mode == "type0":
            enc = b"/Encoding /Identity-H "
        else:
            enc = b"/Encoding 103 0 R "
            cid_cmap = (
                b"/CIDInit /ProcSet findresource begin\n"
                b"2 begincodespacerange\n<20> <7E>\n<8140> <9FFF>\n"
                b"endcodespacerange\n"
                b"1 begincidrange\n<20> <7E> 32\nendcidrange\nend\n"
            )
            objs[103] = (
                f"<< /Length {len(cid_cmap)} >>".encode()
                + b"\nstream\n" + cid_cmap + b"\nendstream"
            )
        objs[3] = (
            b"<< /Type /Font /Subtype /Type0 /BaseFont /Helvetica "
            + enc + b"/DescendantFonts [100 0 R] /ToUnicode 101 0 R >>"
        )
        w_list = " ".join(str(w) for w in _HELVETICA)
        objs[100] = (
            b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /Helvetica "
            + f"/DW 500 /W [32 [{w_list}]] >>".encode()
        )
        # ToUnicode keys are character CODES: 2-byte under Identity-H,
        # 1-byte under the embedded-CMap ASCII codespace
        bf = (b"<0020> <007E> <0020>" if font_mode == "type0"
              else b"<20> <7E> <0020>")
        cmap = (
            b"/CIDInit /ProcSet findresource begin\n"
            b"1 begincodespacerange <0000> <FFFF> endcodespacerange\n"
            b"1 beginbfrange\n" + bf + b"\nendbfrange\nend\n"
        )
        objs[101] = (
            f"<< /Length {len(cmap)} >>".encode()
            + b"\nstream\n" + cmap + b"\nendstream"
        )
    elif font_mode == "gbk":
        objs[3] = (
            b"<< /Type /Font /Subtype /Type0 /BaseFont /STSong-Light "
            b"/Encoding /GBK-EUC-H /DescendantFonts [100 0 R] "
            b"/ToUnicode 101 0 R >>"
        )
        objs[100] = (
            b"<< /Type /Font /Subtype /CIDFontType0 /BaseFont "
            b"/STSong-Light /DW 1000 >>"
        )
        bfchars = [
            f"<{code:02X}> <{ord(c):04X}>" if code < 0x100
            else f"<{code:04X}> <{ord(c):04X}>"
            for c, code in sorted(gbk_codes.items(), key=lambda kv: kv[1])
        ]
        blocks = []
        for i in range(0, len(bfchars), 100):  # CMap spec: <=100/block
            chunk_bf = bfchars[i:i + 100]
            blocks.append(
                f"{len(chunk_bf)} beginbfchar\n"
                + "\n".join(chunk_bf) + "\nendbfchar\n"
            )
        cmap = (
            "/CIDInit /ProcSet findresource begin\n"
            "2 begincodespacerange\n<00> <80>\n<A1A1> <FEFE>\n"
            "endcodespacerange\n" + "".join(blocks) + "end\n"
        ).encode("ascii")
        objs[101] = (
            f"<< /Length {len(cmap)} >>".encode()
            + b"\nstream\n" + cmap + b"\nendstream"
        )
    elif font_mode == "ucs2":
        objs[3] = (
            b"<< /Type /Font /Subtype /Type0 /BaseFont /NotoSansJP "
            b"/Encoding /UniJIS-UCS2-H /DescendantFonts [100 0 R] >>"
        )
        objs[100] = (
            b"<< /Type /Font /Subtype /CIDFontType0 /BaseFont /NotoSansJP "
            b"/DW 1000 >>"
        )
    else:
        objs[3] = b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    if with_image:
        objs[102] = (
            b"<< /Type /XObject /Subtype /Image /Width 64 /Height 48 "
            b"/BitsPerComponent 8 /ColorSpace /DeviceRGB "
            b"/Filter /DCTDecode "
            + f"/Length {len(EMBEDDED_JPEG)} >>".encode()
            + b"\nstream\n" + EMBEDDED_JPEG + b"\nendstream"
        )
    for k in range(n_pages):
        content = "\n".join(pages_ops[k]).encode("latin-1")
        filt = b""
        if compress:
            content = zlib.compress(content)
            filt = b"/Filter /FlateDecode "
        xobj = (
            b"/XObject << /Im1 102 0 R >> " if with_image and k == 0 else b""
        )
        rot = f"/Rotate {rotate} " if rotate else ""
        objs[4 + 2 * k] = (
            f"<< /Type /Page {rot}/Parent 2 0 R "
            f"/MediaBox [0 0 {PAGE_W} {PAGE_H}] "
            f"/Resources << /Font << /F1 3 0 R >> ".encode()
            + xobj + b">> "
            + f"/Contents {5 + 2 * k} 0 R >>".encode()
        )
        objs[5 + 2 * k] = (
            b"<< " + filt + f"/Length {len(content)} >>".encode()
            + b"\nstream\n" + content + b"\nendstream"
        )

    if objstm:
        members = {n: b for n, b in objs.items() if b"stream" not in b}
        header_parts: list[str] = []
        bodies = b""
        for n in sorted(members):
            header_parts.append(f"{n} {len(bodies)}")
            bodies += members[n] + b"\n"
        hdr = (" ".join(header_parts) + "\n").encode()
        payload = zlib.compress(hdr + bodies)
        for n in members:
            del objs[n]
        objs[200] = (
            f"<< /Type /ObjStm /N {len(members)} /First {len(hdr)} "
            f"/Filter /FlateDecode /Length {len(payload)} >>".encode()
            + b"\nstream\n" + payload + b"\nendstream"
        )

    out = bytearray(b"%PDF-1.5\n" if objstm else b"%PDF-1.4\n")
    offsets: dict[int, int] = {}
    for num in sorted(objs):
        offsets[num] = len(out)
        out += f"{num} 0 obj\n".encode() + objs[num] + b"\nendobj\n"
    xref_at = len(out)
    n_obj = max(objs) + 1
    out += f"xref\n0 {n_obj}\n".encode()
    out += b"0000000000 65535 f \n"
    for num in range(1, n_obj):
        if num in offsets:
            out += f"{offsets[num]:010d} 00000 n \n".encode()
        else:  # gap in numbering (fixed 100+ ids): free entry
            out += b"0000000000 65535 f \n"
    out += (
        f"trailer\n<< /Size {n_obj} /Root 1 0 R >>\n"
        f"startxref\n{xref_at}\n%%EOF\n"
    ).encode()
    return bytes(out)


def encrypt_pdf(pdf: bytes, variant: str, owner: bytes = b"owner-pw",
                user: bytes = b"") -> bytes:
    """Encrypt a built PDF with the standard security handler — the
    writer side of kernels/pdf_crypt.py (same RC4 and AES helpers), used
    to make fixtures that the decryptor must open (empty user password)
    or refuse (real user password).

    variants: ``"rc4"`` (V2 R3, 128-bit), ``"aes"`` (V4 R4 /AESV2),
    ``"aes256"`` (V5 R6 /AESV3).  Deterministic: fixed /ID and IVs
    derived from object numbers.
    """
    import hashlib
    import re as _re
    import struct

    from parserpdf_spark.kernels.pdf_crypt import (
        _PAD,
        _hash_2b,
        _key_r234,
        _user_check_r234,
        aes_cbc_encrypt,
        rc4,
    )
    from parserpdf_spark.kernels.pdf_binary import (
        _raw_stream,
        _split_objects,
    )

    id0 = bytes(range(16))
    p = -44
    enc_num = 90

    if variant in ("rc4", "aes"):
        key_len = 16
        r = 3 if variant == "rc4" else 4
        v = 2 if variant == "rc4" else 4
        # /O (Algorithm 3): RC4-encrypt the padded USER password under
        # the owner key
        okey = hashlib.md5((owner + _PAD)[:32]).digest()
        for _ in range(50):
            okey = hashlib.md5(okey[:key_len]).digest()
        okey = okey[:key_len]
        o = rc4(okey, (user + _PAD)[:32])
        for i in range(1, 20):
            o = rc4(bytes(b ^ i for b in okey), o)
        key = _key_r234(user, o, p, id0, key_len, r, True)
        # /U (Algorithm 5): exactly what the checker recomputes
        x = rc4(key, hashlib.md5(_PAD + id0).digest())
        for i in range(1, 20):
            x = rc4(bytes(b ^ i for b in key), x)
        u = x + bytes(16)
        assert _user_check_r234(key, id0, u, r)
        extra = (b"/CF << /StdCF << /CFM /AESV2 /Length 16 >> >> "
                 b"/StmF /StdCF /StrF /StdCF " if variant == "aes" else b"")
        enc_dict = (
            b"<< /Filter /Standard "
            + f"/V {v} /R {r} /Length 128 /P {p} ".encode() + extra
            + b"/O <" + o.hex().encode() + b"> /U <" + u.hex().encode()
            + b"> >>"
        )

        def enc_stream(num: int, payload: bytes) -> bytes:
            ext = struct.pack("<I", num)[:3] + b"\x00\x00"
            salt = b"sAlT" if variant == "aes" else b""
            ok = hashlib.md5(key + ext + salt).digest()[
                : min(key_len + 5, 16)]
            if variant == "rc4":
                return rc4(ok, payload)
            iv = hashlib.md5(b"iv" + struct.pack("<I", num)).digest()
            return iv + aes_cbc_encrypt(payload, ok, iv)
    elif variant == "aes256":
        file_key = hashlib.sha256(b"filekey").digest()
        vsalt, ksalt = b"VSALT_U!", b"KSALT_U!"
        u = _hash_2b(user, vsalt, b"") + vsalt + ksalt
        ue = aes_cbc_encrypt(file_key, _hash_2b(user, ksalt, b""),
                             iv=bytes(16), pad=False)
        ovs, oks = b"VSALT_O!", b"KSALT_O!"
        o = _hash_2b(owner, ovs, u) + ovs + oks
        oe = aes_cbc_encrypt(file_key, _hash_2b(owner, oks, u),
                             iv=bytes(16), pad=False)
        enc_dict = (
            b"<< /Filter /Standard /V 5 /R 6 /Length 256 "
            + f"/P {p} ".encode()
            + b"/CF << /StdCF << /CFM /AESV3 /Length 32 >> >> "
            b"/StmF /StdCF /StrF /StdCF "
            b"/O <" + o.hex().encode() + b"> /U <" + u.hex().encode()
            + b"> /OE <" + oe.hex().encode() + b"> /UE <"
            + ue.hex().encode() + b"> >>"
        )

        def enc_stream(num: int, payload: bytes) -> bytes:
            iv = hashlib.md5(b"iv" + struct.pack("<I", num)).digest()
            return iv + aes_cbc_encrypt(payload, file_key, iv)
    else:
        raise ValueError(f"unknown encryption variant {variant!r}")

    # rewrite every stream payload as ciphertext, patching /Length
    objects = _split_objects(pdf)
    out = bytearray()
    out += pdf[: pdf.index(b"\n") + 1]  # %PDF- line
    for num in sorted(objects):
        body = objects[num]
        framed = _raw_stream(body, objects)
        if framed is None:
            cut = body.find(b"endobj")
            inner = body[:cut].rstrip() if cut >= 0 else body.rstrip()
            out += f"{num} 0 obj\n".encode() + inner + b"\nendobj\n"
            continue
        head, payload = framed
        ct = enc_stream(num, payload)
        head2 = _re.sub(rb"/Length\s+\d+(?!\d)",
                        b"/Length " + str(len(ct)).encode(), head, count=1)
        out += (f"{num} 0 obj\n".encode() + head2.rstrip()
                + b"\nstream\n" + ct + b"\nendstream\nendobj\n")
    out += f"{enc_num} 0 obj\n".encode() + enc_dict + b"\nendobj\n"
    out += (b"trailer\n<< /Root 1 0 R /Encrypt "
            + f"{enc_num} 0 R".encode()
            + b" /ID [<" + id0.hex().encode() + b"> <"
            + id0.hex().encode() + b">] >>\n%%EOF\n")
    return bytes(out)


def build_rtf(nid: int, text: str) -> bytes:
    """An RTF document with the family's heading + paragraph shape,
    plus a 2x3 table on even ids (mirroring build_docx)."""
    words = _words(text)
    parts = ["{\\rtf1\\ansi\\deff0{\\fonttbl{\\f0 Times;}}"]
    parts.append("\\outlinelevel0 "
                 + _rtf_escape(" ".join(words[:HEAD_WORDS])) + "\\par ")
    if nid % 2 == 0 and len(words) >= 6:
        for row in (words[:3], words[3:6]):
            parts.append("\\trowd\\cellx2000\\cellx4000\\cellx6000 ")
            for cell in row:
                parts.append(_rtf_escape(cell) + "\\cell ")
            parts.append("\\row ")
    for chunk in _chunks(words[HEAD_WORDS:], PARA_WORDS):
        parts.append("\\pard " + _rtf_escape(" ".join(chunk)) + "\\par ")
    parts.append("}")
    return "".join(parts).encode("ascii", "backslashreplace")


def _rtf_escape(s: str) -> str:
    out = []
    for ch in s:
        if ch in "\\{}":
            out.append("\\" + ch)
        elif ord(ch) < 0x80:
            out.append(ch)
        else:
            out.append(f"\\u{ord(ch)} ?")
    return "".join(out)


def build_epub(nid: int, text: str) -> bytes:
    """A spine-ordered EPUB: heading + first half of the paragraphs in
    chapter 1, the rest in chapter 2."""
    import io

    words = _words(text)
    chunks = [" ".join(c) for c in _chunks(words[HEAD_WORDS:], PARA_WORDS)]
    half = max(1, len(chunks) // 2)
    ch1 = ("<html><body><h1>" + " ".join(words[:HEAD_WORDS]) + "</h1>"
           + "".join(f"<p>{c}</p>" for c in chunks[:half])
           + "</body></html>")
    ch2 = ("<html><body>"
           + "".join(f"<p>{c}</p>" for c in chunks[half:])
           + "</body></html>")
    buf = io.BytesIO()

    class _DetZip(zipfile.ZipFile):
        def writestr(self, name, data, *a, **kw):  # noqa: D102
            info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            super().writestr(info, data, *a, **kw)

    with _DetZip(buf, "w") as zf:
        zf.writestr("mimetype", "application/epub+zip")
        zf.writestr(
            "META-INF/container.xml",
            '<?xml version="1.0"?><container '
            'xmlns="urn:oasis:names:tc:opendocument:xmlns:container">'
            '<rootfiles><rootfile full-path="OEBPS/content.opf" '
            'media-type="application/oebps-package+xml"/></rootfiles>'
            "</container>")
        zf.writestr(
            "OEBPS/content.opf",
            '<?xml version="1.0"?>'
            '<package xmlns="http://www.idpf.org/2007/opf">'
            '<manifest><item id="c2" href="ch2.xhtml"/>'
            '<item id="c1" href="ch1.xhtml"/></manifest>'
            '<spine><itemref idref="c1"/><itemref idref="c2"/></spine>'
            "</package>")
        zf.writestr("OEBPS/ch1.xhtml", ch1)
        zf.writestr("OEBPS/ch2.xhtml", ch2)
    return buf.getvalue()


def build_odt(nid: int, text: str) -> bytes:
    """An OpenDocument text file with the family decomposition: heading
    + paragraphs, 2x3 table on even ids, a 3-item list on nid%4==3."""
    import io

    words = _words(text)
    T = "urn:oasis:names:tc:opendocument:xmlns:text:1.0"
    TAB = "urn:oasis:names:tc:opendocument:xmlns:table:1.0"
    O = "urn:oasis:names:tc:opendocument:xmlns:office:1.0"

    def esc(t):
        return (t.replace("&", "&amp;").replace("<", "&lt;")
                .replace(">", "&gt;"))

    parts = [
        f'<?xml version="1.0"?><office:document-content '
        f'xmlns:office="{O}" xmlns:text="{T}" xmlns:table="{TAB}">'
        "<office:body><office:text>",
        '<text:h text:outline-level="1">'
        + esc(" ".join(words[:HEAD_WORDS])) + "</text:h>",
    ]
    if nid % 2 == 0 and len(words) >= 6:
        parts.append("<table:table>")
        for row in (words[:3], words[3:6]):
            parts.append("<table:table-row>")
            for cell in row:
                parts.append("<table:table-cell><text:p>" + esc(cell)
                             + "</text:p></table:table-cell>")
            parts.append("</table:table-row>")
        parts.append("</table:table>")
    if nid % 4 == 3 and len(words) >= 6:
        parts.append("<text:list>")
        for wd in words[3:6]:
            parts.append("<text:list-item><text:p>" + esc(wd)
                         + "</text:p></text:list-item>")
        parts.append("</text:list>")
    for chunk in _chunks(words[HEAD_WORDS:], PARA_WORDS):
        parts.append("<text:p>" + esc(" ".join(chunk)) + "</text:p>")
    parts.append("</office:text></office:body></office:document-content>")
    buf = io.BytesIO()

    class _DetZip(zipfile.ZipFile):
        def writestr(self, name, data, *a, **kw):  # noqa: D102
            info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            super().writestr(info, data, *a, **kw)

    with _DetZip(buf, "w") as zf:
        zf.writestr("mimetype", "application/vnd.oasis.opendocument.text")
        zf.writestr("content.xml", "".join(parts))
    return buf.getvalue()


def build_scanned_pdf() -> bytes:
    """A scanned-style PDF: one page whose content is a single
    full-page image XObject Do — a real text-layer-absent document, so
    the triage path classifies it ``needs_ocr`` (not a parse error)."""
    content = b"q 512 0 0 660 50 80 cm /Im1 Do Q"
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [4 0 R] /Count 1 >>",
        4: (b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /XObject << /Im1 102 0 R >> >> "
            b"/Contents 5 0 R >>"),
        5: (f"<< /Length {len(content)} >>".encode()
            + b"\nstream\n" + content + b"\nendstream"),
        102: (
            b"<< /Type /XObject /Subtype /Image /Width 64 /Height 48 "
            b"/BitsPerComponent 8 /ColorSpace /DeviceRGB "
            b"/Filter /DCTDecode "
            + f"/Length {len(EMBEDDED_JPEG)} >>".encode()
            + b"\nstream\n" + EMBEDDED_JPEG + b"\nendstream"
        ),
    }
    out = bytearray(b"%PDF-1.4\n")
    for n in sorted(objs):
        out += f"{n} 0 obj\n".encode() + objs[n] + b"\nendobj\n"
    out += b"trailer\n<< /Root 1 0 R >>\n%%EOF\n"
    return bytes(out)


OCR_FIXTURES = os.path.join(REPO, "fixtures", "ocr_corpus")


def _ocr_composite(frags: list, pad: int = 12):
    """Paste rendered fragments [(img2d, top, left)] onto one white
    canvas (min-blend, so overlaps stay ink)."""
    import numpy as np

    h = max(t + f.shape[0] for f, t, _ in frags) + pad
    w = max(left + f.shape[1] for f, _, left in frags) + pad
    canvas = np.full((h, w), 255, np.uint8)
    for f, t, left in frags:
        region = canvas[t:t + f.shape[0], left:left + f.shape[1]]
        np.minimum(region, f, out=region)
    return canvas


def build_scanned_pdf_pages(pages: list[tuple], rotate: int = 0) -> bytes:
    """N scanned pages → a text-layer-absent PDF, one full-page image
    XObject per page placed 1:1 (1 px = 1 pt) at a fixed margin — the
    triage path classifies it ``needs_ocr`` and the OCR tier recovers
    the text.  A page is ``(jpeg_bytes, w, h, gray)`` (DCTDecode) or
    ``(raw_pixel_bytes, w, h, gray, "flate")`` (FlateDecode — the
    lossless scanner class)."""
    import zlib

    margin = 20
    objs: dict[int, bytes] = {}
    kids: list[int] = []
    nxt = 4
    for idx, page_spec in enumerate(pages):
        jp, w, h, gray = page_spec[:4]
        codec = page_spec[4] if len(page_spec) > 4 else "jpeg"
        pg, ct, im = nxt, nxt + 1, 100 + idx
        nxt += 2
        kids.append(pg)
        content = f"q {w} 0 0 {h} {margin} {margin} cm /Im1 Do Q".encode()
        rot = f"/Rotate {rotate} " if rotate else ""
        objs[pg] = (
            f"<< /Type /Page {rot}/Parent 2 0 R /MediaBox "
            f"[0 0 {w + 2 * margin} {h + 2 * margin}] "
            f"/Resources << /XObject << /Im1 {im} 0 R >> >> "
            f"/Contents {ct} 0 R >>"
        ).encode()
        objs[ct] = (f"<< /Length {len(content)} >>".encode()
                    + b"\nstream\n" + content + b"\nendstream")
        cs = b"/DeviceGray" if gray else b"/DeviceRGB"
        bpc = 8
        if codec == "flate":
            payload = zlib.compress(jp)
            filt = b" /Filter /FlateDecode "
        elif codec == "flate1":
            # bilevel: threshold the grayscale page, pack bits MSB-first
            # with byte-padded rows (1 = white per DeviceGray)
            import numpy as np

            arr = np.frombuffer(jp, np.uint8).reshape(h, w)
            bits = (arr > 127).astype(np.uint8)
            stride = (w + 7) // 8
            padded = np.zeros((h, stride * 8), np.uint8)
            padded[:, :w] = bits
            packed = np.packbits(padded, axis=1).tobytes()
            payload = zlib.compress(packed)
            filt = b" /Filter /FlateDecode "
            bpc = 1
        else:
            payload = jp
            filt = b" /Filter /DCTDecode "
        objs[im] = (
            f"<< /Type /XObject /Subtype /Image /Width {w} /Height {h} "
            .encode()
            + f"/BitsPerComponent {bpc} /ColorSpace ".encode() + cs + filt
            + f"/Length {len(payload)} >>".encode()
            + b"\nstream\n" + payload + b"\nendstream"
        )
    objs[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
    objs[2] = (b"<< /Type /Pages /Kids ["
               + b" ".join(f"{k} 0 R".encode() for k in kids)
               + f"] /Count {len(kids)} >>".encode())
    out = bytearray(b"%PDF-1.4\n")
    for n in sorted(objs):
        out += f"{n} 0 obj\n".encode() + objs[n] + b"\nendobj\n"
    out += b"trailer\n<< /Root 1 0 R >>\n%%EOF\n"
    return bytes(out)


def build_ocr_corpus() -> None:
    """``fixtures/ocr_corpus/``: scanned (text-layer-absent) PDFs whose
    page images are rendered by the OCR kernel's own atlas and encoded
    with the repo's JPEG encoder — ground truth is exactly the source
    lines under ``render_normalize``, so the whole loop (render → JPEG
    → PDF → triage → decode → OCR → layout) is deterministic."""
    import numpy as np

    from parserpdf_spark.kernels.jpeg import encode_jpeg_baseline
    from parserpdf_spark.kernels.ocr import render_text

    src = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    by_id = dict(zip(src["doc_id"].astype(int), src["text"]))
    ids = sorted(by_id)

    if os.path.isdir(OCR_FIXTURES):
        shutil.rmtree(OCR_FIXTURES)
    os.makedirs(OCR_FIXTURES)

    def frag(lines: list[str], scale: int):
        return render_text(lines, scale=scale, margin=0)

    def gray_jpeg(img, **kw) -> tuple[bytes, int, int, bool]:
        return (encode_jpeg_baseline(img, **kw), img.shape[1],
                img.shape[0], True)

    def rgb_jpeg(img, **kw) -> tuple[bytes, int, int, bool]:
        rgb = np.stack([img, img, img], axis=-1)
        return (encode_jpeg_baseline(rgb, **kw), img.shape[1],
                img.shape[0], False)

    # scan_0: heading (scale 3) over two paragraphs (scale 2, split by a
    # blank line), grayscale q90
    w0 = _words(by_id[ids[0]])
    head = frag([" ".join(w0[:3])], 3)
    body = frag(_wrap_words(w0[3:18], 4) + [""] + _wrap_words(w0[18:33], 4), 2)
    page = _ocr_composite([(head, 16, 16), (body, 70, 16)])
    with open(os.path.join(OCR_FIXTURES, "scan_0.pdf"), "wb") as fh:
        fh.write(build_scanned_pdf_pages([gray_jpeg(page, quality=90)]))

    # scan_1: TWO pages (page-order matters), RGB q88
    w1 = _words(by_id[ids[1]])
    pg_a = _ocr_composite([
        (frag([" ".join(w1[:2])], 3), 16, 16),
        (frag(_wrap_words(w1[2:14], 4), 2), 64, 16),
    ])
    pg_b = _ocr_composite([(frag(_wrap_words(w1[14:26], 4), 2), 16, 16)])
    with open(os.path.join(OCR_FIXTURES, "scan_1.pdf"), "wb") as fh:
        fh.write(build_scanned_pdf_pages(
            [rgb_jpeg(pg_a, quality=88), rgb_jpeg(pg_b, quality=88)]))

    # scan_2: wide heading ABOVE a two-column body (the right column is
    # deliberately pasted OFF the left column's cell grid), gray q90 —
    # exercises per-segment grid phase, column clustering, and the
    # spanning-block band split in the layout kernel
    w2 = _words(by_id[ids[2]])
    head2 = frag([" ".join(w2[:5])], 3)
    left = frag(_wrap_words(w2[5:17], 3), 2)
    right = frag(_wrap_words(w2[17:29], 3), 2)
    page2 = _ocr_composite([
        (head2, 14, 14),
        (left, 70, 14),
        (right, 70, 14 + left.shape[1] + 41),
    ])
    with open(os.path.join(OCR_FIXTURES, "scan_2.pdf"), "wb") as fh:
        fh.write(build_scanned_pdf_pages([gray_jpeg(page2, quality=90)]))

    # scan_3: a photograph (smooth field + noise) — no glyph content;
    # the reject gate must keep this needs_ocr, not transcribe garbage
    rng = np.random.RandomState(42)
    yy, xx = np.mgrid[0:160, 0:240]
    photo = (128 + 80 * np.sin(xx / 9.0) * np.cos(yy / 11.0)
             + rng.randint(-30, 30, (160, 240))).clip(0, 255).astype(np.uint8)
    with open(os.path.join(OCR_FIXTURES, "scan_3.pdf"), "wb") as fh:
        fh.write(build_scanned_pdf_pages([gray_jpeg(photo, quality=85)]))

    # scan_4: truncated JPEG payload — the OCR tier surfaces the codec's
    # ValueError as ingest_status="error" (keep-with-status)
    trunc = gray_jpeg(page, quality=90)[0][:64]
    with open(os.path.join(OCR_FIXTURES, "scan_4.pdf"), "wb") as fh:
        fh.write(build_scanned_pdf_pages(
            [(trunc, page.shape[1], page.shape[0], True)]))

    # scan_5: digits + punctuation, 4:2:0 chroma subsampling, q85
    w5 = _words(by_id[ids[3]])
    lines5 = [
        "invoice no. 4711 / 2026",
        "total: $1,234.56 (+7.5%)",
        "approved? yes! \"signed\"",
    ] + _wrap_words(w5[:8], 4)
    page5 = _ocr_composite([(frag(lines5, 2), 16, 16)])
    with open(os.path.join(OCR_FIXTURES, "scan_5.pdf"), "wb") as fh:
        fh.write(build_scanned_pdf_pages(
            [rgb_jpeg(page5, quality=85, subsample=True)]))

    # scan_6: MIXED content — a text region above a photographic strip
    # in ONE page image.  The band-level confidence gate must keep the
    # text and drop the strip (neither wholesale rejection nor garbage)
    w6 = _words(by_id[ids[5]])
    text6 = frag([" ".join(w6[:3])], 3)
    body6 = frag(_wrap_words(w6[3:15], 4), 2)
    h_txt = 70 + body6.shape[0]
    width6 = max(text6.shape[1], body6.shape[1], 260) + 28
    page6 = np.full((h_txt + 130, width6), 255, np.uint8)
    page6[16:16 + text6.shape[0], 16:16 + text6.shape[1]] = text6
    page6[70:70 + body6.shape[0], 16:16 + body6.shape[1]] = body6
    strip_rng = np.random.RandomState(6)
    page6[h_txt + 20:h_txt + 120, 10:width6 - 10] = strip_rng.randint(
        0, 255, (100, width6 - 20), dtype=np.uint8)
    with open(os.path.join(OCR_FIXTURES, "scan_6.pdf"), "wb") as fh:
        fh.write(build_scanned_pdf_pages([gray_jpeg(page6, quality=88)]))

    # scan_7: FlateDecode raw-pixel page image (the lossless scanner
    # class) — crisp pixels, recovered via the XObject's own geometry
    # rather than a self-describing codec stream
    w7 = _words(by_id[ids[6]])
    page7 = _ocr_composite([
        (frag([" ".join(w7[:4])], 3), 14, 14),
        (frag(_wrap_words(w7[4:16], 4), 2), 62, 14),
    ])
    with open(os.path.join(OCR_FIXTURES, "scan_7.pdf"), "wb") as fh:
        fh.write(build_scanned_pdf_pages([
            (page7.tobytes(), page7.shape[1], page7.shape[0], True,
             "flate"),
        ]))

    # scan_8: 1-bit BILEVEL FlateDecode page (the classic scanner
    # output: CCITT's pixel layout without CCITT's historical tables) —
    # width chosen off a byte boundary to exercise row padding
    w8 = _words(by_id[ids[7]])
    page8 = _ocr_composite([
        (frag([" ".join(w8[:2])], 3), 14, 14),
        (frag(_wrap_words(w8[2:12], 5), 2), 60, 14),
    ], pad=17)  # odd pad -> width % 8 != 0 with high likelihood
    with open(os.path.join(OCR_FIXTURES, "scan_8.pdf"), "wb") as fh:
        fh.write(build_scanned_pdf_pages([
            (page8.tobytes(), page8.shape[1], page8.shape[0], True,
             "flate1"),
        ]))

    # scan_9: a ROTATED scan (/Rotate 90; the stored image is the
    # upright page rotated CCW, as scanners emit landscape pages) —
    # the OCR tier must upright the pixels and map text into the
    # visual page space
    w9 = _words(by_id[ids[8]])
    page9 = _ocr_composite([
        (frag([" ".join(w9[:3])], 3), 14, 14),
        (frag(_wrap_words(w9[3:13], 5), 2), 60, 14),
    ])
    stored9 = np.ascontiguousarray(np.rot90(page9, 1))
    with open(os.path.join(OCR_FIXTURES, "scan_9.pdf"), "wb") as fh:
        fh.write(build_scanned_pdf_pages(
            [gray_jpeg(stored9, quality=90)], rotate=90))

    # a plain HTML file in the same directory: the OCR router must
    # delegate non-needs_ocr inputs to the ordinary route unchanged
    html_id = ids[4]
    spans = synth_html_doc(str(html_id), by_id[html_id], html_id)
    with open(os.path.join(OCR_FIXTURES, f"doc_{html_id}.html"), "w") as fh:
        fh.write("".join(s["text"] for s in spans))


def build_ocr_goldens() -> None:
    from parserpdf_spark.sources.files import ocr_route_file

    span_rows = {"doc_id": [], "kind": [], "text": [], "media_ref": [],
                 "offset": []}
    status_rows = {"doc_id": [], "src_path": [], "ingest_status": [],
                   "n_spans": []}
    for name in sorted(os.listdir(OCR_FIXTURES)):
        path = os.path.join(OCR_FIXTURES, name)
        with open(path, "rb") as fh:
            routed = ocr_route_file(path, fh.read())
        status_rows["doc_id"].append(routed["doc_id"])
        status_rows["src_path"].append(_rel(routed["src_path"]))
        status_rows["ingest_status"].append(routed["ingest_status"])
        status_rows["n_spans"].append(len(routed["spans"]))
        if routed["ingest_status"] != "ok":
            continue
        out, metrics = extract_document_safe(routed["spans"])
        assert metrics["status"] == "ok", (name, metrics)
        for s in out:
            span_rows["doc_id"].append(routed["doc_id"])
            span_rows["kind"].append(s["kind"])
            span_rows["text"].append(s["text"])
            span_rows["media_ref"].append(s["media_ref"])
            span_rows["offset"].append(s["offset"])

    spans = pd.DataFrame(span_rows)
    spans["offset"] = spans["offset"].astype("int32")
    spans.to_parquet(os.path.join(GOLDENS, "extract_ocr.parquet"),
                     index=False)
    status = pd.DataFrame(status_rows)
    status["n_spans"] = status["n_spans"].astype("int32")
    status.to_parquet(
        os.path.join(GOLDENS, "ocr_ingest_status.parquet"), index=False
    )
    print(
        f"{OCR_FIXTURES}: {len(status)} files; ocr goldens: "
        f"{len(spans)} spans, {spans['doc_id'].nunique()} extractable docs"
    )


def build_corpus() -> None:
    src = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    by_id = dict(zip(src["doc_id"].astype(int), src["text"]))

    if os.path.isdir(FIXTURES):
        shutil.rmtree(FIXTURES)
    os.makedirs(FIXTURES)

    html_ids = sorted(i for i in by_id if i % 3 == 0)
    docx_ids = sorted(i for i in by_id if i % 3 == 1)

    for i in html_ids[:12]:
        spans = synth_html_doc(str(i), by_id[i], i)
        html = "".join(s["text"] for s in spans)
        with open(os.path.join(FIXTURES, f"doc_{i}.html"), "w") as fh:
            fh.write(html)
    for i in html_ids[12:18]:
        spans = synth_html_doc(str(i), by_id[i], i)
        with open(os.path.join(FIXTURES, f"doc_{i}.htm"), "w") as fh:
            fh.write("".join(s["text"] for s in spans))

    for i in docx_ids[:8]:
        with open(os.path.join(FIXTURES, f"doc_{i}.docx"), "wb") as fh:
            fh.write(build_docx(i, by_id[i]))

    # real text-bearing PDFs through the binary kernel: raw, Flate,
    # Flate + embedded DCTDecode image XObject, Type0/Identity-H
    pdf_ids = docx_ids[8:12]
    variants = [
        {"compress": False},
        {"compress": True},
        {"compress": True, "with_image": True},
        {"compress": True, "font_mode": "type0"},
    ]
    for i, kw in zip(pdf_ids, variants):
        with open(os.path.join(FIXTURES, f"doc_{i}.pdf"), "wb") as fh:
            fh.write(build_pdf(i, by_id[i], **kw))

    # CID/CMap breadth: embedded /Encoding CMap stream (1-byte ASCII
    # codespace + identity cidrange), and a predefined-UCS2 CJK document
    # (non-latin text, codes ARE the UCS-2 code points)
    cmap_id = docx_ids[14]
    with open(os.path.join(FIXTURES, f"doc_{cmap_id}.pdf"), "wb") as fh:
        fh.write(build_pdf(cmap_id, by_id[cmap_id], compress=True,
                           font_mode="cmap"))
    cjk_id = docx_ids[15]
    with open(os.path.join(FIXTURES, f"doc_{cjk_id}.pdf"), "wb") as fh:
        fh.write(build_pdf(cjk_id, cjk_text(cjk_id), compress=True,
                           font_mode="ucs2"))

    # a /Rotate 180 text page: blocks must lay out in VISUAL space, so
    # the extraction order is the reverse of the unrotated layout
    rot_id = docx_ids[23]
    with open(os.path.join(FIXTURES, f"doc_{rot_id}.pdf"), "wb") as fh:
        fh.write(build_pdf(rot_id, by_id[rot_id], compress=True,
                           rotate=180))

    # raw-charset predefined CMap (GBK-EUC-H) rescued by the font's own
    # /ToUnicode — the registry-free CJK fallback; a pure raw-charset
    # file (no ToUnicode) still triages needs_prechunk (unit-tested)
    gbk_id = docx_ids[22]
    with open(os.path.join(FIXTURES, f"doc_{gbk_id}.pdf"), "wb") as fh:
        fh.write(build_pdf(gbk_id, cjk_text(gbk_id + 1), compress=True,
                           font_mode="gbk"))

    # encrypted PDFs with an EMPTY user password (owner-restricted, the
    # class every viewer opens silently): RC4-128 and AES-256/R6 — both
    # decrypt through the standard security handler and
    # extract normally (ingest_status "ok")
    rc4_id = docx_ids[17]
    with open(os.path.join(FIXTURES, f"doc_{rc4_id}.pdf"), "wb") as fh:
        fh.write(encrypt_pdf(
            build_pdf(rc4_id, by_id[rc4_id], compress=True), "rc4"))
    a256_id = docx_ids[18]
    with open(os.path.join(FIXTURES, f"doc_{a256_id}.pdf"), "wb") as fh:
        fh.write(encrypt_pdf(
            build_pdf(a256_id, by_id[a256_id], compress=True), "aes256"))

    # PDF 1.5 object-stream layout (catalog/pages/font inside /ObjStm)
    objstm_id = docx_ids[13]
    with open(os.path.join(FIXTURES, f"doc_{objstm_id}.pdf"), "wb") as fh:
        fh.write(build_pdf(objstm_id, by_id[objstm_id], compress=True,
                           objstm=True))

    # legacy Word binary through the CFB + piece-table kernel: one
    # style-free (all-<p> degraded path) and one with the STSH/PAPX
    # style machinery (title paragraph → heading span in the golden)
    doc_id_legacy = docx_ids[12]
    with open(os.path.join(FIXTURES, f"doc_{doc_id_legacy}.doc"), "wb") as fh:
        fh.write(build_doc(doc_id_legacy, by_id[doc_id_legacy]))
    doc_id_styled = docx_ids[16]
    with open(os.path.join(FIXTURES, f"doc_{doc_id_styled}.doc"), "wb") as fh:
        fh.write(build_doc(doc_id_styled, by_id[doc_id_styled], styled=True))

    # RTF and EPUB through their shim kernels
    rtf_id = docx_ids[19]
    with open(os.path.join(FIXTURES, f"doc_{rtf_id}.rtf"), "wb") as fh:
        fh.write(build_rtf(rtf_id, by_id[rtf_id]))
    epub_id = docx_ids[20]
    with open(os.path.join(FIXTURES, f"doc_{epub_id}.epub"), "wb") as fh:
        fh.write(build_epub(epub_id, by_id[epub_id]))

    odt_id = docx_ids[21]
    with open(os.path.join(FIXTURES, f"doc_{odt_id}.odt"), "wb") as fh:
        fh.write(build_odt(odt_id, by_id[odt_id]))

    # markdown passthrough fixtures: one plain, one exercising every
    # block kind the splitter handles
    md_ids = [i for i in html_ids[18:] if len(_words(by_id[i])) >= 40][:2]
    words0 = _words(by_id[md_ids[0]])
    plain_md = "# " + " ".join(words0[:HEAD_WORDS]) + "\n\n" + "\n\n".join(
        " ".join(c) for c in _chunks(words0[HEAD_WORDS:], PARA_WORDS)
    )
    with open(os.path.join(FIXTURES, f"doc_{md_ids[0]}.md"), "w") as fh:
        fh.write(plain_md + "\n")
    w1 = _words(by_id[md_ids[1]])
    rich_md = "\n\n".join([
        "# " + " ".join(w1[:3]),
        " ".join(w1[3:15]),
        "- " + "\n- ".join(w1[15:18]),
        "| a | b |\n|---|---|\n| " + w1[18] + " | " + w1[19] + " |",
        "```\ncode = 1\n```",
        "![](media/fig_1.png)",
        "**Fig. 1 " + " ".join(w1[20:22]) + ".**",
        " ".join(w1[22:30]),
    ])
    with open(os.path.join(FIXTURES, f"doc_{md_ids[1]}.md"), "w") as fh:
        fh.write(rich_md + "\n")

    # edge cases: corrupt docx, pdf needing the pre-chunker, skipped kinds
    with open(os.path.join(FIXTURES, "broken_99.docx"), "wb") as fh:
        fh.write(b"this is not an OOXML zip archive")
    with open(os.path.join(FIXTURES, "report_7.pdf"), "wb") as fh:
        fh.write(b"%PDF-1.4\n% fake binary for the pre-chunker contract\n")
    # PDF triage classes: scanned (image XObject, no text layer) and
    # encrypted — distinct statuses so a 100 TB ingest can route them
    with open(os.path.join(FIXTURES, "scanned_3.pdf"), "wb") as fh:
        fh.write(build_scanned_pdf())
    # a GENUINELY user-password-protected file: empty-password
    # authentication fails → stays ingest_status "encrypted"
    with open(os.path.join(FIXTURES, "locked_4.pdf"), "wb") as fh:
        fh.write(encrypt_pdf(
            build_pdf(4, by_id[docx_ids[0]], compress=True), "aes",
            user=b"secret-user-pw"))
    with open(os.path.join(FIXTURES, "readme_1.txt"), "w") as fh:
        fh.write("plain text sidecar, not an extraction input\n")
    with open(os.path.join(FIXTURES, "LICENSE"), "w") as fh:
        fh.write("no extension at all\n")


WARC_FIXTURES = os.path.join(REPO, "fixtures", "warc")


def _warc_record(wtype: str, uri: str | None, payload: bytes, rec_no: int) -> bytes:
    headers = [
        "WARC/1.0",
        f"WARC-Type: {wtype}",
        f"WARC-Record-ID: <urn:uuid:00000000-0000-0000-0000-{rec_no:012d}>",
        "WARC-Date: 2026-01-01T00:00:00Z",
    ]
    if uri:
        headers.append(f"WARC-Target-URI: {uri}")
    headers.append(f"Content-Length: {len(payload)}")
    return "\r\n".join(headers).encode() + b"\r\n\r\n" + payload + b"\r\n\r\n"


def _http_response(body: bytes, ctype: str) -> bytes:
    head = (
        f"HTTP/1.1 200 OK\r\nContent-Type: {ctype}\r\n"
        f"Content-Length: {len(body)}\r\n\r\n"
    ).encode("latin-1")
    return head + body


def build_warc_corpus() -> None:
    """Three deterministic WARC files (one gzipped): html captures that
    must extract, plus warcinfo/request/image/bad-utf8 records that must
    surface as skipped/error — never silently vanish."""
    import gzip

    src = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    by_id = dict(zip(src["doc_id"].astype(int), src["text"]))
    html_of = lambda i: "".join(  # noqa: E731
        s["text"] for s in synth_html_doc(str(i), by_id[i], i)
    ).encode()
    ids = sorted(i for i in by_id if i % 3 == 2)  # family-2 ids, unused above

    if os.path.isdir(WARC_FIXTURES):
        shutil.rmtree(WARC_FIXTURES)
    os.makedirs(WARC_FIXTURES)
    rec_no = 0

    def rec(wtype, uri, payload):
        nonlocal rec_no
        rec_no += 1
        return _warc_record(wtype, uri, payload, rec_no)

    uri_of = lambda i: f"https://crawl.example/docs/doc_{i}.html"  # noqa: E731

    w0 = [rec("warcinfo", None, b"software: synthetic-crawler/1.0\r\n")]
    for i in ids[:6]:
        w0.append(rec("response", uri_of(i), _http_response(html_of(i), "text/html; charset=utf-8")))
    w0.append(rec("request", uri_of(ids[0]), b"GET /docs HTTP/1.1\r\nHost: crawl.example\r\n"))
    w0.append(rec("response", "https://crawl.example/img/logo_3.jpeg",
                  _http_response(b"\xff\xd8\xff fake jpeg", "image/jpeg")))
    with open(os.path.join(WARC_FIXTURES, "crawl_0.warc"), "wb") as fh:
        fh.write(b"".join(w0))

    w1 = [rec("response", uri_of(i), _http_response(html_of(i), "text/html"))
          for i in ids[6:12]]
    w1.append(rec("response", "https://crawl.example/docs/broken_5.html",
                  _http_response(b"\xff\xfe not utf8 \x80", "text/html")))
    with open(os.path.join(WARC_FIXTURES, "crawl_1.warc"), "wb") as fh:
        fh.write(b"".join(w1))

    w2 = [rec("response", uri_of(i), _http_response(html_of(i), "application/xhtml+xml"))
          for i in ids[12:16]]
    with open(os.path.join(WARC_FIXTURES, "crawl_2.warc.gz"), "wb") as fh:
        fh.write(gzip.compress(b"".join(w2), mtime=0))  # deterministic bytes


def build_warc_goldens() -> None:
    from parserpdf_spark.sources.warc import warc_file_rows

    span_rows = {"doc_id": [], "kind": [], "text": [], "media_ref": [], "offset": []}
    status_rows = {
        "doc_id": [], "src_path": [], "record_uri": [], "record_type": [],
        "content_type": [], "ingest_status": [],
    }
    for name in sorted(os.listdir(WARC_FIXTURES)):
        path = os.path.join(WARC_FIXTURES, name)
        with open(path, "rb") as fh:
            rows = warc_file_rows(path, fh.read())
        for r in rows:
            for k in status_rows:
                status_rows[k].append(_rel(r[k]) if k == "src_path" else r[k])
            if r["ingest_status"] != "ok":
                continue
            out, metrics = extract_document_safe(r["spans"])
            assert metrics["status"] == "ok", (name, r["record_uri"], metrics)
            for s in out:
                span_rows["doc_id"].append(r["doc_id"])
                span_rows["kind"].append(s["kind"])
                span_rows["text"].append(s["text"])
                span_rows["media_ref"].append(s["media_ref"])
                span_rows["offset"].append(s["offset"])

    spans = pd.DataFrame(span_rows)
    spans["offset"] = spans["offset"].astype("int32")
    spans.to_parquet(os.path.join(GOLDENS, "extract_warc.parquet"), index=False)
    pd.DataFrame(status_rows).to_parquet(
        os.path.join(GOLDENS, "warc_ingest_status.parquet"), index=False
    )
    print(
        f"{WARC_FIXTURES}: {len(status_rows['ingest_status'])} records; "
        f"goldens: {len(spans)} spans, {spans['doc_id'].nunique()} docs"
    )


def build_goldens() -> None:
    from parserpdf_spark.sources.files import route_file

    span_rows = {"doc_id": [], "kind": [], "text": [], "media_ref": [], "offset": []}
    status_rows = {"doc_id": [], "src_path": [], "ingest_status": [], "n_spans": []}
    for name in sorted(os.listdir(FIXTURES)):
        path = os.path.join(FIXTURES, name)
        with open(path, "rb") as fh:
            routed = route_file(path, fh.read())
        status_rows["doc_id"].append(routed["doc_id"])
        status_rows["src_path"].append(_rel(routed["src_path"]))
        status_rows["ingest_status"].append(routed["ingest_status"])
        status_rows["n_spans"].append(len(routed["spans"]))
        if routed["ingest_status"] != "ok":
            continue
        out, metrics = extract_document_safe(routed["spans"])
        assert metrics["status"] == "ok", (name, metrics)
        for s in out:
            span_rows["doc_id"].append(routed["doc_id"])
            span_rows["kind"].append(s["kind"])
            span_rows["text"].append(s["text"])
            span_rows["media_ref"].append(s["media_ref"])
            span_rows["offset"].append(s["offset"])

    os.makedirs(GOLDENS, exist_ok=True)
    spans = pd.DataFrame(span_rows)
    spans["offset"] = spans["offset"].astype("int32")
    spans.to_parquet(os.path.join(GOLDENS, "extract_files.parquet"), index=False)
    status = pd.DataFrame(status_rows)
    status["n_spans"] = status["n_spans"].astype("int32")
    status.to_parquet(
        os.path.join(GOLDENS, "file_ingest_status.parquet"), index=False
    )
    print(
        f"{FIXTURES}: {len(status)} files; goldens: {len(spans)} spans, "
        f"{spans['doc_id'].nunique()} extractable docs"
    )


if __name__ == "__main__":
    build_corpus()
    build_goldens()
    build_warc_corpus()
    build_warc_goldens()
    build_ocr_corpus()
    build_ocr_goldens()
