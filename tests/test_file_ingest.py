"""File-bytes → docs ingestion bridge (sources/files.py) and the docx
shim kernel (kernels/docx_extract.py): the reference's *path in,
markdown out* loop (converters/pdf_to_md.py:121-189) run end-to-end on
the committed real-file fixture corpus."""

import os

import pytest
from pyspark.sql import functions as F

from parserpdf_spark.kernels.docx_extract import docx_to_html
from parserpdf_spark.operators.extract import extract_docs
from parserpdf_spark.sources.files import files_to_docs, ingested_docs, route_file
from parserpdf_spark.sources.scans import scan_files

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIXTURES = os.path.join(REPO, "fixtures", "files_corpus")


# ---------------------------------------------------------------------------
# docx kernel (pure python)
# ---------------------------------------------------------------------------

def _fixture_bytes(name: str) -> bytes:
    with open(os.path.join(FIXTURES, name), "rb") as fh:
        return fh.read()


def test_docx_to_html_structure():
    html = docx_to_html(_fixture_bytes("doc_1.docx"))
    assert html.startswith("<body><article><h1>")
    assert "<p>" in html
    assert '<img src="media/figure1.png"/>' in html  # nid%4==1 → image


def test_docx_table():
    html = docx_to_html(_fixture_bytes("doc_4.docx"))  # nid%2==0 → table
    assert "<table><tr><td>" in html


def test_docx_rejects_garbage():
    with pytest.raises(ValueError, match="not a docx"):
        docx_to_html(b"this is not an OOXML zip archive")
    with pytest.raises(ValueError, match="not a docx"):
        # a zip, but no word/document.xml inside
        import io
        import zipfile

        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as zf:
            zf.writestr("other.txt", "x")
        docx_to_html(buf.getvalue())


def test_docx_corrupt_deflate_is_error_row_not_zlib_error():
    """A structurally-valid zip whose word/document.xml deflate stream
    is corrupt raises zlib.error from zipfile.read — that must map to
    the ValueError → status='error' contract, not kill the task."""
    good = bytearray(_fixture_bytes("doc_1.docx"))
    # stomp bytes shortly after the first local file header's name —
    # inside the first member's deflate stream (document order: the
    # [Content_Types].xml member; any member corruption must be caught)
    start = good.find(b"word/document.xml")
    if start < 0:  # fall back to corrupting past the first header
        start = 60
    good[start + 40 : start + 56] = b"\x00" * 16
    with pytest.raises(ValueError, match="docx"):
        docx_to_html(bytes(good))
    row = route_file("/x/doc_1.docx", bytes(good))
    assert row["ingest_status"] == "error"


def test_route_file_statuses():
    assert route_file("/x/a.html", b"<p>hi</p>")["ingest_status"] == "ok"
    # a PDF outside the built-in text subset keeps the pre-chunker contract
    assert route_file("/x/a.pdf", b"%PDF-1.4 no objects")["ingest_status"] == "needs_prechunk"
    assert route_file("/x/a.pdf", b"not even a pdf")["ingest_status"] == "needs_prechunk"
    assert route_file("/x/a.txt", b"t")["ingest_status"] == "skipped"
    assert route_file("/x/LICENSE", b"t")["ingest_status"] == "skipped"
    bad = route_file("/x/a.docx", b"garbage")
    assert bad["ingest_status"] == "error" and "docx" in bad["ingest_error"]
    # invalid utf-8 html is an error row, not a task failure
    bad_utf = route_file("/x/a.html", b"\xff\xfe\x00broken")
    assert bad_utf["ingest_status"] == "error"
    # doc_id is the stem
    assert route_file("/deep/dir/my.file.html", b"<p>x</p>")["doc_id"] == "my.file"


# ---------------------------------------------------------------------------
# Spark bridge, end-to-end on the fixture corpus
# ---------------------------------------------------------------------------

def test_scan_to_extract_end_to_end(spark):
    files = scan_files(spark, FIXTURES, "*", with_content=True)
    bridged = files_to_docs(files)
    statuses = {
        r["ingest_status"]: r["n"]
        for r in bridged.groupBy("ingest_status").agg(F.count("*").alias("n")).collect()
    }
    assert statuses == {"ok": 44, "error": 1, "needs_prechunk": 1,
                        "skipped": 2, "encrypted": 1, "needs_ocr": 1}

    extracted, metrics = extract_docs(ingested_docs(bridged))
    assert metrics.filter(F.col("status") != "ok").count() == 0
    assert metrics.count() == 44

    # the distributed path reproduces the committed pure-python golden
    golden = spark.read.parquet(os.path.join(REPO, "goldens", "extract_files.parquet"))
    got = {tuple(r) for r in extracted.collect()}
    want = {tuple(r) for r in golden.select(*extracted.columns).collect()}
    assert got == want


def test_extract_job_over_raw_files(spark, tmp_path):
    """The spark-submit entry accepts a plain directory of files and
    reports both ingest statuses and extraction statuses."""
    import io
    import json
    from contextlib import redirect_stdout

    from parserpdf_spark.jobs.extract_job import main

    out = str(tmp_path / "jobout")
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = main(
            ["--input", FIXTURES, "--output", out, "--chunks", "4"],
            spark=spark,
        )
    assert rc == 0
    report = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert report["files_by_ingest_status"] == {
        "ok": 44, "error": 1, "needs_prechunk": 1, "skipped": 2,
        "encrypted": 1, "needs_ocr": 1,
    }
    assert report["docs_by_status"] == {"ok": 44}
    assert sorted(report["committed_this_run"]) == [0, 1, 2, 3]


def test_docx_and_html_agree_on_shared_structure(spark):
    """A docx doc and an html doc derived from the same source text get
    the same heading — one extraction path, two ingest formats."""
    files = scan_files(spark, FIXTURES, "*.docx", with_content=True)
    docs = ingested_docs(files_to_docs(files))
    extracted, _ = extract_docs(docs)
    headings = {
        r["doc_id"]: r["text"]
        for r in extracted.filter(F.col("kind") == "heading").collect()
    }
    import pandas as pd

    src = pd.read_parquet("/root/testdata/sf0.001/documents.parquet")
    by_id = dict(zip(src["doc_id"].astype(int), src["text"]))
    for doc_id, heading in headings.items():
        nid = int(doc_id.split("_")[1])
        words = [w for w in by_id[nid].split(" ") if w]
        assert heading == "# " + " ".join(words[:3])


# ---------------------------------------------------------------------------
# PDF binary kernel (pure python)
# ---------------------------------------------------------------------------

def test_pdf_binary_roundtrip_reading_order():
    """Real .pdf bytes (built fixtures, one raw + one Flate) parse into
    blocks whose kernel extraction reproduces the source text in exact
    2-column reading order."""
    import json

    import pandas as pd

    from parserpdf_spark.kernels.pdf_binary import pdf_to_blocks
    from parserpdf_spark.kernels.pdf_extract import extract_pdf_blocks

    src = pd.read_parquet("/root/testdata/sf0.001/documents.parquet")
    by_id = dict(zip(src["doc_id"].astype(int), src["text"]))
    for name in ("doc_25.pdf", "doc_28.pdf"):  # raw, FlateDecode
        blocks = pdf_to_blocks(_fixture_bytes(name))
        spans = extract_pdf_blocks([(json.dumps(b), None) for b in blocks])
        nid = int(name.split("_")[1].split(".")[0])
        words = [w for w in by_id[nid].split(" ") if w]
        assert spans[0]["kind"] == "heading"
        assert spans[0]["text"] == "# " + " ".join(words[:3])
        chunks = [
            " ".join(words[3:][i:i + 12])
            for i in range(0, len(words) - 3, 12)
        ]
        assert [s["text"] for s in spans if s["kind"] == "para"] == chunks


def test_pdf_binary_rejects_out_of_subset():
    from parserpdf_spark.kernels.pdf_binary import pdf_to_blocks

    with pytest.raises(ValueError, match="not a PDF"):
        pdf_to_blocks(b"plain bytes")
    with pytest.raises(ValueError, match="encrypted"):
        pdf_to_blocks(b"%PDF-1.4\n1 0 obj << /Encrypt 2 0 R >> endobj")
    with pytest.raises(ValueError, match="no extractable text"):
        pdf_to_blocks(b"%PDF-1.4\n%% nothing else")


def test_pdf_string_escapes():
    from parserpdf_spark.kernels.pdf_binary import _decode_pdf_string_bytes

    assert _decode_pdf_string_bytes(rb"a\(b\)c \\ d") == b"a(b)c \\ d"
    assert _decode_pdf_string_bytes(rb"x\ny\t\101") == b"x\ny\tA"


def test_pdf_type0_identity_h_roundtrip():
    """The Type0 fixture (hex-string CIDs, /W widths, ToUnicode CMap)
    extracts the same heading + 2-column paragraph sequence as the
    simple-font builds of the same source text."""
    import json

    import pandas as pd

    from parserpdf_spark.kernels.pdf_binary import pdf_to_blocks
    from parserpdf_spark.kernels.pdf_extract import extract_pdf_blocks

    src = pd.read_parquet("/root/testdata/sf0.001/documents.parquet")
    text = dict(zip(src["doc_id"].astype(int), src["text"]))[34]
    blocks = pdf_to_blocks(_fixture_bytes("doc_34.pdf"))
    spans = extract_pdf_blocks([(json.dumps(b), None) for b in blocks])
    words = [w for w in text.split(" ") if w]
    assert spans[0]["text"] == "# " + " ".join(words[:3])
    chunks = [" ".join(words[3:][i:i + 12])
              for i in range(0, len(words) - 3, 12)]
    assert [s["text"] for s in spans if s["kind"] == "para"] == chunks


def _cid_pdf(font_obj: bytes, extra_objs: dict, content: bytes) -> bytes:
    """A one-page PDF with the given /F1 font object + extras."""
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [4 0 R] /Count 1 >>",
        3: font_obj,
        4: (b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 3 0 R >> >> /Contents 5 0 R >>"),
        5: (f"<< /Length {len(content)} >>".encode()
            + b"\nstream\n" + content + b"\nendstream"),
    }
    objs.update(extra_objs)
    out = bytearray(b"%PDF-1.4\n")
    for n in sorted(objs):
        out += f"{n} 0 obj\n".encode() + objs[n] + b"\nendobj\n"
    out += b"trailer\n<< /Root 1 0 R >>\n%%EOF\n"
    return bytes(out)


_CID_DESC = b"<< /Type /Font /Subtype /CIDFontType0 /BaseFont /X /DW 1000 >>"


def test_pdf_ucs2_cjk_fixture_extracts_expected_text():
    """The committed UniJIS-UCS2-H fixture (doc_46.pdf) extracts the CJK
    title + paragraph — expectation derived independently from the
    deterministic vocabulary, not from the kernel."""
    import json
    import sys

    sys.path.insert(0, os.path.join(REPO, "tools"))
    from make_file_fixtures import cjk_text

    from parserpdf_spark.kernels.pdf_binary import pdf_to_blocks
    from parserpdf_spark.kernels.pdf_extract import extract_pdf_blocks

    words = cjk_text(46).split(" ")
    blocks = pdf_to_blocks(_fixture_bytes("doc_46.pdf"))
    spans = extract_pdf_blocks([(json.dumps(b), None) for b in blocks])
    assert spans[0]["text"] == "# " + " ".join(words[:3])
    assert [s["text"] for s in spans if s["kind"] == "para"] == [
        " ".join(words[3:15])
    ]


def test_pdf_embedded_cmap_mixed_codespace():
    """An embedded /Encoding CID CMap with a 1-byte ASCII codespace and
    a 2-byte range in the SAME string: variable-length code splitting,
    cidrange/cidchar lookup, and code-keyed ToUnicode."""
    import json

    from parserpdf_spark.kernels.pdf_binary import pdf_to_blocks
    from parserpdf_spark.kernels.pdf_extract import extract_pdf_blocks

    cmap = (b"/CIDInit /ProcSet findresource begin\n"
            b"2 begincodespacerange\n<20> <7E>\n<8140> <9FFF>\n"
            b"endcodespacerange\n"
            b"1 begincidrange\n<20> <7E> 32\nendcidrange\n"
            b"1 begincidchar\n<8141> 9000\nendcidchar\nend\n")
    enc = (f"<< /Length {len(cmap)} >>".encode()
           + b"\nstream\n" + cmap + b"\nendstream")
    tu = (b"1 beginbfchar\n<8141> <3042>\nendbfchar\n")
    tuo = (f"<< /Length {len(tu)} >>".encode()
           + b"\nstream\n" + tu + b"\nendstream")
    font = (b"<< /Type /Font /Subtype /Type0 /BaseFont /Y "
            b"/Encoding 101 0 R /DescendantFonts [100 0 R] "
            b"/ToUnicode 102 0 R >>")
    # "Hi " as 1-byte codes then <8141> as a 2-byte code, one hex string
    content = b"BT /F1 12 Tf 50 700 Td <4869208141> Tj ET"
    pdf = _cid_pdf(font, {100: _CID_DESC, 101: enc, 102: tuo}, content)
    blocks = pdf_to_blocks(pdf)
    spans = extract_pdf_blocks([(json.dumps(b), None) for b in blocks])
    assert [s["text"] for s in spans] == ["Hi あ"]


def test_pdf_type0_encoding_gates():
    """Identity-V is accepted; predefined raw-charset CMaps (Adobe
    registry tables we don't ship) raise → needs_prechunk; a hostile
    embedded cidrange must not expand into billions of dict entries."""
    from parserpdf_spark.kernels.pdf_binary import (
        _parse_cid_cmap,
        pdf_to_blocks,
    )

    content = b"BT /F1 12 Tf 50 700 Td <00480069> Tj ET"
    fv = (b"<< /Type /Font /Subtype /Type0 /BaseFont /X "
          b"/Encoding /Identity-V /DescendantFonts [100 0 R] >>")
    blocks = pdf_to_blocks(_cid_pdf(fv, {100: _CID_DESC}, content))
    assert blocks[0]["text"] == "Hi"

    fg = (b"<< /Type /Font /Subtype /Type0 /BaseFont /X "
          b"/Encoding /GBK-EUC-H /DescendantFonts [100 0 R] >>")
    with pytest.raises(ValueError, match="GBK-EUC-H"):
        pdf_to_blocks(_cid_pdf(fg, {100: _CID_DESC}, content))
    row = route_file("/x/gbk.pdf", _cid_pdf(fg, {100: _CID_DESC}, content))
    assert row["ingest_status"] == "needs_prechunk"

    # hostile 4-byte full-range cidrange: stays a range, returns fast
    cs, chars, ranges = _parse_cid_cmap(
        b"1 begincodespacerange <00000000> <FFFFFFFF> endcodespacerange\n"
        b"1 begincidrange <00000000> <FFFFFFFF> 0 endcidrange\n"
    )
    assert ranges == [(0, 0xFFFFFFFF, 0)] and chars == {}
    with pytest.raises(ValueError, match="usecmap|base"):
        _parse_cid_cmap(b"/GBK-EUC-H usecmap\n")


def test_pdf_embedded_image_spans_and_payload():
    """The image-bearing fixture yields a media block placed between
    title and body (→ an image span right after the heading, matching
    the reference's interleaved-image golden shape) and its JPEG payload
    byte-for-byte."""
    import sys

    from parserpdf_spark.kernels.pdf_binary import pdf_to_blocks_and_media
    from parserpdf_spark.sources.files import file_media_rows, route_file

    sys.path.insert(0, os.path.join(REPO, "tools"))
    from make_file_fixtures import EMBEDDED_JPEG

    data = _fixture_bytes("doc_31.pdf")
    blocks, media = pdf_to_blocks_and_media(data)
    img = [b for b in blocks if b.get("media_ref")]
    assert len(img) == 1 and img[0]["media_ref"] == "_page_0_Im1_obj102.jpeg"
    assert media == [{
        "media_ref": "_page_0_Im1_obj102.jpeg", "payload": EMBEDDED_JPEG,
        # decode-relevant XObject geometry rides along for consumers
        # that get a non-self-describing payload (the OCR tier)
        "width": 64, "height": 48, "gray": False, "bpc": 8,
    }]

    # routed spans carry the ref in the span's media_ref column
    routed = route_file("/x/doc_31.pdf", data)
    refs = [s["media_ref"] for s in routed["spans"] if s["media_ref"]]
    assert refs == ["_page_0_Im1_obj102.jpeg"]

    rows = file_media_rows("/x/doc_31.pdf", data)
    assert rows == [{"doc_id": "doc_31", "media_ref": "_page_0_Im1_obj102.jpeg",
                     "payload": EMBEDDED_JPEG}]
    # docx embedded media surfaces too (word/media/figure1.png)
    drows = file_media_rows("/x/doc_1.docx", _fixture_bytes("doc_1.docx"))
    assert [r["media_ref"] for r in drows] == ["media/figure1.png"]


def test_image_payloads_land_on_disk_via_k2_sink(spark, tmp_path):
    """files_to_media → export_image_payloads: the embedded JPEG bytes
    of a real PDF (and a docx media part) land at {out}/{doc_id}/{ref}."""
    import sys

    from parserpdf_spark.operators.sinks import export_image_payloads
    from parserpdf_spark.sources.files import files_to_media

    sys.path.insert(0, os.path.join(REPO, "tools"))
    from make_file_fixtures import EMBEDDED_JPEG

    files = scan_files(spark, FIXTURES, "doc_31.pdf", with_content=True)
    media = files_to_media(files)
    out = str(tmp_path / "img")
    n = export_image_payloads(media, out)
    assert n == 1
    with open(os.path.join(out, "doc_31", "_page_0_Im1_obj102.jpeg"), "rb") as fh:
        assert fh.read() == EMBEDDED_JPEG


def test_image_pdf_extracts_interleaved_image_span(spark):
    """End-to-end through the Spark bridge: the image-bearing PDF's
    extraction output interleaves kind='image' at the golden position."""
    files = scan_files(spark, FIXTURES, "doc_31.pdf", with_content=True)
    extracted, metrics = extract_docs(ingested_docs(files_to_docs(files)))
    rows = sorted(
        ((r["offset"], r["kind"], r["media_ref"]) for r in extracted.collect())
    )
    assert rows[0][1] == "heading"
    assert rows[1][1:] == ("image", "_page_0_Im1_obj102.jpeg")
    assert metrics.filter(F.col("n_images") != 1).count() == 0


def test_legacy_doc_roundtrip_and_route():
    """Legacy Word binary (.doc): the CFB + piece-table kernel recovers
    the exact paragraph text; route_file sends OLE2 bytes through it
    while corrupt .doc stays on the error-row contract."""
    import re

    import pandas as pd

    from parserpdf_spark.kernels.doc_extract import doc_to_html

    data = _fixture_bytes("doc_37.doc")
    src = pd.read_parquet("/root/testdata/sf0.001/documents.parquet")
    text = dict(zip(src["doc_id"].astype(int), src["text"]))[37]
    words = [w for w in text.split(" ") if w]
    paras = [" ".join(words[:3])] + [
        " ".join(words[3:][i:i + 12]) for i in range(0, len(words) - 3, 12)
    ]
    html = doc_to_html(data)
    assert html.startswith("<body><article><p>")
    assert re.findall(r"<p>(.*?)</p>", html) == paras

    routed = route_file("/x/doc_37.doc", data)
    assert routed["ingest_status"] == "ok"
    assert routed["spans"][0]["kind"] == "html"
    # non-OLE2 .doc bytes still produce an error row, never a crash
    assert route_file("/x/junk.doc", b"garbage")["ingest_status"] == "error"
    # corrupt OLE2 (magic only) → error row too
    assert route_file(
        "/x/trunc.doc", b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1" + b"\x00" * 100
    )["ingest_status"] == "error"


def test_markdown_ingestion_route():
    """.md files pass through the markdown splitter: every block kind in
    the rich fixture surfaces with its span kind."""
    routed = route_file(
        os.path.join(FIXTURES, "doc_60.md"), _fixture_bytes("doc_60.md")
    )
    assert routed["ingest_status"] == "ok"
    assert routed["spans"][0]["kind"] == "markdown"
    from parserpdf_spark.kernels.extract import extract_document_safe

    out, metrics = extract_document_safe(routed["spans"])
    assert metrics["status"] == "ok"
    kinds = [s["kind"] for s in out]
    assert kinds == ["heading", "para", "list", "table", "code", "image",
                     "caption", "para"]
    assert out[5]["media_ref"] == "media/fig_1.png"


def test_pdf_contents_array_and_kids_order():
    """ADVICE items: array-form /Contents concatenates (never silently
    skips a page), page order follows the /Kids tree (not object
    appearance), and an unresolvable /Contents raises."""
    from parserpdf_spark.kernels.pdf_binary import pdf_to_blocks

    def obj(num, body):
        return f"{num} 0 obj\n".encode() + body + b"\nendobj\n"

    stream = b"BT /F1 12 Tf 50 700 Td (PAGE-%d) Tj ET"

    def content_obj(num, page):
        c = stream.replace(b"%d", str(page).encode())
        return obj(num, b"<< /Length " + str(len(c)).encode()
                   + b" >>\nstream\n" + c + b"\nendstream")

    # page B appears FIRST in the file but is SECOND in /Kids
    pdf = (
        b"%PDF-1.4\n"
        + obj(1, b"<< /Type /Catalog /Pages 2 0 R >>")
        + obj(2, b"<< /Type /Pages /Kids [5 0 R 3 0 R] /Count 2 >>")
        + obj(3, b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 842] "
                 b"/Contents [6 0 R 7 0 R] >>")  # array form
        + content_obj(6, 2)
        + content_obj(7, 3)
        + obj(5, b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 842] "
                 b"/Contents 8 0 R >>")
        + content_obj(8, 1)
    )
    blocks = pdf_to_blocks(pdf)
    assert [(b["page"], b["text"]) for b in blocks] == [
        (0, "PAGE-1"), (1, "PAGE-2"), (1, "PAGE-3"),
    ]

    # unresolvable /Contents → ValueError, never a silently missing page
    broken = (
        b"%PDF-1.4\n"
        + obj(1, b"<< /Type /Catalog /Pages 2 0 R >>")
        + obj(2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
        + obj(3, b"<< /Type /Page /Parent 2 0 R /Contents 99 0 R >>")
    )
    with pytest.raises(ValueError, match="unresolvable"):
        pdf_to_blocks(broken)


def test_pdf_objstm_fixture_roundtrip():
    """The PDF 1.5 object-stream fixture (catalog/pages/font packed in a
    /Type /ObjStm — no 'N 0 obj' frames for them) extracts exactly."""
    import json

    import pandas as pd

    from parserpdf_spark.kernels.pdf_binary import pdf_to_blocks
    from parserpdf_spark.kernels.pdf_extract import extract_pdf_blocks

    data = _fixture_bytes("doc_40.pdf")
    assert data.startswith(b"%PDF-1.5")
    assert b"/ObjStm" in data
    src = pd.read_parquet("/root/testdata/sf0.001/documents.parquet")
    text = dict(zip(src["doc_id"].astype(int), src["text"]))[40]
    blocks = pdf_to_blocks(data)
    spans = extract_pdf_blocks([(json.dumps(b), None) for b in blocks])
    words = [w for w in text.split(" ") if w]
    assert spans[0]["text"] == "# " + " ".join(words[:3])
    chunks = [" ".join(words[3:][i:i + 12])
              for i in range(0, len(words) - 3, 12)]
    assert [s["text"] for s in spans if s["kind"] == "para"] == chunks


def test_pdf_w_array_and_tounicode_parsers():
    from parserpdf_spark.kernels.pdf_binary import (
        _parse_tounicode,
        _parse_w_array,
    )

    assert _parse_w_array(b"[1 [500 600] 7 12 400]") == {
        1: 500.0, 2: 600.0, **{c: 400.0 for c in range(7, 13)},
    }
    # triplet BEFORE a bracket run must not be dropped
    assert _parse_w_array(b"[7 8 450 1 [500]]") == {7: 450.0, 8: 450.0, 1: 500.0}
    tm = _parse_tounicode(
        b"beginbfchar\n<0041> <0042>\nendbfchar\n"
        b"beginbfrange\n<0050> <0052> <0061>\nendbfrange"
    )
    assert tm == {0x41: "B", 0x50: "a", 0x51: "b", 0x52: "c"}


def test_pdf_binary_corpus_roundtrip_500():
    """EVERY sf0.001 doc round-trips exactly through a built PDF — the
    width tables closed the former 11/500 estimated-width residue.
    Variants cycle raw/Flate/Type0/ObjStm/embedded-CMap so all decode
    paths get corpus-wide coverage."""
    import json
    import sys

    import pandas as pd

    sys.path.insert(0, os.path.join(REPO, "tools"))
    from make_file_fixtures import build_pdf

    from parserpdf_spark.kernels.pdf_binary import pdf_to_blocks
    from parserpdf_spark.kernels.pdf_extract import extract_pdf_blocks

    src = pd.read_parquet("/root/testdata/sf0.001/documents.parquet")
    by_id = dict(zip(src["doc_id"].astype(int), src["text"]))
    bad = []
    for nid, text in by_id.items():
        kw = [
            {"compress": False},
            {"compress": True},
            {"compress": True, "font_mode": "type0"},
            {"compress": True, "objstm": True},
            {"compress": True, "font_mode": "cmap"},
        ][nid % 5]
        blocks = pdf_to_blocks(build_pdf(nid, text, **kw))
        spans = extract_pdf_blocks([(json.dumps(b), None) for b in blocks])
        words = [w for w in text.split(" ") if w]
        chunks = [" ".join(words[3:][i:i + 12])
                  for i in range(0, len(words) - 3, 12)]
        ok = (
            spans
            and spans[0]["text"] == "# " + " ".join(words[:3])
            and [s["text"] for s in spans if s["kind"] == "para"] == chunks
        )
        if not ok:
            bad.append(nid)
    assert bad == []


def test_markdown_splitter_edge_cases():
    """Regression (review findings): heading directly followed by text,
    unclosed fence at EOF, and parenthesised image refs."""
    from parserpdf_spark.kernels.md_extract import markdown_to_spans

    spans = markdown_to_spans("# Title\nFirst paragraph sentence.")
    assert [(s["kind"], s["text"]) for s in spans] == [
        ("heading", "# Title"),
        ("para", "First paragraph sentence."),
    ]
    spans = markdown_to_spans("```\nline1\nline2")
    assert spans == [{"kind": "code", "text": "line1\nline2",
                      "media_ref": None}]
    spans = markdown_to_spans("![](fig(1).png)")
    assert spans == [{"kind": "image", "text": "",
                      "media_ref": "fig(1).png"}]


def test_markdown_splitter_second_review_findings():
    """Regression: consecutive headings stay headings; an image right
    after a heading survives; image lines with trailing content fall
    through to para (never a corrupt ref)."""
    from parserpdf_spark.kernels.md_extract import markdown_to_spans

    spans = markdown_to_spans("# Title\n## Section")
    assert [(s["kind"], s["text"]) for s in spans] == [
        ("heading", "# Title"), ("heading", "## Section"),
    ]
    spans = markdown_to_spans("# T\n![](fig.png)")
    assert [(s["kind"], s["media_ref"]) for s in spans] == [
        ("heading", None), ("image", "fig.png"),
    ]
    spans = markdown_to_spans("![a](x.png) ![b](y.png)")
    assert [s["kind"] for s in spans] == ["para"]  # no corrupt ref
    spans = markdown_to_spans("![a](x.png) (click to enlarge)")
    assert [s["kind"] for s in spans] == ["para"]
    # parenthesised refs still round-trip
    assert markdown_to_spans("![](fig(1).png)")[0]["media_ref"] == "fig(1).png"


def _lzw_encode(data: bytes) -> bytes:
    """Minimal TIFF/PDF LZW encoder (EarlyChange=1) for round-trip tests."""
    CLEAR, EOD = 256, 257
    table = {bytes([i]): i for i in range(256)}
    next_code = 258
    width = 9
    out_bits: list[tuple[int, int]] = [(CLEAR, width)]
    w = b""
    for b in bytes(data):
        c = bytes([b])
        if w + c in table:
            w += c
            continue
        out_bits.append((table[w], width))
        if next_code < 4094:  # room to grow
            table[w + c] = next_code
            next_code += 1
            if next_code + 1 >= (1 << width) and width < 12:
                width += 1
        else:  # table (nearly) full: reset, like real PDF writers
            out_bits.append((CLEAR, width))
            table = {bytes([i]): i for i in range(256)}
            next_code = 258
            width = 9
        w = c
    if w:
        out_bits.append((table[w], width))
    out_bits.append((EOD, width))
    acc = nbits = 0
    out = bytearray()
    for code, wd in out_bits:
        acc = (acc << wd) | code
        nbits += wd
        while nbits >= 8:
            out.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def test_pdf_stream_filters():
    """LZW / ASCIIHex / ASCII85 and filter CHAINS decode correctly
    (spec vector + stdlib/encoder round-trips + an end-to-end PDF)."""
    import base64
    import zlib

    from parserpdf_spark.kernels.pdf_binary import (
        _apply_filters,
        _ascii85_decode,
        _lzw_decode,
        pdf_to_blocks,
    )

    # ISO 32000 §7.4.4 worked example
    assert _lzw_decode(bytes.fromhex("800B6050220C0C8501")) == b"-----A---B"
    # round-trips against an independent encoder / the stdlib — incl. a
    # payload large enough to cross every code width AND force the
    # table-full CLEAR reset
    import random as _random

    rng = _random.Random(3)
    big = bytes(rng.randrange(256) for _ in range(20000))
    for payload in (b"", b"a", b"abcabcabcabc", bytes(range(256)) * 3,
                    b"the quick brown fox " * 50, big):
        assert _lzw_decode(_lzw_encode(payload)) == payload
        assert _ascii85_decode(base64.a85encode(payload) + b"~>") == payload

    content = b"BT /F1 12 Tf 50 700 Td (filters ok) Tj ET"
    hexed = content.hex().encode() + b">"
    assert _apply_filters(b"<< /Filter /ASCIIHexDecode >>", hexed) == content
    # chain: ASCII85(Flate(content)) applied in array order
    chained = base64.a85encode(zlib.compress(content)) + b"~>"
    assert _apply_filters(
        b"<< /Filter [/ASCII85Decode /FlateDecode] >>", chained
    ) == content

    # end-to-end: an LZW-coded page extracts
    lzw_content = _lzw_encode(content)
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
        b"3 0 obj << /Type /Page /Parent 2 0 R /MediaBox [0 0 612 842] "
        b"/Contents 4 0 R >> endobj\n"
        b"4 0 obj << /Filter /LZWDecode /Length "
        + str(len(lzw_content)).encode()
        + b" >>\nstream\n" + lzw_content + b"\nendstream endobj\n"
    )
    blocks = pdf_to_blocks(pdf)
    assert [b["text"] for b in blocks] == ["filters ok"]

    # RunLengthDecode: literal run + repeat run + EOD
    assert _apply_filters(
        b"<< /Filter /RunLengthDecode >>", b"\x02ABC\xfeZ\x80ignored"
    ) == b"ABCZZZ"

    # PNG predictors: forward-encode rows with mixed tags, then decode
    def png_predict(rows, bpp):
        prev = bytes(len(rows[0]))
        out = b""
        for tag, row in zip((0, 1, 2, 3, 4), rows):
            enc = bytearray(row)
            if tag == 1:
                for i in range(len(row) - 1, bpp - 1, -1):
                    enc[i] = (row[i] - row[i - bpp]) & 0xFF
            elif tag == 2:
                for i in range(len(row)):
                    enc[i] = (row[i] - prev[i]) & 0xFF
            elif tag == 3:
                for i in range(len(row)):
                    left = row[i - bpp] if i >= bpp else 0
                    enc[i] = (row[i] - ((left + prev[i]) >> 1)) & 0xFF
            elif tag == 4:
                for i in range(len(row)):
                    a = row[i - bpp] if i >= bpp else 0
                    b = prev[i]
                    c = prev[i - bpp] if i >= bpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (
                        b if pb <= pc else c)
                    enc[i] = (row[i] - pred) & 0xFF
            out += bytes([tag]) + bytes(enc)
            prev = row
        return out

    import random as _rng2

    r = _rng2.Random(5)
    rows = [bytes(r.randrange(256) for _ in range(12)) for _ in range(5)]
    encoded = zlib.compress(png_predict(rows, bpp=3))
    got = _apply_filters(
        b"<< /Filter /FlateDecode /Predictor 12 /Columns 4 /Colors 3 "
        b"/BitsPerComponent 8 >>", encoded,
    )
    assert got == b"".join(rows)

    # unknown filters / out-of-spec predictors keep the pre-chunker
    # contract, and truncation is never silent
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unsupported stream filter"):
        _apply_filters(b"<< /Filter /CCITTFaxDecode >>", b"x")
    with _pytest.raises(ValueError, match="invalid stream /Predictor"):
        _apply_filters(b"<< /Filter /FlateDecode /Predictor 5 /Columns 4 >>",
                       zlib.compress(bytes(8)))
    with _pytest.raises(ValueError, match="without a Flate/LZW stage"):
        _apply_filters(b"<< /Filter /RunLengthDecode /Predictor 12 >>",
                       b"\x02ABC\x80")
    with _pytest.raises(ValueError, match="multiple decompression"):
        _apply_filters(
            b"<< /Filter [/FlateDecode /LZWDecode] /Predictor 12 >>", b"x")
    # lone trailing row-tag byte = truncation, not silent drop
    with _pytest.raises(ValueError, match="truncated row"):
        _apply_filters(
            b"<< /Filter /FlateDecode /Predictor 12 /Columns 4 >>",
            zlib.compress(b"\x00ABCD\x00"))


def _mini_pdf(extra_objs: bytes, page_extra: bytes, content: bytes) -> bytes:
    return (
        b"%PDF-1.4\n"
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
        b"3 0 obj << /Type /Page /Parent 2 0 R /MediaBox [0 0 612 842] "
        + page_extra + b" /Contents 4 0 R >> endobj\n"
        b"4 0 obj << /Length " + str(len(content)).encode()
        + b" >>\nstream\n" + content + b"\nendstream endobj\n"
        + extra_objs
    )


def test_pdf_form_xobjects_extract_text():
    """Text inside a form XObject is extracted (identity and translated
    placements); scale/rotation and nesting keep the pre-chunker
    contract instead of silently misplacing or dropping text."""
    from parserpdf_spark.kernels.pdf_binary import pdf_to_blocks

    form_content = b"BT /F1 12 Tf 50 700 Td (inside form) Tj ET"
    form = (
        b"5 0 obj << /Type /XObject /Subtype /Form /BBox [0 0 612 842] "
        b"/Resources << /Font << /F1 6 0 R >> >> /Length "
        + str(len(form_content)).encode()
        + b" >>\nstream\n" + form_content + b"\nendstream endobj\n"
        b"6 0 obj << /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
        b" endobj\n"
    )
    page_extra = b"/Resources << /XObject << /Fm1 5 0 R >> >>"

    # identity placement
    blocks = pdf_to_blocks(_mini_pdf(
        form, page_extra, b"BT /F1 12 Tf 50 100 Td (page text) Tj ET\n/Fm1 Do"
    ))
    by_text = {b["text"]: b for b in blocks}
    assert "inside form" in by_text and "page text" in by_text
    assert by_text["inside form"]["bbox"][1] < by_text["page text"]["bbox"][1]

    # translated placement: q 1 0 0 1 dx dy cm /Fm1 Do Q shifts the bbox
    blocks_t = pdf_to_blocks(_mini_pdf(
        form, page_extra, b"q 1 0 0 1 100 -200 cm /Fm1 Do Q"
    ))
    base = {b["text"]: b for b in
            pdf_to_blocks(_mini_pdf(form, page_extra, b"/Fm1 Do"))}
    got = {b["text"]: b for b in blocks_t}["inside form"]["bbox"]
    want = base["inside form"]["bbox"]
    assert got[0] == want[0] + 100 and got[2] == want[2] + 100
    assert got[1] == want[1] + 200  # pdf dy=-200 → top-down y grows

    # scaled placement → ValueError (never silent misplacement)
    with pytest.raises(ValueError, match="scale/rotation"):
        pdf_to_blocks(_mini_pdf(
            form, page_extra, b"q 2 0 0 2 0 0 cm /Fm1 Do Q"
        ))


def test_pdf_inline_images_strip_and_place():
    """BI…ID…EI segments (binary payloads that could contain fake
    operator bytes) are placed as media blocks with payloads and never
    corrupt text tokenization."""
    from parserpdf_spark.kernels.pdf_binary import pdf_to_blocks_and_media

    fake = (b"\x00BT (junk) Tj ET\xff\xfe EI \x01\x02" * 8)[:192]  # 8*8 RGB
    content = (
        b"BT /F1 12 Tf 50 700 Td (before) Tj ET\n"
        b"q 64 0 0 48 100 500 cm BI /W 8 /H 8 /BPC 8 /CS /RGB ID "
        + fake + b" EI Q\n"
        b"BT /F1 12 Tf 50 100 Td (after) Tj ET"
    )
    pdf = _mini_pdf(b"", b"", content)
    blocks, media = pdf_to_blocks_and_media(pdf)
    texts = [b["text"] for b in blocks if b["text"]]
    assert texts == ["before", "after"]  # no junk text leaked through
    imgs = [b for b in blocks if b.get("media_ref")]
    assert len(imgs) == 1 and imgs[0]["media_ref"] == "_page_0_inline0.bin"
    # bbox from the CTM: x 100..164, pdf y 500..548 → top-down 294..342
    assert imgs[0]["bbox"] == [100.0, 294.0, 164.0, 342.0]
    assert media[0]["media_ref"] == "_page_0_inline0.bin"
    assert media[0]["payload"].startswith(b"\x00BT")


def test_pdf_indirect_length_resolves():
    """An INDIRECT /Length (e.g. '/Length 7 0 R') must resolve through
    the object table — the object NUMBER must never masquerade as a
    byte count and truncate the stream."""
    from parserpdf_spark.kernels.pdf_binary import pdf_to_blocks

    content = b"BT /F1 12 Tf 50 700 Td (indirect length ok) Tj ET"
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
        b"3 0 obj << /Type /Page /Parent 2 0 R /MediaBox [0 0 612 842] "
        b"/Contents 4 0 R >> endobj\n"
        b"4 0 obj << /Length 10 0 R >>\nstream\n" + content
        + b"\nendstream endobj\n"
        b"10 0 obj " + str(len(content)).encode() + b" endobj\n"
    )
    # MULTI-digit ref: regex backtracking once shrank '10' to length 1
    blocks = pdf_to_blocks(pdf)
    assert [b["text"] for b in blocks] == ["indirect length ok"]


def test_md_fence_without_blank_line():
    """CommonMark: a fence needs no preceding blank line — the code
    block must split off, never word-join into the paragraph."""
    from parserpdf_spark.kernels.md_extract import markdown_to_spans

    spans = markdown_to_spans("Intro line\n```\ncode = 1\n```")
    assert [(s["kind"], s["text"]) for s in spans] == [
        ("para", "Intro line"), ("code", "code = 1"),
    ]


def test_inline_image_exact_length_keeps_whitespace_tail():
    """Exact-length inline samples ending in whitespace-valued bytes
    (0x20/0x0A) keep every byte; predictor DecodeParms forward into the
    decode so samples come out un-tagged."""
    import zlib as _z

    from parserpdf_spark.kernels.pdf_binary import pdf_to_blocks_and_media

    # 4x2 grayscale whose samples end in 0x20 0x0A — rstrip would eat them
    samples = b"\x01\x02\x03 \x05\x06 \x0a"
    content = (
        b"BT /F1 12 Tf 50 700 Td (t) Tj ET\n"
        b"q 4 0 0 2 10 10 cm BI /W 4 /H 2 /BPC 8 /CS /G ID "
        + samples + b" EI Q"
    )
    _, media = pdf_to_blocks_and_media(_mini_pdf(b"", b"", content))
    assert media[0]["payload"] == samples

    # predictor-coded Flate inline image decodes via forwarded /DP
    rows = [b"\x10\x20\x30\x40", b"\x11\x22\x33\x44"]
    enc = b""
    prev = bytes(4)
    for row in rows:  # PNG Up rows
        enc += b"\x02" + bytes((row[i] - prev[i]) & 0xFF for i in range(4))
        prev = row
    payload = _z.compress(enc)
    content2 = (
        b"BT /F1 12 Tf 50 700 Td (t) Tj ET\n"
        b"q 4 0 0 2 10 10 cm BI /W 4 /H 2 /BPC 8 /CS /G /F /Fl "
        b"/DP << /Predictor 12 /Columns 4 >> ID "
        + payload + b" EI Q"
    )
    _, media2 = pdf_to_blocks_and_media(_mini_pdf(b"", b"", content2))
    assert media2[0]["payload"] == b"".join(rows)


def test_pdf_triage_classes():
    """Outside-subset PDFs are triaged by WHY: encrypted / needs_ocr
    (image-bearing, no text layer) / needs_prechunk (feature gap) —
    distinct routes for a 100 TB ingest (decryption vs OCR fleet vs
    external pre-chunker)."""
    row = route_file("/x/locked_4.pdf", _fixture_bytes("locked_4.pdf"))
    assert row["ingest_status"] == "encrypted"
    assert "password" in row["ingest_error"]

    row = route_file("/x/scanned_3.pdf", _fixture_bytes("scanned_3.pdf"))
    assert row["ingest_status"] == "needs_ocr"
    assert "OCR" in row["ingest_error"]

    # a feature gap (progressive-style: form with rotation) stays
    # needs_prechunk; plain garbage too
    assert route_file("/x/a.pdf", b"%PDF-1.4 junk")["ingest_status"] == \
        "needs_prechunk"

    # an image-free, text-free pdf is a feature gap, NOT needs_ocr
    empty = (b"%PDF-1.4\n1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
             b"2 0 obj\n<< /Type /Pages /Kids [4 0 R] /Count 1 >>\nendobj\n"
             b"4 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 5 0 R >>\nendobj\n"
             b"5 0 obj\n<< /Length 4 >>\nstream\nq Q\nendstream\nendobj\n")
    assert route_file("/x/empty.pdf", empty)["ingest_status"] == "needs_prechunk"


def test_pdf_per_stage_decode_parms_chained_filters():
    """A /Filter array with a /DecodeParms ARRAY applies each stage's
    own predictor (PDF 7.4.1 alignment): double-Flate with different
    per-stage PNG predictors round-trips; null entries skip a stage;
    the legacy single head-level /Predictor over multiple stages stays
    an explicit raise (ambiguous, not guessable)."""
    import zlib

    from parserpdf_spark.kernels.pdf_binary import _apply_filters

    def png_predict_up(raw: bytes, cols: int) -> bytes:
        rows = [raw[i:i + cols] for i in range(0, len(raw), cols)]
        out = bytearray()
        prev = bytes(cols)
        for r in rows:
            out += b"\x02" + bytes((a - b) & 0xFF for a, b in zip(r, prev))
            prev = r
        return bytes(out)

    raw = bytes(range(64)) * 4
    outer = zlib.compress(png_predict_up(zlib.compress(
        png_predict_up(raw, 8)), 1))
    head = (b"<< /Filter [/FlateDecode /FlateDecode] /DecodeParms "
            b"[<< /Predictor 12 /Columns 1 >> "
            b"<< /Predictor 12 /Columns 8 >>] /Length 1 >>")
    assert _apply_filters(head, outer) == raw

    outer2 = zlib.compress(png_predict_up(zlib.compress(raw), 1))
    head2 = (b"<< /Filter [/FlateDecode /FlateDecode] /DecodeParms "
             b"[<< /Predictor 12 /Columns 1 >> null] /Length 1 >>")
    assert _apply_filters(head2, outer2) == raw

    head4 = (b"<< /Filter [/FlateDecode /FlateDecode] "
             b"/Predictor 12 /Columns 8 /Length 1 >>")
    with pytest.raises(ValueError, match="no\\s+/DecodeParms array"):
        _apply_filters(head4, outer2)

    head5 = b"<< /Filter /FlateDecode /DecodeParms 9 0 R /Length 1 >>"
    with pytest.raises(ValueError, match="indirect"):
        _apply_filters(head5, zlib.compress(raw))


def test_doc_stsh_heading_styles():
    """The styled .doc fixture (STSH + PlcfBtePapx/PAPX FKP) classifies
    the Heading-1 title as <h1> and the sprmPFInTable/TTP-marked
    paragraphs as a 2x3 <table>; the style-free build stays all-<p>;
    style decode failure degrades without losing any text."""
    import re
    import struct
    import sys

    import pandas as pd

    sys.path.insert(0, os.path.join(REPO, "tools"))
    from make_file_fixtures import build_doc

    from parserpdf_spark.kernels.doc_extract import doc_to_html

    src = pd.read_parquet("/root/testdata/sf0.001/documents.parquet")
    text = dict(zip(src["doc_id"].astype(int), src["text"]))[40]
    words = [w for w in text.split(" ") if w]
    plain = doc_to_html(build_doc(40, text))
    styled = doc_to_html(build_doc(40, text, styled=True))
    assert plain.startswith("<body><article><p>")
    assert "<table>" not in plain
    assert styled.startswith("<body><article><h1>")
    assert styled.count("<h1>") == 1
    assert styled.count("<tr>") == 2 and styled.count("<td>") == 6
    assert re.findall(r"<td>(.*?)</td>", styled) == words[3:9]
    # every BODY paragraph of the plain build survives in the styled
    # one (the first <p> is the title, which styled promotes to <h1>;
    # CHPX formatting wraps runs in <strong>/<em> without text drift)
    unformat = lambda s: re.sub(r"</?(?:strong|em)>", "", s)  # noqa: E731
    for p_text in re.findall(r"<p>(.*?)</p>", plain)[1:]:
        assert f"<p>{p_text}</p>" in unformat(styled)

    # CHPX character runs: first body word bold, second italic
    assert f"<strong>{words[3]}</strong> <em>{words[4]}</em>" in styled

    # corrupt the style pointers: table/heading structure degrades but
    # ALL words survive as text
    raw = bytearray(build_doc(40, text, styled=True))
    fib_at = raw.find(struct.pack("<H", 0xA5EC))
    assert fib_at > 0
    struct.pack_into("<I", raw, fib_at + 0x0102, 0xFFFFFF00)
    degraded = doc_to_html(bytes(raw))
    assert "<table>" not in degraded and "<h1>" not in degraded
    degraded_words = re.sub(r"<[^>]+>", " ", degraded).split()
    for wd in words:
        assert wd in degraded_words

    # corrupt the CHARACTER-run pointer only: formatting degrades to
    # plain runs, paragraph/table structure and every word survive
    raw = bytearray(build_doc(40, text, styled=True))
    struct.pack_into("<I", raw, fib_at + 0x00FA, 0xFFFFFF00)
    no_chp = doc_to_html(bytes(raw))
    assert "<strong>" not in no_chp and "<em>" not in no_chp
    assert no_chp.count("<tr>") == 2 and no_chp.count("<h1>") == 1
    assert no_chp == unformat(styled)


def test_pdf_simple_font_encodings_and_type3():
    """Simple-font /Encoding machinery: /Differences glyph names (AGL
    subset + uniXXXX), /WinAnsiEncoding base (cp1252 high bytes), and
    Type3 fonts with /FontMatrix-scaled widths; unmappable names raise
    (→ pre-chunker), never silently mis-decode."""
    from parserpdf_spark.kernels.pdf_binary import pdf_to_blocks

    def one_page(font_obj, content):
        return _cid_pdf(font_obj, {}, content)

    font = (b"<< /Type /Font /Subtype /Type1 /BaseFont /Custom "
            b"/Encoding << /Differences [65 /eacute /fi 200 /emdash] >> >>")
    content = b"BT /F1 12 Tf 50 700 Td (cAB caf\\310) Tj ET"
    assert pdf_to_blocks(one_page(font, content))[0]["text"] == "céﬁ caf—"

    font2 = (b"<< /Type /Font /Subtype /TrueType /BaseFont /Arial "
             b"/Encoding /WinAnsiEncoding >>")
    content2 = b"BT /F1 12 Tf 50 700 Td (it\\222s \\226 ok) Tj ET"
    assert pdf_to_blocks(one_page(font2, content2))[0]["text"] == \
        "it’s – ok"

    font3 = (b"<< /Type /Font /Subtype /Type3 "
             b"/FontMatrix [0.001 0 0 0.001 0 0] "
             b"/FirstChar 97 /Widths [500 600] "
             b"/Encoding << /Differences [97 /a /b] >> >>")
    assert pdf_to_blocks(
        one_page(font3, b"BT /F1 12 Tf 50 700 Td (ab) Tj ET")
    )[0]["text"] == "ab"

    font5 = (b"<< /Type /Font /Subtype /Type1 /BaseFont /S "
             b"/Encoding << /Differences [65 /uni4E2D] >> >>")
    assert pdf_to_blocks(
        one_page(font5, b"BT /F1 12 Tf 50 700 Td (A) Tj ET")
    )[0]["text"] == "中"

    font4 = (b"<< /Type /Font /Subtype /Type1 /BaseFont /S "
             b"/Encoding << /Differences [65 /g123] >> >>")
    with pytest.raises(ValueError, match="unmappable glyph"):
        pdf_to_blocks(one_page(font4, content))
    # Type3 with no text mapping at all is outside the subset
    font6 = b"<< /Type /Font /Subtype /Type3 /FontMatrix [0.001 0 0 0.001 0 0] >>"
    with pytest.raises(ValueError, match="Type3"):
        pdf_to_blocks(one_page(font6, content))


def test_docx_lists_extract_as_list_spans():
    """docx w:numPr paragraphs group into <ul><li> and extract as a
    list span (doc_7: nid % 4 == 3 carries the 3-item list)."""
    import pandas as pd

    from parserpdf_spark.kernels import extract_document_safe

    html = docx_to_html(_fixture_bytes("doc_7.docx"))
    assert "<ul><li>" in html and html.count("<li>") == 3
    spans, m = extract_document_safe([
        {"kind": "html", "text": html, "media_ref": None, "offset": 0}
    ])
    assert m["status"] == "ok"
    lists = [s for s in spans if s["kind"] == "list"]
    src = pd.read_parquet("/root/testdata/sf0.001/documents.parquet")
    words = [w for w in dict(
        zip(src["doc_id"].astype(int), src["text"]))[7].split(" ") if w]
    assert lists and lists[0]["text"] == "- " + "\n- ".join(words[3:6])


def test_scanned_pdf_surfaces_page_images_for_ocr_routing():
    """A needs_ocr PDF still delivers its page images through the media
    bridge (require_text=False), and the payload decodes through the
    real JPEG codec — the exact hand-off an OCR fleet needs."""
    from parserpdf_spark.operators.multimodal import decode_image_auto
    from parserpdf_spark.sources.files import file_media_rows

    data = _fixture_bytes("scanned_3.pdf")
    assert route_file("/x/scanned_3.pdf", data)["ingest_status"] == \
        "needs_ocr"
    rows = file_media_rows("/x/scanned_3.pdf", data)
    assert len(rows) == 1
    w, h, rgb = decode_image_auto(rows[0]["payload"])
    assert (w, h) == (64, 48) and rgb.shape == (48, 64, 3)


def test_differences_glyph_rescued_by_tounicode():
    """Subset fonts use non-AGL names (/g3) in /Differences while
    shipping /ToUnicode; the raise must wait for the merge (review
    finding)."""
    from parserpdf_spark.kernels.pdf_binary import pdf_to_blocks

    tu = b"1 beginbfchar\n<41> <4E2D>\nendbfchar\n"
    tuo = (f"<< /Length {len(tu)} >>".encode()
           + b"\nstream\n" + tu + b"\nendstream")
    font = (b"<< /Type /Font /Subtype /Type1 /BaseFont /Sub "
            b"/Encoding << /Differences [65 /g3] >> /ToUnicode 100 0 R >>")
    pdf = _cid_pdf(font, {100: tuo},
                   b"BT /F1 12 Tf 50 700 Td (A) Tj ET")
    assert pdf_to_blocks(pdf)[0]["text"] == "中"


def test_doc_utf16_astral_chars_do_not_shift_style_lookup():
    """UTF-16 pieces advance 2 bytes per CODE UNIT and astral chars
    occupy two units; FC arithmetic must count units (review finding:
    a python-char index misplaced every mark after an emoji)."""
    import sys

    sys.path.insert(0, os.path.join(REPO, "tools"))
    from make_file_fixtures import build_doc

    from parserpdf_spark.kernels.doc_extract import doc_to_html

    text = ("😀emoji 🎉title here and body words follow after "
            "that point okay then")
    html = doc_to_html(build_doc(1, text, styled=True, utf16=True))
    assert html.startswith("<body><article><h1>😀emoji 🎉title here</h1>")
    assert "🎉" in html


def test_docx_blank_paragraph_does_not_split_list():
    """Word authors put empty spacing paragraphs between list items;
    the open <ul> must survive them (review finding)."""
    import io
    import zipfile
    from xml.etree import ElementTree as ET

    W = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"
    ET.register_namespace("w", W)

    def el(tag):
        return f"{{{W}}}{tag}"

    doc = ET.Element(el("document"))
    body = ET.SubElement(doc, el("body"))
    for i, item in enumerate(("alpha", "beta")):
        p = ET.SubElement(body, el("p"))
        ppr = ET.SubElement(p, el("pPr"))
        ET.SubElement(ET.SubElement(ppr, el("numPr")), el("numId"),
                      {el("val"): "1"})
        t = ET.SubElement(ET.SubElement(p, el("r")), el("t"))
        t.text = item
        if i == 0:
            ET.SubElement(body, el("p"))  # empty spacing paragraph
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("word/document.xml",
                    ET.tostring(doc, encoding="unicode"))
    html = docx_to_html(buf.getvalue())
    assert html.count("<ul>") == 1
    assert "<li>alpha</li>" in html and "<li>beta</li>" in html


def test_media_job_end_to_end(spark, tmp_path):
    """The media-pipeline spark-submit entry: fixture corpus + standalone
    media files → per-modality feature parquet with keep-with-status.
    A standalone .wav is no modality: it yields no row and no table."""
    import json
    import shutil
    import struct
    from contextlib import redirect_stdout
    import io as _io

    import numpy as np

    from parserpdf_spark.jobs.media_job import main
    from parserpdf_spark.kernels.png import encode_png
    from parserpdf_spark.operators.multimodal import encode_avi_frames

    src = tmp_path / "in"
    src.mkdir()
    for name in ("doc_31.pdf", "scanned_3.pdf", "doc_1.docx"):
        shutil.copy(os.path.join(FIXTURES, name), src)
    rng = np.random.default_rng(3)
    (src / "photo_1.png").write_bytes(
        encode_png(rng.integers(0, 256, (8, 9, 3), dtype=np.uint8)))
    pcm = rng.integers(-99, 99, 64, dtype=np.int16).tobytes()
    (src / "clip_1.wav").write_bytes(
        b"RIFF" + struct.pack("<I", 36 + len(pcm)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 16000, 32000, 2, 16)
        + b"data" + struct.pack("<I", len(pcm)) + pcm)
    (src / "vid_1.avi").write_bytes(encode_avi_frames(
        [rng.integers(0, 256, (4, 6, 3), dtype=np.uint8)
         for _ in range(3)], 6, 4))
    (src / "broken_1.jpg").write_bytes(b"\xff\xd8 truncated")

    buf = _io.StringIO()
    with redirect_stdout(buf):
        rc = main(["--input", str(src), "--output",
                   str(tmp_path / "out")], spark=spark)
    assert rc == 0
    summary = json.loads(buf.getvalue().strip().splitlines()[-1])
    # images: doc_31 embedded jpeg + scanned page jpeg + docx png +
    # standalone png decoded; the broken jpg is a decode_ok=false row
    assert summary["images"]["rows"] == 5
    assert summary["images"]["decoded"] == 4
    assert set(summary) == {"images", "video"}
    assert summary["video"]["rows"] == 2 and summary["video"]["decoded"] == 2


def test_pdf_gbk_tounicode_fallback():
    """Raw-charset predefined CMap (GBK-EUC-H) + /ToUnicode: text
    extracts through the font's own ToUnicode (codespace from its
    codespacerange, variable 1/2-byte codes) without Adobe registry
    tables; the SAME file minus its ToUnicode stays an honest triage;
    a code the ToUnicode does not cover raises (never mojibake)."""
    import sys

    sys.path.insert(0, os.path.join(REPO, "tools"))
    from make_file_fixtures import build_pdf, cjk_text

    from parserpdf_spark.kernels.pdf_binary import pdf_to_blocks

    text = cjk_text(11)
    pdf = build_pdf(11, text, compress=True, font_mode="gbk")
    blocks = pdf_to_blocks(pdf)
    got = "".join(b["text"].replace(" ", "") for b in blocks)
    for ch in set(text.replace(" ", "")):
        assert ch in got
    # title (18pt) classifies as heading over the 10pt body downstream
    assert {round(b["font_size"]) for b in blocks} == {10, 18}

    # no /ToUnicode → needs_prechunk triage, not extraction
    stripped = pdf.replace(b"/ToUnicode 101 0 R ", b"")
    row = route_file("/x/doc_11.pdf", stripped)
    assert row["ingest_status"] == "needs_prechunk"

    # a code outside the ToUnicode's coverage raises → needs_prechunk
    # (replace the title's first 2-byte code with unmapped 0xFDFD in an
    # uncompressed build, where the content stream's hex is editable)
    import re

    broken = build_pdf(11, text, compress=False, font_mode="gbk")
    broken = re.sub(rb"<([0-9A-Fa-f]{4})", rb"<FDFD", broken, count=1)
    row = route_file("/x/doc_11b.pdf", broken)
    assert row["ingest_status"] == "needs_prechunk"
    assert "not covered" in row["ingest_error"] or "registry" in row["ingest_error"]


def test_tounicode_bfrange_expansion_bounded():
    """A crafted bfrange <00000000> <FFFFFFFF> must raise (→ triage),
    never expand to a 4G-entry dict and OOM the task."""
    import pytest

    from parserpdf_spark.kernels.pdf_binary import _parse_tounicode

    hostile = (
        b"1 beginbfrange\n<00000000> <FFFFFFFF> <0020>\nendbfrange\n"
    )
    with pytest.raises(ValueError, match="budget"):
        _parse_tounicode(hostile)
    # a normal-sized range still parses
    ok = _parse_tounicode(b"1 beginbfrange\n<20> <7E> <0020>\nendbfrange\n")
    assert ok[0x20] == " " and ok[0x7E] == chr(0x20 + 0x7E - 0x20)
