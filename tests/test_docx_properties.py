"""Property tests for the docx shim kernel (pure python, no JVM):
random documents round-trip build_docx → docx_to_html → extraction with
structure preserved (heading text, paragraph count, table presence,
image refs)."""

import os
import sys

import pytest
from hypothesis import given, settings, strategies as st

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from parserpdf_spark.kernels.docx_extract import docx_to_html  # noqa: E402
from parserpdf_spark.kernels.extract import extract_document_safe  # noqa: E402
from tools.make_file_fixtures import build_docx  # noqa: E402

# words that survive the kernels' text normalization untouched
WORD = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyz0123456789", min_size=1, max_size=10
)


@settings(max_examples=40, deadline=None)
@given(nid=st.integers(min_value=0, max_value=10_000), words=st.lists(WORD, min_size=8, max_size=80))
def test_docx_roundtrip_structure(nid, words):
    text = " ".join(words)
    html = docx_to_html(build_docx(nid, text))
    spans, metrics = extract_document_safe(
        [{"kind": "html", "text": html, "media_ref": None, "offset": 0}]
    )
    assert metrics["status"] == "ok"
    kinds = [s["kind"] for s in spans]

    # exactly one heading, carrying the first three words
    assert kinds.count("heading") == 1
    heading = next(s for s in spans if s["kind"] == "heading")
    assert heading["text"] == "# " + " ".join(words[:3])

    # the builder's structure rules survive the round trip
    assert ("table" in kinds) == (nid % 2 == 0)
    images = [s for s in spans if s["kind"] == "image"]
    if nid % 4 == 1:
        assert [s["media_ref"] for s in images] == ["media/figure1.png"]
    else:
        assert images == []

    # offsets are dense and ordered (the span-sequence invariant)
    assert [s["offset"] for s in spans] == list(range(len(spans)))


@settings(max_examples=20, deadline=None)
@given(junk=st.binary(min_size=0, max_size=200))
def test_docx_kernel_never_raises_through_safe_path(junk):
    """Arbitrary bytes through the dispatcher's safe path must yield an
    error row, never an exception (the return-not-raise contract)."""
    from parserpdf_spark.sources.files import route_file

    row = route_file("/x/fuzz.docx", junk)
    assert row["ingest_status"] in ("ok", "error")
    if row["ingest_status"] == "error":
        assert row["spans"] == []


@settings(max_examples=30, deadline=None)
@given(junk=st.binary(min_size=0, max_size=400))
def test_warc_parser_never_crashes_uncontrolled(junk):
    """Arbitrary bytes → ValueError or records, never another exception;
    and the row-level wrapper always yields status rows."""
    from parserpdf_spark.sources.warc import iter_warc_records, warc_file_rows

    try:
        list(iter_warc_records(junk))
    except ValueError:
        pass
    rows = warc_file_rows("/x/fuzz.warc", junk)
    assert rows and all(
        r["ingest_status"] in ("ok", "skipped", "error") for r in rows
    )


@settings(max_examples=30, deadline=None)
@given(junk=st.binary(min_size=0, max_size=400))
def test_pdf_parser_never_crashes_uncontrolled(junk):
    from parserpdf_spark.kernels.pdf_binary import pdf_to_blocks
    from parserpdf_spark.sources.files import route_file

    try:
        pdf_to_blocks(b"%PDF-" + junk)
    except ValueError:
        pass
    row = route_file("/x/fuzz.pdf", junk)
    assert row["ingest_status"] in ("ok", "needs_prechunk", "encrypted",
                                    "needs_ocr")


@settings(max_examples=30, deadline=None)
@given(junk=st.binary(min_size=0, max_size=600))
def test_doc_cfb_parser_never_crashes_uncontrolled(junk):
    """Arbitrary bytes (with and without the OLE2 magic) through the
    legacy-.doc kernel → ValueError only; the route yields status rows."""
    from parserpdf_spark.kernels.doc_extract import CFB_MAGIC, doc_to_html
    from parserpdf_spark.sources.files import route_file

    for data in (junk, CFB_MAGIC + junk):
        try:
            doc_to_html(data)
        except ValueError:
            pass
        row = route_file("/x/fuzz.doc", data)
        assert row["ingest_status"] in ("ok", "error")


@settings(max_examples=30, deadline=None)
@given(junk=st.binary(min_size=0, max_size=400))
def test_encrypted_pdf_path_never_crashes_uncontrolled(junk):
    """Arbitrary bytes routed through the DECRYPTION path (an /Encrypt
    ref is always present) → only the triage statuses, never another
    exception; the handler itself raises ValueError only."""
    from parserpdf_spark.kernels.pdf_crypt import build_decryptor, file_id0
    from parserpdf_spark.sources.files import route_file

    shell = (b"%PDF-1.4\n9 0 obj\n<< /Filter /Standard /V 2 /R 3 "
             b"/P -44 /O <" + junk[:32].hex().encode() + b"> /U <"
             + junk[32:64].hex().encode() + b"> >>\nendobj\n"
             + junk + b"\ntrailer\n<< /Root 1 0 R /Encrypt 9 0 R >>\n")
    row = route_file("/x/fuzz_enc.pdf", shell)
    assert row["ingest_status"] in ("encrypted", "needs_prechunk",
                                    "needs_ocr", "ok")
    try:
        build_decryptor(junk, file_id0(junk))
    except ValueError:
        pass


@settings(max_examples=40, deadline=None)
@given(text=st.text(max_size=400))
def test_markdown_splitter_never_raises(text):
    """The .md passthrough splitter accepts ANY unicode text and yields
    only known span kinds with non-null text."""
    from parserpdf_spark.kernels.md_extract import markdown_to_spans

    spans = markdown_to_spans(text)
    kinds = {"heading", "para", "list", "table", "code", "image", "caption"}
    for s in spans:
        assert s["kind"] in kinds
        assert s["text"] is not None


@settings(max_examples=20, deadline=None)
@given(
    prefix=st.binary(min_size=0, max_size=50),
    # embed delimiter-looking noise inside a fake stream body
    noise=st.sampled_from([b"endstream", b"endobj", b"stream\r\n", b"BT", b"ET"]),
)
def test_pdf_parser_survives_delimiter_noise(prefix, noise):
    """Delimiter keywords inside stream payloads must not corrupt
    framing (streams are /Length-sized)."""
    from parserpdf_spark.kernels.pdf_binary import pdf_to_blocks

    payload = prefix + noise + b" BT /F1 10 Tf 50 700 Td (ok) Tj ET"
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
        b"3 0 obj << /Type /Page /Parent 2 0 R /MediaBox [0 0 612 842] "
        b"/Contents 4 0 R >> endobj\n"
        b"4 0 obj << /Length " + str(len(payload)).encode() + b" >>\n"
        b"stream\n" + payload + b"\nendstream endobj\n"
    )
    blocks = pdf_to_blocks(pdf)
    assert any("ok" in b["text"] for b in blocks)


@settings(max_examples=60, deadline=None)
@given(
    junk=st.binary(min_size=0, max_size=300),
    mutations=st.lists(
        st.tuples(st.integers(min_value=0, max_value=10_000),
                  st.integers(min_value=0, max_value=255)),
        min_size=0, max_size=8,
    ),
)
def test_media_codecs_never_crash_uncontrolled(junk, mutations):
    """Raw junk AND mutated-valid encodings through the BMP and AVI
    decoders → ValueError only (the keep-with-status wrappers rely on
    that contract).  The mutation arm matters: it gets PAST the header
    checks into the chunk walkers, where raw junk never reaches."""
    import numpy as np

    from parserpdf_spark.operators.multimodal import (
        decode_avi_frames,
        decode_bmp,
        encode_avi_frames,
        encode_bmp,
    )

    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, size=(5, 7, 3), dtype=np.uint8)
    frames = [rng.integers(0, 256, size=(4, 6, 3), dtype=np.uint8)
              for _ in range(3)]
    valids = [
        (decode_bmp, encode_bmp(img)),
        (decode_avi_frames, encode_avi_frames(frames, 6, 4)),
    ]
    for fn, valid in valids:
        # header-preserving mutations reach the chunk/pixel machinery
        mutated = bytearray(valid)
        for pos, val in mutations:
            mutated[12 + pos % max(1, len(mutated) - 12)] = val
        for data in (junk, valid[:12] + junk, bytes(mutated)):
            try:
                fn(data)
            except ValueError:
                pass


# ---- round-4 advisor regressions: crafted (not random) malformed inputs
# that previously escaped the ValueError-only contract or hung the task


def test_doc_cfb_misaligned_fat_raises_valueerror_not_struct_error():
    """A plausible OLE2 header (sector_shift=1 → 2-byte sectors) makes
    the FAT bytes a non-multiple of 4; struct.error must be translated
    to ValueError at the kernel boundary (keep-with-status contract)."""
    import struct

    from parserpdf_spark.kernels.doc_extract import CFB_MAGIC, doc_to_html
    from parserpdf_spark.sources.files import route_file

    data = bytearray(516)
    data[:8] = CFB_MAGIC
    struct.pack_into("<H", data, 0x1E, 1)  # sector_shift=1
    struct.pack_into("<I", data, 0x2C, 1)  # n_fat=1
    struct.pack_into("<I", data, 0x44, 0xFFFFFFFE)  # no DIFAT chaining
    struct.pack_into("<I", data, 0x4C, 0)  # DIFAT[0] = sector 0
    with pytest.raises(ValueError):
        doc_to_html(bytes(data))
    row = route_file("/x/crafted.doc", bytes(data))
    assert row["ingest_status"] == "error"


def test_doc_clx_negative_prc_length_raises():
    """cb = -3 (bytes 01 FD FF) used to leave pos unchanged → infinite
    loop; must raise ValueError immediately."""
    from parserpdf_spark.kernels.doc_extract import _clx_pieces

    with pytest.raises(ValueError, match="Prc"):
        _clx_pieces(b"\x01\xfd\xff")


def test_doc_minifat_self_loop_with_empty_container_raises():
    """minifat=[0] + empty mini-stream: the output-size guard never
    fires (empty slices), so the chain must be bounded by miniFAT length."""
    from parserpdf_spark.kernels.doc_extract import _Cfb

    cfb = _Cfb.__new__(_Cfb)
    cfb.mssz = 64
    cfb.minifat = [0]
    cfb.mini_container = b""
    with pytest.raises(ValueError, match="cycle"):
        cfb._read_mini(0, 100)


def test_md_thousands_of_consecutive_headings_no_recursion_error():
    """A generated TOC (4000 heading lines, no blank separators) must
    classify iteratively, not recurse per line."""
    from parserpdf_spark.kernels.md_extract import markdown_to_spans

    spans = markdown_to_spans("# h\n" * 4000)
    assert len(spans) == 4000
    assert {s["kind"] for s in spans} == {"heading"}


def test_bmp_variants_32bit_palette_rle8():
    """BMP breadth: 32-bit BGRA, 8-bit palette, and BI_RLE8 decode to
    expectations constructed independently in the test."""
    import struct

    import numpy as np

    from parserpdf_spark.operators.multimodal import decode_bmp

    rng = np.random.default_rng(51)
    h32, w32 = 5, 6
    bgra = rng.integers(0, 256, size=(h32, w32, 4), dtype=np.uint8)
    body = b"".join(bgra[y].tobytes() for y in range(h32 - 1, -1, -1))
    hdr = struct.pack("<2sIHHI", b"BM", 54 + len(body), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w32, h32, 1, 32, 0,
                       len(body), 0, 0, 0, 0)
    _, _, out = decode_bmp(hdr + info + body)
    assert np.array_equal(out, bgra[:, :, 2::-1])

    pal = rng.integers(0, 256, size=(16, 3), dtype=np.uint8)
    idx = rng.integers(0, 16, size=(4, 5), dtype=np.uint8)
    row_len = (5 + 3) & ~3
    body = b"".join(idx[y].tobytes() + bytes(row_len - 5)
                    for y in range(3, -1, -1))
    paltab = b"".join(bytes([int(c[2]), int(c[1]), int(c[0]), 0])
                      for c in pal)
    off = 54 + len(paltab)
    hdr = struct.pack("<2sIHHI", b"BM", off + len(body), 0, 0, off)
    info = struct.pack("<IiiHHIIiiII", 40, 5, 4, 1, 8, 0,
                       len(body), 0, 0, 16, 0)
    _, _, out = decode_bmp(hdr + info + paltab + body)
    assert np.array_equal(out, pal[idx])

    idx2 = np.array([[3, 3, 3, 7, 7], [1, 2, 2, 2, 2]], dtype=np.uint8)
    rle = b""
    for y in (1, 0):
        row = idx2[y]
        x = 0
        while x < 5:
            run = 1
            while x + run < 5 and row[x + run] == row[x]:
                run += 1
            rle += bytes([run, row[x]])
            x += run
        rle += b"\x00\x00"
    rle += b"\x00\x01"
    off = 54 + len(paltab)
    hdr = struct.pack("<2sIHHI", b"BM", off + len(rle), 0, 0, off)
    info = struct.pack("<IiiHHIIiiII", 40, 5, 2, 1, 8, 1,
                       len(rle), 0, 0, 16, 0)
    _, _, out = decode_bmp(hdr + info + paltab + rle)
    assert np.array_equal(out, pal[idx2])


def test_bmp_rle_palette_index_out_of_range_raises():
    """An RLE8 run writing an out-of-range palette index must raise
    ValueError (not IndexError)."""
    import struct

    from parserpdf_spark.operators.multimodal import decode_bmp

    paltab = bytes(16 * 4)
    rle = bytes([3, 200]) + b"\x00\x00" + b"\x00\x01"
    off = 54 + len(paltab)
    hdr = struct.pack("<2sIHHI", b"BM", off + len(rle), 0, 0, off)
    info = struct.pack("<IiiHHIIiiII", 40, 3, 1, 1, 8, 1,
                       len(rle), 0, 0, 16, 0)
    with pytest.raises(ValueError, match="palette"):
        decode_bmp(hdr + info + paltab + rle)
