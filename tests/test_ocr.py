"""Deterministic OCR kernel + routing tests (kernels/ocr.py,
sources/files.ocr_route_file).

The reference OCRs scanned PDFs through Marker when ``force_ocr`` is set
(``converters/extraction_converter.py:111-114`` →
``converters/pdf_to_md.py:159``); this engine's from-scratch equivalent
is pinned here: render → (JPEG) → recognize round trips exactly, the
reject gate keeps photographs silent, and the routing tier flips
``needs_ocr`` → ``ok`` only when text is genuinely recognizable.
"""

import os

import numpy as np
import pytest

from parserpdf_spark.kernels.jpeg import decode_jpeg_baseline, encode_jpeg_baseline
from parserpdf_spark.kernels.ocr import (
    _MAX_REJECT_FRAC,
    _REJECT_MSE,
    _TEMPLATES,
    CHARSET,
    GLYPH_H,
    ocr_image,
    ocr_page_blocks,
    ocr_page_segments,
    render_normalize,
    render_text,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OCR_CORPUS = os.path.join(REPO, "fixtures", "ocr_corpus")


def _expected(lines):
    out = [render_normalize(ln).strip() for ln in lines]
    return "\n".join(ln for ln in out if ln)


def _composite(frags, pad=12):
    h = max(t + f.shape[0] for f, t, _ in frags) + pad
    w = max(left + f.shape[1] for f, _, left in frags) + pad
    canvas = np.full((h, w), 255, np.uint8)
    for f, t, left in frags:
        region = canvas[t:t + f.shape[0], left:left + f.shape[1]]
        np.minimum(region, f, out=region)
    return canvas


# ---------------------------------------------------------------------------
# crisp round trips
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("scale", [1, 2, 3])
def test_round_trip_crisp(scale):
    lines = ["The quick brown fox", "jumps over 13 lazy dogs!"]
    assert ocr_image(render_text(lines, scale=scale)) == _expected(lines)


def test_round_trip_mixed_case_torture():
    """Case is PRESERVED, and the tightest atlas pairs (I/l at 1 px,
    1/l, c/o, h/n) recognize correctly through JPEG at every scale."""
    lines = ["Illinois Ill Bill still will I1l l1I",
             "The quick brown fox jumps over the lazy dog",
             "co ch no ho Co Ch No Ho"]
    for scale in (1, 2, 3):
        page = render_text(lines, scale=scale)
        _, _, pix = decode_jpeg_baseline(
            encode_jpeg_baseline(page, quality=85))
        assert ocr_image(pix) == _expected(lines), scale


def test_round_trip_full_charset():
    # every atlas glyph, spread over lines, survives a crisp round trip
    lines = [CHARSET[i:i + 12] for i in range(0, len(CHARSET), 12)]
    assert ocr_image(render_text(lines, scale=2)) == _expected(lines)


def test_round_trip_blank_lines_and_runs_of_spaces():
    lines = ["alpha  beta", "", "gamma", "", "", "delta epsilon"]
    assert ocr_image(render_text(lines, scale=2)) == _expected(lines)


def test_normalize_maps_outside_chars_to_spaces():
    lines = ["naïve © café — ok"]
    page = render_text(lines, scale=2)
    assert ocr_image(page) == _expected(lines)
    assert "©" not in _expected(lines)


# ---------------------------------------------------------------------------
# JPEG round trips (the production path: scans arrive as DCTDecode)
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("quality,subsample", [(95, False), (85, False),
                                               (85, True), (75, False)])
def test_round_trip_jpeg(quality, subsample):
    lines = ["Invoice no. 4711 / 2026", "total: $1,234.56 (+7.5%)"]
    page = render_text(lines, scale=2)
    rgb = np.stack([page, page, page], axis=-1)
    _, _, pix = decode_jpeg_baseline(
        encode_jpeg_baseline(rgb, quality=quality, subsample=subsample))
    assert ocr_image(pix) == _expected(lines)


def test_corpus_round_trip_through_jpeg():
    """Property-style sweep: deterministic pseudo-random pages of atlas
    words at mixed scales all round-trip through q85 JPEG exactly."""
    rng = np.random.RandomState(1234)
    vocab = ["ALPHA", "BRAVO", "CHARLIE", "DELTA", "ECHO", "FOX", "GOLF",
             "HOTEL", "INDIA", "JULIET", "KILO", "LIMA", "99", "2026",
             "X-RAY", "O'NEIL", "A+B=C", "(OK)", "100%"]
    for case in range(8):
        n_lines = int(rng.randint(1, 6))
        lines = [
            " ".join(vocab[rng.randint(len(vocab))]
                     for _ in range(rng.randint(1, 5)))
            for _ in range(n_lines)
        ]
        scale = int(rng.randint(1, 4))
        page = render_text(lines, scale=scale)
        _, _, pix = decode_jpeg_baseline(
            encode_jpeg_baseline(page, quality=85))
        assert ocr_image(pix) == _expected(lines), (case, scale, lines)


# ---------------------------------------------------------------------------
# reject gates: garbage must not transcribe
# ---------------------------------------------------------------------------

def test_noise_page_rejected():
    rng = np.random.RandomState(7)
    noise = rng.randint(0, 255, (200, 300), dtype=np.uint8)
    assert ocr_image(noise) == ""
    assert ocr_page_segments(noise) == []
    assert ocr_page_blocks(noise) == []


def test_photo_page_rejected():
    yy, xx = np.mgrid[0:160, 0:240]
    photo = (128 + 80 * np.sin(xx / 9.0) * np.cos(yy / 11.0)).astype(np.uint8)
    assert ocr_image(photo) == ""


def test_blank_page_rejected():
    assert ocr_image(np.full((100, 100), 255, np.uint8)) == ""


def test_reject_mse_calibration():
    """Both sides of the confidence gate: a crisp glyph cell matches its
    template well under the threshold; a mid-gray cell (what a
    photograph block-means to) sits above it for every template."""
    crisp = (render_text(["A"], scale=2, margin=0) < 128).astype(np.float32)
    small = crisp.reshape(GLYPH_H, 2, 5, 2).mean(axis=(1, 3))
    mses = ((small[None] - _TEMPLATES) ** 2).mean(axis=(1, 2))
    assert mses.min() < _REJECT_MSE / 3
    flat = np.full((GLYPH_H, 5), 0.5, np.float32)
    assert (((flat[None] - _TEMPLATES) ** 2).mean(axis=(1, 2))
            > _REJECT_MSE).all()
    assert 0 < _MAX_REJECT_FRAC < 1


# ---------------------------------------------------------------------------
# geometry: segments, paragraph blocks, columns, mixed scale
# ---------------------------------------------------------------------------

def test_blocks_group_paragraphs_and_split_on_blank_line():
    page = render_text(["one two", "three four", "", "five six"], scale=2)
    blocks = ocr_page_blocks(page)
    assert [b["text"] for b in blocks] == ["one two three four", "five six"]
    assert blocks[0]["scale"] == 2
    assert blocks[0]["bot"] <= blocks[1]["top"]


def test_blocks_separate_heading_scale_from_body():
    head = render_text(["Title"], scale=3, margin=0)
    body = render_text(["body line one", "body line two"], scale=2, margin=0)
    page = _composite([(head, 10, 10), (body, 50, 10)])
    blocks = ocr_page_blocks(page)
    assert [(b["scale"], b["text"]) for b in blocks] == [
        (3, "Title"), (2, "body line one body line two")]


def test_two_columns_off_grid_phase():
    """The right column is pasted off the left column's cell grid — the
    per-segment grid-phase estimate must still recognize both, and the
    paragraph grouping must keep them separate blocks."""
    left = render_text(["alpha beta", "gamma delta"], scale=2, margin=0)
    right = render_text(["one two", "three four"], scale=2, margin=0)
    page = _composite([(left, 10, 10), (right, 10, 10 + left.shape[1] + 41)])
    blocks = ocr_page_blocks(page)
    assert [b["text"] for b in blocks] == [
        "alpha beta gamma delta", "one two three four"]
    assert blocks[0]["x1"] < blocks[1]["x0"]


def test_segment_geometry_is_pixel_exact():
    page = render_text(["AB"], scale=2)  # margin 12, advance 12, glyph 10
    (seg,) = ocr_page_segments(page)
    assert (seg["top"], seg["bot"]) == (12, 26)
    assert (seg["x0"], seg["x1"]) == (12, 12 + 12 + 10)
    assert seg["text"] == "AB"


def test_render_text_rejects_bad_scale():
    with pytest.raises(ValueError):
        render_text(["x"], scale=0)


# ---------------------------------------------------------------------------
# routing tier (pure-python side of the Spark bridge)
# ---------------------------------------------------------------------------

def _fixture(name: str) -> bytes:
    with open(os.path.join(OCR_CORPUS, name), "rb") as fh:
        return fh.read()


def test_ocr_route_recognizes_scanned_pdf():
    from parserpdf_spark.sources.files import ocr_route_file, route_file

    data = _fixture("scan_0.pdf")
    assert route_file("/x/scan_0.pdf", data)["ingest_status"] == "needs_ocr"
    row = ocr_route_file("/x/scan_0.pdf", data)
    assert row["ingest_status"] == "ok"
    assert row["ingest_error"] is None
    kinds = {s["kind"] for s in row["spans"]}
    assert kinds == {"pdf_block"}
    import json

    blocks = [json.loads(s["text"]) for s in row["spans"]]
    # the heading line was rendered at scale 3, the body at scale 2:
    # font sizes must reflect that so the layout kernel ranks headings
    sizes = sorted({b["font_size"] for b in blocks})
    assert sizes == [14.0, 21.0]
    texts = " ".join(b["text"] for b in blocks)
    assert "the fast key" in texts


def test_ocr_route_multipage_order():
    import json

    from parserpdf_spark.sources.files import ocr_route_file

    row = ocr_route_file("/x/scan_1.pdf", _fixture("scan_1.pdf"))
    assert row["ingest_status"] == "ok"
    pages = [json.loads(s["text"])["page"] for s in row["spans"]]
    assert sorted(set(pages)) == [0, 1]


def test_ocr_route_photo_stays_needs_ocr():
    from parserpdf_spark.sources.files import ocr_route_file

    row = ocr_route_file("/x/scan_3.pdf", _fixture("scan_3.pdf"))
    assert row["ingest_status"] == "needs_ocr"
    assert "no recognizable text" in row["ingest_error"]
    assert row["spans"] == []


def test_ocr_route_truncated_jpeg_is_error():
    from parserpdf_spark.sources.files import ocr_route_file

    row = ocr_route_file("/x/scan_4.pdf", _fixture("scan_4.pdf"))
    assert row["ingest_status"] == "error"
    assert "ocr tier" in row["ingest_error"]


def test_ocr_route_delegates_non_pdf():
    from parserpdf_spark.sources.files import ocr_route_file, route_file

    name = next(n for n in os.listdir(OCR_CORPUS) if n.endswith(".html"))
    data = _fixture(name)
    assert ocr_route_file(f"/x/{name}", data) == route_file(f"/x/{name}", data)


def test_ocr_extraction_matches_ground_truth_text():
    """Independent anchor (not the golden): the recovered paragraph text
    equals the SOURCE words from documents.parquet under
    render_normalize — closing the loop render → JPEG → PDF → triage →
    decode → OCR → layout against the original corpus text."""
    import json

    import pandas as pd

    from parserpdf_spark.sources.files import ocr_route_file

    src = pd.read_parquet("/root/testdata/sf0.001/documents.parquet")
    by_id = dict(zip(src["doc_id"].astype(int), src["text"]))
    ids = sorted(by_id)
    words = [w for w in by_id[ids[0]].split() if w]

    row = ocr_route_file("/x/scan_0.pdf", _fixture("scan_0.pdf"))
    blocks = [json.loads(s["text"]) for s in row["spans"]]
    got = " ".join(b["text"] for b in blocks).split()
    want = [render_normalize(w) for w in words[:33]]
    assert got == want


def test_extract_job_ocr_flag(spark, tmp_path):
    """The spark-submit entry's --ocr knob (the reference's force_ocr):
    over the scanned corpus, the default run extracts only the plain
    html file while --ocr additionally extracts the recognizable scans;
    the photograph stays needs_ocr and the corrupt scan errors in both."""
    import io
    import json
    from contextlib import redirect_stdout

    from parserpdf_spark.jobs.extract_job import main

    def run(flags):
        out = str(tmp_path / ("jobout_" + "_".join(flags or ["plain"])))
        buf = io.StringIO()
        with redirect_stdout(buf):
            rc = main(
                ["--input", OCR_CORPUS, "--output", out, "--chunks", "2"]
                + flags,
                spark=spark,
            )
        assert rc == 0
        return json.loads(buf.getvalue().strip().splitlines()[-1])

    plain = run([])
    assert plain["files_by_ingest_status"] == {"ok": 1, "needs_ocr": 10}
    with_ocr = run(["--ocr"])
    assert with_ocr["files_by_ingest_status"] == {
        "ok": 9, "needs_ocr": 1, "error": 1,
    }
    assert with_ocr["docs_by_status"] == {"ok": 9}


def test_ocr_from_media_multiformat(spark):
    """Text-in-images across the codec fleet: the SAME rendered page
    encoded as PNG, BMP and JPEG OCRs identically; a noise image is
    no_text; garbage bytes are decode_error — keep-with-status."""
    import numpy as np

    from parserpdf_spark.kernels.png import encode_png
    from parserpdf_spark.operators.multimodal import encode_bmp, ocr_from_media

    page = render_text(["Figure 3: loss vs step", "see table 2"], scale=2)
    rgb = np.stack([page, page, page], axis=-1)
    rng = np.random.RandomState(3)
    noise = rng.randint(0, 255, (64, 96, 3), dtype=np.uint8)
    rows = [
        ("d1", "img.png", bytearray(encode_png(rgb))),
        ("d1", "img.bmp", bytearray(encode_bmp(rgb))),
        ("d2", "img.jpg", bytearray(encode_jpeg_baseline(rgb, quality=90))),
        ("d3", "noise.png", bytearray(encode_png(noise))),
        ("d4", "junk.bin", bytearray(b"not an image")),
    ]
    media = spark.createDataFrame(
        rows, "doc_id string, media_ref string, payload binary"
    )
    got = {
        (r["doc_id"], r["media_ref"]): (r["ocr_status"], r["ocr_text"])
        for r in ocr_from_media(media).collect()
    }
    want_text = "Figure 3: loss vs step\nsee table 2"
    assert got[("d1", "img.png")] == ("ok", want_text)
    assert got[("d1", "img.bmp")] == ("ok", want_text)
    assert got[("d2", "img.jpg")] == ("ok", want_text)
    assert got[("d3", "noise.png")] == ("no_text", None)
    assert got[("d4", "junk.bin")] == ("decode_error", None)


def test_media_job_ocr_table(spark, tmp_path):
    """media_job --ocr writes the image_ocr table: scanned-PDF page
    images OCR to their known text, non-text images report no_text."""
    import io
    import json
    from contextlib import redirect_stdout

    from parserpdf_spark.jobs.media_job import main

    out = str(tmp_path / "media")
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = main(["--input", OCR_CORPUS, "--output", out, "--ocr"],
                  spark=spark)
    assert rc == 0
    summary = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert summary["image_ocr"]["rows"] == summary["images"]["rows"] >= 8
    # the photograph page (scan_3) and the truncated payload must not
    # count as recognized
    assert 0 < summary["image_ocr"]["recognized"] <= summary["image_ocr"]["rows"] - 2
    rows = {
        (r["doc_id"], r["ocr_status"])
        for r in spark.read.parquet(out + "/image_ocr").collect()
    }
    assert ("scan_3", "no_text") in rows
    assert ("scan_4", "decode_error") in rows
    assert ("scan_0", "ok") in rows


def test_ocr_route_degenerate_placement_keeps_figure():
    """A zero-area image placement (cm with zero height) has no page
    geometry to map text into: the block stays a figure and the file
    stays needs_ocr rather than emitting collapsed-bbox text."""
    import sys

    sys.path.insert(0, os.path.join(REPO, "tools"))
    from make_file_fixtures import build_scanned_pdf_pages

    from parserpdf_spark.kernels.jpeg import encode_jpeg_baseline
    from parserpdf_spark.sources.files import ocr_route_file

    page = render_text(["hello world"], scale=2)
    jp = encode_jpeg_baseline(page, quality=90)
    pdf = build_scanned_pdf_pages([(jp, page.shape[1], page.shape[0], True)])
    h_str = str(page.shape[0]).encode()
    degenerate = pdf.replace(
        b"q %d 0 0 %s 20 20 cm" % (page.shape[1], h_str),
        b"q %d 0 0 %s 20 20 cm" % (page.shape[1], b"0" * len(h_str)),
    )
    assert degenerate != pdf
    row = ocr_route_file("/x/flat.pdf", degenerate)
    assert row["ingest_status"] == "needs_ocr"  # nothing recognized
    # the intact file recognizes normally
    assert ocr_route_file("/x/ok.pdf", pdf)["ingest_status"] == "ok"


def test_mixed_page_keeps_text_drops_noise_band():
    """A scan mixing a text region with a photo/noise strip extracts the
    text and drops the strip (band-level confidence gate) — neither
    wholesale rejection nor garbage transcription."""
    text = render_text(["hello mixed world", "second line here"], scale=2)
    rng = np.random.RandomState(7)
    canvas = np.full((text.shape[0] + 120, max(text.shape[1], 300)), 255,
                     np.uint8)
    canvas[:text.shape[0], :text.shape[1]] = text
    canvas[text.shape[0] + 10:, :300] = rng.randint(
        0, 255, (110, 300), dtype=np.uint8)
    assert ocr_image(canvas) == "hello mixed world\nsecond line here"
    blocks = ocr_page_blocks(canvas)
    assert [b["text"] for b in blocks] == [
        "hello mixed world second line here"]


def test_rotated_page_text_and_scan():
    """/Rotate support end-to-end: a 180-rotated TEXT page reads in
    reversed (visual) order; a 90-rotated SCAN uprights its pixels and
    recognizes exactly (scan_9 fixture rides the driver gate too)."""
    import json
    import sys

    sys.path.insert(0, os.path.join(REPO, "tools"))
    from make_file_fixtures import build_pdf

    from parserpdf_spark.kernels.pdf_binary import pdf_to_blocks
    from parserpdf_spark.kernels.pdf_extract import extract_pdf_blocks
    from parserpdf_spark.sources.files import ocr_route_file

    text = " ".join(f"w{i}" for i in range(40))
    pdf = build_pdf(1, text, compress=False)
    rot = pdf.replace(b"/Type /Page /Parent",
                      b"/Type /Page /Rotate 180 /Parent")

    def spans(data):
        blocks = pdf_to_blocks(data)
        return [s["text"] for s in extract_pdf_blocks(
            [(json.dumps(b), b.get("media_ref")) for b in blocks])]

    assert spans(rot) == list(reversed(spans(pdf)))

    row = ocr_route_file("/x/scan_9.pdf", _fixture("scan_9.pdf"))
    assert row["ingest_status"] == "ok"
    blocks = [json.loads(s["text"]) for s in row["spans"]]
    assert sorted({b["font_size"] for b in blocks}) == [14.0, 21.0]


def test_ocr_bilevel_scan():
    """1-bit bilevel FlateDecode (the classic scanner format, CCITT's
    pixel layout without CCITT's historical code tables): bits unpack
    MSB-first with byte-padded rows and OCR exactly."""
    from parserpdf_spark.sources.files import ocr_route_file

    row = ocr_route_file("/x/scan_8.pdf", _fixture("scan_8.pdf"))
    assert row["ingest_status"] == "ok"
    import json

    blocks = [json.loads(s["text"]) for s in row["spans"]]
    assert sorted({b["font_size"] for b in blocks}) == [14.0, 21.0]


def test_ocr_flate_raw_pixel_scan():
    """The lossless scanner class: a FlateDecode DeviceGray page image
    (no self-describing codec stream) reconstructs from the XObject's
    own geometry and OCRs exactly — crisp pixels, perfect text."""
    from parserpdf_spark.sources.files import ocr_route_file, route_file

    data = _fixture("scan_7.pdf")
    assert route_file("/x/scan_7.pdf", data)["ingest_status"] == "needs_ocr"
    row = ocr_route_file("/x/scan_7.pdf", data)
    assert row["ingest_status"] == "ok"
    import json

    blocks = [json.loads(s["text"]) for s in row["spans"]]
    assert sorted({b["font_size"] for b in blocks}) == [14.0, 21.0]
