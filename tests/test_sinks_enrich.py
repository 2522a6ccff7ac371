"""Export sinks: the K1 Markdown and K2 image file layouts, and the
json/html span renderings."""

import os

from pyspark.sql import functions as F

from parserpdf_spark.operators.extract import extract_docs
from parserpdf_spark.operators.sinks import export_markdown_files
from parserpdf_spark.sources.synth import synth_docs_df


def test_export_markdown_files(spark, sf_small, tmp_path):
    out = str(tmp_path / "export")
    docs = synth_docs_df(spark, sf_small).filter(
        F.col("doc_id").isin("0", "1", "2")
    )
    extracted, _ = extract_docs(docs)
    n = export_markdown_files(extracted, out)
    assert n == 3
    # reference layout: {out}/{stem}/{stem}.md (file_utils.py:530-539)
    md = open(os.path.join(out, "0", "0.md")).read()
    assert md.startswith("# ")
    assert "|---|" in md  # doc 0 embeds a table (id%6==0)
    # doc 2 is mixed: interleaved image refs like the golden artifact
    md2 = open(os.path.join(out, "2", "2.md")).read()
    assert "![](_page_0_Picture_2.jpeg)" in md2
    refs = open(os.path.join(out, "2", "media.txt")).read().splitlines()
    assert refs == ["_page_0_Picture_2.jpeg", "_page_1_Figure_2.jpeg"]
    # pure-text doc gets no media manifest
    assert not os.path.exists(os.path.join(out, "0", "media.txt"))


def test_export_image_payloads(spark, sf_small, tmp_path):
    """K2: binary payloads land as real files in per-doc dirs with the
    exact bytes."""
    from parserpdf_spark.operators.multimodal import attach_bmp_payloads
    from parserpdf_spark.operators.sinks import export_image_payloads

    out = str(tmp_path / "media_out")
    docs = spark.read.parquet(f"{sf_small}/documents.parquet").filter(
        F.col("doc_id") < 5
    )
    media = attach_bmp_payloads(docs)
    n = export_image_payloads(media, out)
    assert n == 5
    rows = media.collect()
    assert len(os.listdir(out)) == 5
    for r in rows:
        path = os.path.join(out, r["doc_id"], r["media_ref"])
        with open(path, "rb") as fh:
            assert fh.read() == bytes(r["payload"])


def test_render_json_is_valid_and_roundtrips(spark, sf_small):
    """The json view must be *parseable* JSON whose objects reproduce
    the span rows exactly (the escaping's real contract, beyond the
    cross-engine string equality the oracle checks)."""
    import json

    from parserpdf_spark.operators.sinks import render_json_col

    docs = synth_docs_df(spark, sf_small).filter(F.col("doc_id").isin("0", "1", "2"))
    extracted, _ = extract_docs(docs)
    rendered = {r["doc_id"]: r["json"] for r in render_json_col(extracted).collect()}
    spans = {}
    for r in extracted.collect():
        spans.setdefault(r["doc_id"], []).append(
            {"kind": r["kind"], "text": r["text"] or "",
             "media_ref": r["media_ref"], "offset": r["offset"]}
        )
    for doc_id, js in rendered.items():
        parsed = json.loads(js)
        expected = sorted(spans[doc_id], key=lambda s: s["offset"])
        assert parsed == expected, doc_id


def test_render_html_structure(spark, sf_small):
    from parserpdf_spark.operators.sinks import render_html_col

    docs = synth_docs_df(spark, sf_small).filter(F.col("doc_id").isin("0", "2"))
    extracted, _ = extract_docs(docs)
    html = {r["doc_id"]: r["html"] for r in render_html_col(extracted).collect()}
    assert html["0"].startswith("<article><h1>")
    assert "<table><tr><th>" in html["0"]  # id%6==0 embeds a table
    assert "<img src=" in html["2"]  # mixed doc carries images
    assert "&" not in html["0"].replace("&amp;", "").replace("&lt;", "").replace("&gt;", "")

