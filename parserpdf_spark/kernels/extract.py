"""Per-document extraction dispatcher (pure python, no Spark).

The Spark analog of the reference's per-document map
``convert_files → extract → converter(src_path)``
(``converters/pdf_to_md.py:121-250``): takes one document's input spans
(kind ∈ html / pdf_block / media), routes them to the HTML and PDF
kernels, interleaves media at exact source positions, renumbers output
offsets densely, and captures errors as a status instead of raising
(the reference's return-not-raise contract, ``pdf_to_md.py:240-243``).
"""

from __future__ import annotations

from html import escape
from typing import Any

from parserpdf_spark.kernels.html_extract import extract_html
from parserpdf_spark.kernels.md_extract import markdown_to_spans
from parserpdf_spark.kernels.pdf_extract import extract_pdf_blocks

def _sorted_spans(spans: list[dict]) -> list[dict]:
    # stable sort on offset; ties keep input order (total order per SURVEY §7.4-1)
    return sorted(
        list(spans), key=lambda s: (s.get("offset") is None, s.get("offset", 0))
    )


def extract_document(spans: list[dict[str, Any]]) -> list[dict[str, Any]]:
    """One document's input spans → ordered output spans with dense offsets.

    Segmentation semantics (FIXTURES.md §3-§5):

    - Contiguous ``html`` spans form one markup stream, concatenated in
      offset order (split-at-tag-boundary docs reassemble, case A6).
      ``media`` spans inside an html run are spliced in as
      ``<x-media ref="…"/>`` sentinels so images surface at their exact
      source position even when an element spans input chunks (C1/C2).
    - Contiguous ``pdf_block`` spans form one layout run; offset order is
      ignored inside the run (bbox gives reading order, family B).  A
      ``media`` span breaks the run — it is an interleave point (C2).
    - Contiguous ``markdown`` spans form one passthrough stream
      (the reference collects .md files as-is,
      ``utils/file_utils.py:465-471``); ``media`` spans inside it splice
      in as ``![](ref)`` blocks at their source position.
    - ``media`` spans outside any run become standalone image spans.

    Raises on malformed input; use :func:`extract_document_safe` in the
    pipeline.
    """
    out: list[dict] = []
    html_parts: list[str] = []
    pdf_parts: list[tuple[str, str | None]] = []
    md_parts: list[str] = []

    def flush_html():
        if html_parts:
            out.extend(extract_html("".join(html_parts)))
            html_parts.clear()

    def flush_pdf():
        if pdf_parts:
            out.extend(extract_pdf_blocks(list(pdf_parts)))
            pdf_parts.clear()

    def flush_md():
        if md_parts:
            out.extend(markdown_to_spans("".join(md_parts)))
            md_parts.clear()

    for span in _sorted_spans(spans):
        kind = span.get("kind")
        if kind == "html":
            flush_pdf()
            flush_md()
            text = span.get("text")
            if text is None:
                raise ValueError("html span with null text")
            html_parts.append(text)
        elif kind == "pdf_block":
            flush_html()
            flush_md()
            text = span.get("text")
            if text is None:
                raise ValueError("pdf_block span with null text")
            pdf_parts.append((text, span.get("media_ref")))
        elif kind == "markdown":
            flush_html()
            flush_pdf()
            text = span.get("text")
            if text is None:
                raise ValueError("markdown span with null text")
            md_parts.append(text)
        elif kind == "media":
            ref = span.get("media_ref")
            if ref is None:
                raise ValueError("media span with null media_ref")
            if html_parts:
                html_parts.append(f'<x-media ref="{escape(ref, quote=True)}"/>')
            elif md_parts:
                md_parts.append(f"\n\n![]({ref})\n\n")
            else:
                flush_pdf()
                out.append({"kind": "image", "text": "", "media_ref": ref})
        else:
            raise ValueError(f"unknown span kind: {kind!r}")
    flush_html()
    flush_pdf()
    flush_md()

    for i, span in enumerate(out):
        span["offset"] = i
    return out


def extract_document_safe(
    spans: list[dict[str, Any]] | None,
) -> tuple[list[dict], dict]:
    """(output_spans, metrics) — never raises.

    metrics mirrors the reference's per-doc result dict
    (``converters/pdf_to_md.py:189``: file/images/paths) with an explicit
    status channel replacing its error-string returns (``:243``).
    """
    spans = list(spans) if spans is not None else []
    try:
        out = extract_document(spans)
        status, error = "ok", None
    except Exception as exc:  # row-level capture: never fail the task
        out = []
        status, error = "error", f"{type(exc).__name__}: {exc}"
    metrics = {
        "status": status,
        "error": error,
        "n_input_spans": len(spans),
        "n_output_spans": len(out),
        "n_images": sum(1 for s in out if s["kind"] == "image"),
    }
    return out, metrics
