"""Deterministic interleaved-docs synthesizer.

The engine's input is an Iceberg-style table ``docs(doc_id, spans)`` of
interleaved text + media documents (BASELINE.json ``input_hint``).  No
such table ships with the sandbox testdata, so this module derives one
*deterministically* from the driver-generated ``documents.parquet``
(columns doc_id/text/lang/source/n_chars): same input rows → same spans,
bit-for-bit, with no wall-clock and no global RNG.

Structure is chosen so key invariants are ALSO expressible in plain SQL
over ``documents`` (word-count formulas), giving DuckDB an
extraction-independent oracle (see ``__spark_entry__.oracle_sql``):

- family = doc_id % 3 → 0: html, 1: pdf blocks, 2: mixed (media+html)
- words  = text split on single spaces, empties dropped
- heading = first HEAD_WORDS words; paragraphs = chunks of PARA_WORDS
- expected output spans:
    heading count = 1
    para count    = ceil(max(n_words - HEAD_WORDS, 0) / PARA_WORDS)
    image count   = 0 (html) | 2*(doc_id%4==1) (pdf fig+caption adds
                    1 image + 1 caption) | 2 (mixed)

The boilerplate wrapped around html docs (nav/footer link farms) and
the scrambled offsets of pdf blocks are what the extractor must strip /
re-order; both are deterministic functions of doc_id.
"""

from __future__ import annotations

import hashlib
import json
import random
from html import escape

from parserpdf_spark.schema import SPANS_DDL, map_rows

HEAD_WORDS = 3
PARA_WORDS = 12

# bump on ANY change to the synthesized structure — bench caches
# materialized docs tables keyed by this (stale tables otherwise fail
# the bench's golden validation)
SYNTH_VERSION = 2

NAV = (
    "<nav><ul>"
    + "".join(f'<li><a href="/cat/{i}">Category {i}</a></li>' for i in range(12))
    + "</ul></nav>"
)
FOOTER = (
    "<footer><ul>"
    + "".join(f'<li><a href="/site/{i}">Site link {i}</a></li>' for i in range(8))
    + "</ul></footer>"
)

# pdf page geometry: two columns, like the golden artifact's 2-column body
LEFT_X = (50.0, 290.0)
RIGHT_X = (310.0, 550.0)
TITLE_BBOX = [50.0, 40.0, 550.0, 80.0]
BLOCK_H = 30.0
ROW_PITCH = 50.0
TOP_Y = 120.0
BODY_FONT = 10.0
TITLE_FONT = 18.0


def _words(text: str) -> list[str]:
    return [w for w in (text or "").split(" ") if w]


def _chunks(words: list[str], size: int) -> list[list[str]]:
    return [words[i : i + size] for i in range(0, len(words), size)]


def _rng(doc_id: str) -> random.Random:
    seed = int(hashlib.md5(doc_id.encode()).hexdigest()[:12], 16)
    return random.Random(seed)


def _span(kind, text, media_ref, offset):
    return {"kind": kind, "text": text, "media_ref": media_ref, "offset": offset}


def synth_html_doc(doc_id: str, text: str, numeric_id: int) -> list[dict]:
    """nav + article(h1 + table-or-list + paras) + footer, split into 2
    html spans.  Even-id html docs (id%6==0) embed a 2×3 table built
    from the first 6 words; odd (id%6==3) a 3-item list — so the table
    and list extraction kinds are exercised corpus-wide, with count
    formulas DuckDB can re-derive."""
    words = _words(text)
    head = " ".join(words[:HEAD_WORDS])
    if numeric_id % 6 == 0:
        cells = [escape(w) for w in words[:6]]
        structure = (
            "<table><tr>" + "".join(f"<th>{c}</th>" for c in cells[:3]) + "</tr>"
            "<tr>" + "".join(f"<td>{c}</td>" for c in cells[3:6]) + "</tr></table>"
        )
    else:
        items = [escape(" ".join(words[i : i + 2])) for i in (0, 2, 4)]
        structure = "<ul>" + "".join(f"<li>{i}</li>" for i in items) + "</ul>"
    paras = "".join(
        f"<p>{escape(' '.join(c))}</p>" for c in _chunks(words[HEAD_WORDS:], PARA_WORDS)
    )
    part1 = f"<body>{NAV}<article><h1>{escape(head)}</h1>{structure}"
    part2 = f"{paras}</article>{FOOTER}</body>"
    return [_span("html", part1, None, 0), _span("html", part2, None, 1)]


def synth_pdf_doc(doc_id: str, text: str, numeric_id: int) -> list[dict]:
    """Title block + 2-column body blocks, offsets scrambled; every
    (id%4==1) doc gets a figure + caption pair on page 0."""
    words = _words(text)
    head = " ".join(words[:HEAD_WORDS])
    blocks = [
        {"page": 0, "bbox": TITLE_BBOX, "font_size": TITLE_FONT,
         "text": head, "block_type_hint": None}
    ]
    refs: list[str | None] = [None]
    per_col_rows = 6  # rows per column per page before rolling to next page
    for i, chunk in enumerate(_chunks(words[HEAD_WORDS:], PARA_WORDS)):
        page = i // (2 * per_col_rows)
        slot = i % (2 * per_col_rows)
        col = 0 if slot < per_col_rows else 1
        row = slot % per_col_rows
        x0, x1 = LEFT_X if col == 0 else RIGHT_X
        y0 = TOP_Y + row * ROW_PITCH
        blocks.append(
            {"page": page, "bbox": [x0, y0, x1, y0 + BLOCK_H],
             "font_size": BODY_FONT, "text": " ".join(chunk),
             "block_type_hint": None}
        )
        refs.append(None)
    if numeric_id % 4 == 1:
        fig_y = TOP_Y + per_col_rows * ROW_PITCH + 40.0
        blocks.append(
            {"page": 0, "bbox": [50.0, fig_y, 550.0, fig_y + 120.0],
             "font_size": BODY_FONT, "text": "", "block_type_hint": "figure"}
        )
        refs.append(f"_page_0_Figure_{numeric_id % 7}.jpeg")
        blocks.append(
            {"page": 0, "bbox": [50.0, fig_y + 122.0, 550.0, fig_y + 140.0],
             "font_size": 9.0, "text": f"Fig. {numeric_id % 7} synthetic figure.",
             "block_type_hint": None}
        )
        refs.append(None)

    offsets = list(range(len(blocks)))
    _rng(doc_id).shuffle(offsets)
    return [
        _span("pdf_block", json.dumps(b), r, o)
        for b, r, o in zip(blocks, refs, offsets)
    ]


def synth_mixed_doc(doc_id: str, text: str, numeric_id: int) -> list[dict]:
    """Leading media + html content (with a fenced code block) split
    around a second media span (FIXTURES.md family C: images at exact
    source positions; the code block exercises kind='code' corpus-wide)."""
    words = _words(text)
    head = " ".join(words[:HEAD_WORDS])
    # guard tiny/empty docs — a raw index error here would fail the TASK,
    # not the row (the synth generator runs outside extract_document_safe)
    w0 = words[0] if words else "empty"
    w1 = words[1] if len(words) > 1 else w0
    code = (
        "<pre><code>"
        f"{escape(w0)} = {numeric_id}\n{escape(w1)} = {numeric_id % 7}"
        "</code></pre>"
    )
    chunks = _chunks(words[HEAD_WORDS:], PARA_WORDS)
    mid = (len(chunks) + 1) // 2
    paras1 = "".join(f"<p>{escape(' '.join(c))}</p>" for c in chunks[:mid])
    paras2 = "".join(f"<p>{escape(' '.join(c))}</p>" for c in chunks[mid:])
    return [
        _span("media", None, f"_page_0_Picture_{numeric_id % 5}.jpeg", 0),
        _span("html", f"<body><article><h1>{escape(head)}</h1>{code}{paras1}",
              None, 1),
        _span("media", None, f"_page_1_Figure_{numeric_id % 5}.jpeg", 2),
        _span("html", f"{paras2}</article></body>", None, 3),
    ]


def synth_doc(numeric_id: int, text: str) -> list[dict]:
    doc_id = str(numeric_id)
    family = numeric_id % 3
    if family == 0:
        return synth_html_doc(doc_id, text, numeric_id)
    if family == 1:
        return synth_pdf_doc(doc_id, text, numeric_id)
    return synth_mixed_doc(doc_id, text, numeric_id)


DOCS_DDL = f"doc_id string, spans {SPANS_DDL}"


def synth_docs_df(
    spark,
    sf_dir: str,
    giant_doc_ids=None,
    giant_spans: int = 0,
    replicate: int = 1,
    partitions: int | None = None,
):
    """Spark path: documents.parquet → interleaved docs DataFrame.

    ``giant_doc_ids``/``giant_spans`` optionally inflate chosen docs to
    ``giant_spans`` html spans each (skew knob, FIXTURES.md §6).

    ``replicate`` deterministically expands the corpus ×k for bench runs
    (replica r of doc d gets doc_id "d_r{r}" with identical spans).

    The scan is repartitioned to ``partitions`` (default: the session's
    parallelism): the sandbox table is one tiny parquet split, whereas a
    real 10^12-doc table scans as millions of splits — without this the
    single Python task would serialize the whole corpus.
    """
    from pyspark.sql import functions as F

    giant = {str(g) for g in (giant_doc_ids or [])}
    n_giant = int(giant_spans)

    def row(numeric_id, text, rep):
        doc_id = f"{numeric_id}_r{rep}" if rep else str(numeric_id)
        if doc_id in giant:
            spans = [
                _span("html", f"<p>giant {doc_id} chunk {j} filler text</p>",
                      None, j)
                for j in range(n_giant)
            ]
        else:
            spans = synth_doc(int(numeric_id), text)
        return ({"doc_id": doc_id, "spans": spans},)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    if replicate > 1:
        rep = F.explode(F.sequence(F.lit(0), F.lit(int(replicate) - 1)))
    else:
        rep = F.lit(0)
    docs = docs.withColumn("rep", rep)
    n_parts = partitions or spark.sparkContext.defaultParallelism
    return map_rows(docs.repartition(n_parts), ["doc_id", "text", "rep"], row,
                    DOCS_DDL)
