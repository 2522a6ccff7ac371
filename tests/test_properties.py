"""Property-based tests (hypothesis) for the extraction kernels — the
test class the reference entirely lacks (SURVEY.md §5).

Invariants: the dispatcher never raises through the safe wrapper,
output offsets are always dense 0..n-1, media refs are preserved
exactly and in order, output kinds stay in the output domain, and
html-span splitting never changes the result (A6 generalized)."""

import json

from hypothesis import given, settings, strategies as st

from parserpdf_spark.kernels.extract import extract_document, extract_document_safe

# every kind the extraction kernels emit
OUTPUT_KINDS = ("heading", "para", "table", "list", "code", "image", "caption")

words = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyz", min_size=1, max_size=8
)
texts = st.lists(words, min_size=1, max_size=30).map(" ".join)


@st.composite
def html_markup(draw):
    parts = draw(
        st.lists(
            st.one_of(
                texts.map(lambda t: f"<p>{t}</p>"),
                texts.map(lambda t: f"<h2>{t}</h2>"),
                st.lists(words, min_size=1, max_size=4).map(
                    lambda ws: "<ul>" + "".join(f"<li>{w}</li>" for w in ws) + "</ul>"
                ),
                words.map(lambda w: f'<img src="{w}.png">'),
                texts,  # stray text
            ),
            min_size=0,
            max_size=6,
        )
    )
    return "<body>" + "".join(parts) + "</body>"


@st.composite
def pdf_block_span(draw, offset):
    page = draw(st.integers(0, 3))
    x0 = draw(st.floats(0, 500, allow_nan=False))
    y0 = draw(st.floats(0, 700, allow_nan=False))
    return {
        "kind": "pdf_block",
        "text": json.dumps(
            {
                "page": page,
                "bbox": [x0, y0, x0 + draw(st.floats(10, 200)), y0 + 20.0],
                "font_size": draw(st.sampled_from([9.0, 10.0, 14.0, 18.0])),
                "text": draw(texts),
                "block_type_hint": None,
            }
        ),
        "media_ref": None,
        "offset": offset,
    }


@st.composite
def doc_spans(draw):
    n = draw(st.integers(0, 8))
    spans = []
    for i in range(n):
        which = draw(st.integers(0, 2))
        if which == 0:
            spans.append(
                {"kind": "html", "text": draw(html_markup()), "media_ref": None,
                 "offset": i}
            )
        elif which == 1:
            spans.append(draw(pdf_block_span(i)))
        else:
            spans.append(
                {"kind": "media", "text": None,
                 "media_ref": f"_page_{i}_Figure_1.jpeg", "offset": i}
            )
    return spans


@given(doc_spans())
@settings(max_examples=150, deadline=None)
def test_safe_never_raises_and_invariants(spans):
    out, metrics = extract_document_safe(spans)
    assert metrics["status"] == "ok"
    # dense offsets
    assert [s["offset"] for s in out] == list(range(len(out)))
    # closed output kind domain
    assert all(s["kind"] in OUTPUT_KINDS for s in out)
    # standalone media refs preserved in order
    in_refs = [s["media_ref"] for s in spans if s["kind"] == "media"]
    out_refs = [s["media_ref"] for s in out if s["kind"] == "image"]
    for r in in_refs:
        assert r in out_refs
    # counters consistent
    assert metrics["n_output_spans"] == len(out)
    assert metrics["n_images"] == len(out_refs)


@given(html_markup(), st.integers(1, 5))
@settings(max_examples=100, deadline=None)
def test_split_invariance(markup, n_cuts):
    """Splitting one html document across input spans at ARBITRARY byte
    positions must not change the output (stronger than A6's
    tag-boundary splits, thanks to the sentinel-free concat)."""
    whole = extract_document(
        [{"kind": "html", "text": markup, "media_ref": None, "offset": 0}]
    )
    step = max(1, len(markup) // (n_cuts + 1))
    pieces = [markup[i : i + step] for i in range(0, len(markup), step)]
    split = extract_document(
        [
            {"kind": "html", "text": p, "media_ref": None, "offset": i}
            for i, p in enumerate(pieces)
        ]
    )
    assert split == whole


@given(html_markup())
@settings(max_examples=120, deadline=None)
def test_fast_tokenizer_equals_stdlib_tree(markup):
    """The regex tokenizer must build the same tree as the stdlib
    html.parser reference builder (parse_html_stdlib) — the safety net
    for the 4× fast path."""
    from parserpdf_spark.kernels.html_extract import parse_html, parse_html_stdlib

    def sig(node):
        if isinstance(node, str):
            return ("#t", node)
        return (
            node.tag,
            tuple(sorted(node.attrs.items())),
            tuple(sig(c) for c in node.children),
        )

    assert sig(parse_html(markup)) == sig(parse_html_stdlib(markup))


def test_rawtext_script_does_not_leak():
    """Markup-like strings inside <script>/<style> must not corrupt the
    DOM (CDATA semantics; found by review, repro'd, fixed)."""
    from parserpdf_spark.kernels.html_extract import extract_html

    spans = extract_html(
        '<body><div><script>var a = "</div>"; if (a<b) {}</script>'
        "<p>hi</p></div></body>"
    )
    assert [(s["kind"], s["text"]) for s in spans] == [("para", "hi")]
    spans = extract_html("<body><style>p > a {}</style><p>ok</p></body>")
    assert [(s["kind"], s["text"]) for s in spans] == [("para", "ok")]
    # unterminated rawtext swallows the rest, emits nothing
    assert extract_html("<body><script>var x = '<p>no</p>'") == []


def test_image_nested_in_inline_wrapper_surfaces():
    """<a><img></a> inside a paragraph must still emit the image span
    (found by review, repro'd, fixed)."""
    from parserpdf_spark.kernels.html_extract import extract_html

    spans = extract_html(
        '<body><p>see <a href="x"><img src="pic.png"></a> here</p></body>'
    )
    assert [(s["kind"], s["media_ref"]) for s in spans] == [
        ("para", None),
        ("image", "pic.png"),
        ("para", None),
    ]


@given(st.lists(st.integers(0, 100), min_size=1, max_size=40, unique=True))
@settings(max_examples=60, deadline=None)
def test_pdf_offset_scramble_invariance(offsets):
    """pdf_block reading order must not depend on input span order."""
    blocks = [
        {"kind": "pdf_block",
         "text": json.dumps({"page": 0, "bbox": [50.0, 50.0 + 30 * i, 300.0,
                                                 70.0 + 30 * i],
                             "font_size": 10.0, "text": f"block {i}",
                             "block_type_hint": None}),
         "media_ref": None, "offset": off}
        for i, off in enumerate(offsets)
    ]
    a = extract_document(list(blocks))
    b = extract_document(list(reversed(blocks)))
    assert a == b
    assert [s["text"] for s in a] == [f"block {i}" for i in range(len(offsets))]