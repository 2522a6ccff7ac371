"""HTML main-content extraction kernel (pure python, no Spark).

Re-implements from scratch the HTML→markdown capability the reference
obtains by delegating to Marker (``converters/pdf_to_md.py:159``; HTML
files are collected at ``utils/file_utils.py:452-463``): parse a
lightweight DOM, strip boilerplate via tag-density and link-text-ratio
heuristics, and emit ordered markdown spans
(kind ∈ heading/para/table/list/code/image/caption).

Media interleaving: the dispatcher splices ``kind="media"`` input spans
into the markup stream as ``<x-media ref="..."/>`` sentinels before
calling :func:`extract_html`, so images surface at their exact source
positions (FIXTURES.md §5, golden md lines 1/105/121/…).
"""

from __future__ import annotations

import re
from html import unescape
from html.parser import HTMLParser

from parserpdf_spark.kernels import constants as K

_WS_RE = re.compile(r"\s+")

VOID_TAGS = frozenset(
    {
        "img",
        "br",
        "hr",
        "meta",
        "link",
        "input",
        "area",
        "base",
        "col",
        "embed",
        "source",
        "track",
        "wbr",
        "x-media",
    }
)

# Opening tag → set of open ancestor tags it implicitly closes
# (HTML5 optional end tags: an unclosed <td> must not swallow the next
# <tr>, an unclosed <li> not the next <li>, …).
_AUTOCLOSE = {
    "p": {"p"},
    "li": {"li"},
    "option": {"option"},
    "td": {"td", "th"},
    "th": {"td", "th"},
    "tr": {"td", "th", "tr"},
    "thead": {"td", "th", "tr", "tbody"},
    "tbody": {"td", "th", "tr", "thead"},
    "tfoot": {"td", "th", "tr", "tbody"},
}


def _apply_autoclose(cur: Node, tag: str) -> Node:
    closees = _AUTOCLOSE.get(tag)
    if closees:
        while cur.tag in closees:
            cur = cur.parent
    return cur

HEADING_TAGS = {"h1", "h2", "h3", "h4", "h5", "h6"}


class Node:
    """One DOM element: tag, attrs, ordered children (Node | str)."""

    __slots__ = ("tag", "attrs", "children", "parent")

    def __init__(self, tag: str, attrs=None, parent=None):
        self.tag = tag
        # the fast tokenizer hands over a ready dict — don't re-copy it
        # (one dict per tag was ~5% of the HTML parse)
        self.attrs = attrs if type(attrs) is dict else dict(attrs or {})
        self.children: list = []
        self.parent = parent

    def __repr__(self):  # pragma: no cover - debug aid
        return f"<{self.tag} {len(self.children)} children>"


class _TreeBuilder(HTMLParser):
    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.root = Node("#root")
        self.cur = self.root

    def handle_starttag(self, tag, attrs):
        if tag in VOID_TAGS:
            self.cur.children.append(Node(tag, attrs, self.cur))
            return
        self.cur = _apply_autoclose(self.cur, tag)
        node = Node(tag, attrs, self.cur)
        self.cur.children.append(node)
        self.cur = node

    def handle_startendtag(self, tag, attrs):
        self.cur.children.append(Node(tag, attrs, self.cur))

    def handle_endtag(self, tag):
        if tag in VOID_TAGS:
            return
        # walk up to the matching open tag; tolerate mismatches
        node = self.cur
        while node is not self.root and node.tag != tag:
            node = node.parent
        if node is not self.root:
            self.cur = node.parent

    def handle_data(self, data):
        if data:
            self.cur.children.append(data)


# Fast tokenizer: one compiled regex over the markup instead of
# html.parser's char-scan state machine (~4× less CPU; the HTML parse is
# the extraction kernel's hot spot).  Semantics match _TreeBuilder:
# lowercase tags, entity unescape, void elements, minimal autoclose.
_TOKEN_RE = re.compile(
    r"<!--.*?-->"                                   # comments
    r"|<!\[CDATA\[.*?\]\]>"                         # cdata
    r"|<![^>]*>"                                    # doctype / decls
    r"|</\s*([a-zA-Z][-a-zA-Z0-9:_]*)\s*>"          # end tag    (g1)
    r"|<([a-zA-Z][-a-zA-Z0-9:_]*)"                  # start tag  (g2)
    r"((?:\"[^\"]*\"|'[^']*'|[^<>\"'])*?)"          # attr blob  (g3, lazy:
    r"(/?)>",                                       #  must not eat a final
    re.S,                                           #  '/' — self-close g4)
)
_ATTR_RE = re.compile(
    r"([-a-zA-Z0-9:_]+)(?:\s*=\s*(?:\"([^\"]*)\"|'([^']*)'|([^\s>]+)))?"
)


def _parse_attrs(blob: str) -> dict[str, str | None]:
    # returns a dict (last duplicate wins — same as dict(list-of-pairs))
    # that Node adopts without copying
    if not blob or blob.isspace():
        return {}
    out: dict[str, str | None] = {}
    for m in _ATTR_RE.finditer(blob):
        name, dq, sq, bare = m.groups()
        val = dq if dq is not None else (sq if sq is not None else bare)
        if val is not None and "&" in val:
            val = unescape(val)
        out[name.lower()] = val
    return out


# rawtext elements: their content is CDATA — tags inside don't nest
# (a '</div>' inside a JS string must not close anything)
RAWTEXT_TAGS = frozenset({"script", "style", "textarea", "title"})


def parse_html(markup: str) -> Node:
    """Parse markup into a lightweight DOM tree rooted at ``#root``."""
    root = Node("#root")
    cur = root
    pos = 0
    n = len(markup)
    lower = None  # lazily lowered copy for rawtext close-tag search
    it = _TOKEN_RE.finditer(markup)
    for m in it:
        start = m.start()
        if start < pos:
            continue  # token consumed by a rawtext skip
        if start > pos:
            data = markup[pos:start]
            if "&" in data:
                data = unescape(data)
            cur.children.append(data)
        pos = m.end()
        end_tag, start_tag, attr_blob, self_close = m.groups()
        if (
            start_tag is not None
            and not self_close
            and start_tag.lower() in RAWTEXT_TAGS
        ):
            # CDATA mode: take everything up to the matching close tag
            tag = start_tag.lower()
            if lower is None:
                lower = markup.lower()
            close = lower.find(f"</{tag}", pos)
            node = Node(tag, _parse_attrs(attr_blob), cur)
            if close == -1:
                node.children.append(markup[pos:])
                cur.children.append(node)
                pos = n
                break
            node.children.append(markup[pos:close])
            cur.children.append(node)
            gt = markup.find(">", close)
            pos = n if gt == -1 else gt + 1
            continue
        if end_tag is not None:
            tag = end_tag.lower()
            if tag in VOID_TAGS:
                continue
            node = cur
            while node is not root and node.tag != tag:
                node = node.parent
            if node is not root:
                cur = node.parent
        elif start_tag is not None:
            tag = start_tag.lower()
            attrs = _parse_attrs(attr_blob)
            if tag in VOID_TAGS or self_close:
                cur.children.append(Node(tag, attrs, cur))
                continue
            closees = _AUTOCLOSE.get(tag)  # inlined _apply_autoclose
            if closees:
                while cur.tag in closees:
                    cur = cur.parent
            node = Node(tag, attrs, cur)
            cur.children.append(node)
            cur = node
        # else: comment/doctype — dropped
    if pos < len(markup):
        data = markup[pos:]
        if "&" in data:
            data = unescape(data)
        cur.children.append(data)
    return root


def parse_html_stdlib(markup: str) -> Node:
    """Reference implementation on stdlib html.parser — the test
    reference the fast tokenizer is checked against
    (``tests/test_properties.py``); nothing falls back to it."""
    builder = _TreeBuilder()
    builder.feed(markup)
    builder.close()
    return builder.root


# ---------------------------------------------------------------------------
# Block statistics for boilerplate scoring
# ---------------------------------------------------------------------------

def _norm(text: str) -> str:
    return _WS_RE.sub(" ", text).strip()


def block_stats(node: Node) -> tuple[int, int, int, int]:
    """(text_chars, link_text_chars, n_links, n_tags) for a subtree.

    Iterative DFS so giant fixture docs can't hit recursion limits.
    """
    text_chars = link_chars = n_links = n_tags = 0
    stack: list[tuple[object, bool]] = [(node, False)]
    while stack:
        cur, in_link = stack.pop()
        if isinstance(cur, str):
            n = len(_norm(cur))
            text_chars += n
            if in_link:
                link_chars += n
            continue
        if cur is not node:
            n_tags += 1
        is_link = in_link or cur.tag == "a"
        if cur.tag == "a":
            n_links += 1
        for child in cur.children:
            stack.append((child, is_link))
    return text_chars, link_chars, n_links, n_tags


def is_boilerplate(node: Node) -> bool:
    """Link-farm / decoration test for a scored container.

    Implements the tag-density and link-text-ratio heuristics named in
    the north star; frozen thresholds in ``kernels/constants.py``.
    """
    text, link_text, n_links, n_tags = block_stats(node)
    if text == 0:
        # no visible text at all but plenty of markup → decoration
        return n_tags >= K.MIN_TAGS_FOR_DENSITY
    link_ratio = link_text / text
    if link_ratio >= K.LINK_RATIO_MAX and n_links >= K.MIN_LINKS_FOR_FARM:
        return True
    if node.tag in K.DENSITY_SCORED_TAGS:
        chars_per_tag = text / (n_tags + 1)
        if n_tags >= K.MIN_TAGS_FOR_DENSITY and chars_per_tag < K.MIN_CHARS_PER_TAG:
            return True
    return False


# ---------------------------------------------------------------------------
# Inline rendering (markdown)
# ---------------------------------------------------------------------------

def inline_text(node: Node) -> str:
    """Render a subtree's inline content to markdown text.

    <strong>/<b> → **…**, <em>/<i> → *…*, <code> → `…`,
    <a href> → [text](href); other inline wrappers (span, u, small, …)
    are unwrapped ("decorated text normalized", FIXTURES.md A4).
    """
    parts: list[str] = []
    for child in node.children:
        if isinstance(child, str):
            parts.append(child)
            continue
        tag = child.tag
        if tag in ("strong", "b"):
            inner = _norm(inline_text(child))
            if inner:
                parts.append(f"**{inner}**")
        elif tag in ("em", "i"):
            inner = _norm(inline_text(child))
            if inner:
                parts.append(f"*{inner}*")
        elif tag == "code":
            inner = _norm(inline_text(child))
            if inner:
                parts.append(f"`{inner}`")
        elif tag == "a":
            inner = _norm(inline_text(child))
            href = child.attrs.get("href", "")
            if inner:
                parts.append(f"[{inner}]({href})" if href else inner)
        elif tag == "br":
            parts.append(" ")
        elif tag in ("img", "x-media"):
            # inline images are lifted to their own spans by the emitter;
            # contribute nothing to the inline text.
            continue
        elif tag in K.DROP_TAGS:
            # chrome/script embedded mid-sentence must not leak into
            # extracted text
            continue
        else:
            parts.append(inline_text(child))
    return _norm(" ".join(p for p in parts if p))


# ---------------------------------------------------------------------------
# Structured emitters
# ---------------------------------------------------------------------------

def _span(kind: str, text: str, media_ref=None) -> dict:
    return {"kind": kind, "text": text, "media_ref": media_ref}


def _emit_list(node: Node, out: list, ordered: bool) -> None:
    lines: list[str] = []
    idx = 0
    for child in node.children:
        if isinstance(child, str) or child.tag != "li":
            continue
        # nested lists render as indented lines; the item's OWN text
        # must exclude them (else child text duplicates into the bullet)
        nested: list[str] = []
        own = Node("#li")
        for sub in child.children:
            if not isinstance(sub, str) and sub.tag in ("ul", "ol"):
                sub_ordered = sub.tag == "ol"
                j = 0
                for li in sub.children:
                    if isinstance(li, str) or li.tag != "li":
                        continue
                    j += 1
                    marker = f"{j}." if sub_ordered else "-"
                    nested.append(f"  {marker} {inline_text(li)}")
            else:
                own.children.append(sub)
        idx += 1
        marker = f"{idx}." if ordered else "-"
        txt = inline_text(own)
        if txt:
            lines.append(f"{marker} {txt}")
        lines.extend(nested)
    if lines:
        out.append(_span("list", "\n".join(lines)))


def _emit_table(node: Node, out: list) -> None:
    """HTML <table> → one GFM pipe-table span (golden md lines 265-284)."""
    rows: list[list[str]] = []

    def collect_rows(n: Node):
        for child in n.children:
            if isinstance(child, str):
                continue
            if child.tag == "tr":
                cells = [
                    inline_text(c).replace("|", "\\|")
                    for c in child.children
                    if not isinstance(c, str) and c.tag in ("td", "th")
                ]
                if cells:
                    rows.append(cells)
            elif child.tag in ("thead", "tbody", "tfoot"):
                collect_rows(child)

    collect_rows(node)
    if not rows:
        return
    width = max(len(r) for r in rows)
    rows = [r + [""] * (width - len(r)) for r in rows]
    lines = ["| " + " | ".join(rows[0]) + " |"]
    lines.append("|" + "|".join(["---"] * width) + "|")
    for r in rows[1:]:
        lines.append("| " + " | ".join(r) + " |")
    out.append(_span("table", "\n".join(lines)))


def _has_block_children(node: Node) -> bool:
    for child in node.children:
        if not isinstance(child, str) and child.tag in _BLOCK_TAGS:
            return True
    return False


_BLOCK_TAGS = HEADING_TAGS | {
    "p",
    "div",
    "section",
    "article",
    "main",
    "body",
    "html",
    "ul",
    "ol",
    "dl",
    "table",
    "pre",
    "blockquote",
    "figure",
    "figcaption",
    "fieldset",
    "address",
    "menu",
}


def _emit(node: Node, out: list) -> None:
    tag = node.tag
    if tag in K.DROP_TAGS:
        return
    if tag in K.SCORED_TAGS and is_boilerplate(node):
        return

    if tag in HEADING_TAGS:
        txt = inline_text(node)
        if txt:
            out.append(_span("heading", "#" * int(tag[1]) + " " + txt))
        return
    if tag == "p":
        _emit_para_with_images(node, out)
        return
    if tag in ("ul", "ol", "menu"):
        _emit_list(node, out, ordered=(tag == "ol"))
        return
    if tag == "table":
        _emit_table(node, out)
        return
    if tag == "pre":
        # fenced code block; inner <code> unwrapped, whitespace preserved
        raw = _raw_text(node)
        if raw.strip():
            out.append(_span("code", raw.strip("\n")))
        return
    if tag == "blockquote":
        txt = inline_text(node)
        if txt:
            out.append(_span("para", "> " + txt))
        return
    if tag in ("img", "x-media"):
        ref = node.attrs.get("src") or node.attrs.get("ref") or ""
        out.append(_span("image", "", ref or None))
        return
    if tag == "figcaption":
        txt = inline_text(node)
        if txt:
            out.append(_span("caption", f"**{txt}**"))
        return

    # generic container: recurse block children; wrap stray inline runs
    # (text directly under body/div/article) into para spans.
    if tag in _BLOCK_TAGS or tag in ("#root", "figure", "li", "span"):
        inline_run: list = []

        def flush_run():
            if not inline_run:
                return
            holder = Node("#run")
            holder.children = list(inline_run)
            inline_run.clear()
            _emit_para_with_images(holder, out)

        for child in node.children:
            if isinstance(child, str):
                if child.strip():
                    inline_run.append(child)
                continue
            if child.tag in _BLOCK_TAGS or child.tag in (
                "img",
                "x-media",
            ) or child.tag in K.DROP_TAGS:
                flush_run()
                _emit(child, out)
            else:
                # inline element — part of the current run unless it hides
                # block children (malformed nesting)
                if _has_block_children(child):
                    flush_run()
                    _emit(child, out)
                else:
                    inline_run.append(child)
        flush_run()
        return

    # unknown tag: treat as transparent container
    for child in node.children:
        if not isinstance(child, str):
            _emit(child, out)


def _emit_para_with_images(node: Node, out: list) -> None:
    """Emit a paragraph, lifting embedded <img>/<x-media> to image spans.

    An image in content flow becomes its own span at its position
    (FIXTURES.md A5), splitting the surrounding text if needed.
    """
    segments: list[list] = [[]]
    images: list[str | None] = []

    def has_image(n: Node) -> bool:
        stack = list(n.children)
        while stack:
            c = stack.pop()
            if not isinstance(c, str):
                if c.tag in ("img", "x-media"):
                    return True
                stack.extend(c.children)
        return False

    def walk(n: Node):
        for child in n.children:
            if isinstance(child, str):
                segments[-1].append(child)
            elif child.tag in K.DROP_TAGS:
                continue  # chrome/script inside a paragraph: drop subtree
            elif child.tag in ("img", "x-media"):
                images.append(child.attrs.get("src") or child.attrs.get("ref"))
                segments.append([])
            elif has_image(child):
                # an image nested in an inline wrapper (<a><img></a>):
                # recurse so it still surfaces at its source position
                # (the wrapper's own formatting is forfeited — the
                # media_ref contract wins)
                walk(child)
            else:
                # keep inline structure: re-wrap into a holder for rendering
                segments[-1].append(child)

    walk(node)
    for i, seg in enumerate(segments):
        holder = Node("#seg")
        holder.children = seg
        txt = inline_text(holder)
        if txt:
            out.append(_span("para", txt))
        if i < len(images):
            out.append(_span("image", "", images[i]))


def _raw_text(node: Node) -> str:
    parts: list[str] = []
    stack = [node]
    while stack:
        cur = stack.pop()
        if isinstance(cur, str):
            parts.append(cur)
        else:
            stack.extend(reversed(cur.children))
    return "".join(parts)


# ---------------------------------------------------------------------------
# Entry point
# ---------------------------------------------------------------------------

def extract_html(markup: str) -> list[dict]:
    """markup → ordered list of output spans (no offsets; dispatcher numbers).

    Equivalent capability to the reference's HTML path through Marker
    (``converters/pdf_to_md.py:159``) minus OCR/LLM: boilerplate
    stripped, structure classified, markdown emitted in document order.
    """
    root = parse_html(markup)
    out: list[dict] = []
    _emit(root, out)
    return out
