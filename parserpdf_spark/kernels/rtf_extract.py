"""RTF → HTML shim kernel (pure python, stdlib only).

Legacy document corpora carry RTF alongside .doc; the format is a
plain-text control-word stream (public Microsoft RTF spec), so a
from-scratch tokenizer covers the text-bearing surface:

- groups ``{…}``, control words ``\\word[N]``, symbol escapes
  (``\\{ \\} \\\\``), hex bytes ``\\'hh`` (cp1252), unicode ``\\uN``
  with ``\\ucN`` fallback-skip counts, binary ``\\binN`` payload skip
- destination groups that carry no document text (fonttbl, colortbl,
  stylesheet, info, pict, ``{\\*\\…}`` etc.) are skipped wholesale
- ``\\par``/``\\line`` break paragraphs/lines, ``\\tab`` → space
- ``\\outlinelevelN`` classifies the paragraph as heading N+1
- table rows: ``\\cell`` closes a cell, ``\\row`` closes a row —
  emitted as ``<table><tr><td>`` like the .doc kernel

Output is the same normalized ``<body><article>…`` dialect the other
shims emit.  Not-RTF input raises ValueError → ``status="error"``.
"""

from __future__ import annotations

import re
from html import escape

from parserpdf_spark.kernels.doc_extract import table_html

_SKIP_DESTINATIONS = {
    "fonttbl", "colortbl", "stylesheet", "info", "pict", "object",
    "header", "footer", "headerl", "headerr", "headerf", "footerl",
    "footerr", "footerf", "footnote", "annotation", "xe", "tc",
    "listtable", "listoverridetable", "revtbl", "themedata",
    "colorschememapping", "datastore", "latentstyles", "generator",
}
_CW_RE = re.compile(rb"\\([a-zA-Z]+)(-?\d+)? ?|\\([^a-zA-Z])")


def rtf_to_html(data: bytes) -> str:
    src = bytes(data)
    if not src.lstrip()[:5].startswith(b"{\\rtf"):
        raise ValueError("not an RTF document (missing {\\rtf header)")

    out_parts: list[str] = ["<body><article>"]
    para: list[str] = []
    heading = 0
    rows: list[list[str]] = []
    cells: list[str] = []
    in_table_row = False

    def flush_table() -> None:
        nonlocal rows
        if rows:
            out_parts.append(table_html(rows))
            rows = []

    def close_cell() -> None:
        cells.append(escape("".join(para).strip()))
        para.clear()

    def flush_para() -> None:
        nonlocal heading
        text = "".join(para).strip()
        para.clear()
        if not text:
            heading = 0
            return
        flush_table()
        if heading:
            lvl = min(heading, 6)
            out_parts.append(f"<h{lvl}>{escape(text)}</h{lvl}>")
        else:
            out_parts.append(f"<p>{escape(text)}</p>")
        heading = 0

    i = 0
    n = len(src)
    depth = 0
    # (depth at which the skip started) or None
    skip_until_depth: int | None = None
    uc_skip = 1
    # \ucN is scoped to its RTF group (spec: "the reader ... must keep
    # a stack of counts"): save on '{', restore on '}' so a \uc inside
    # a nested group cannot leak into the enclosing text (ADVICE r4)
    uc_stack: list[int] = []
    pending_skip = 0  # chars to swallow after \uN
    while i < n:
        c = src[i]
        if c == 0x7B:  # {
            depth += 1
            uc_stack.append(uc_skip)
            i += 1
            continue
        if c == 0x7D:  # }
            depth -= 1
            if depth < 0:
                raise ValueError("unbalanced RTF groups")
            if uc_stack:
                uc_skip = uc_stack.pop()
            if skip_until_depth is not None and depth < skip_until_depth:
                skip_until_depth = None
            i += 1
            continue
        if c == 0x5C:  # backslash
            m = _CW_RE.match(src, i)
            if not m:
                i += 1
                continue
            i = m.end()
            if m.group(3) is not None:  # control symbol
                sym = m.group(3)
                if skip_until_depth is not None:
                    if sym == b"*" :
                        pass
                    continue
                if sym in (b"{", b"}", b"\\"):
                    para.append(sym.decode("latin-1"))
                elif sym == b"'":
                    hexpair = src[i : i + 2]
                    i += 2
                    if pending_skip > 0:
                        pending_skip -= 1
                        continue
                    try:
                        para.append(bytes([int(hexpair, 16)])
                                    .decode("cp1252", "replace"))
                    except ValueError:
                        pass
                elif sym == b"~":
                    para.append("\u00a0")
                elif sym == b"*":
                    # {\* …}: unknown destination — skip the group
                    skip_until_depth = depth
                elif sym in (b"\n", b"\r"):
                    pass
                continue
            word = m.group(1).decode("latin-1")
            num = int(m.group(2)) if m.group(2) else None
            if skip_until_depth is None and word in _SKIP_DESTINATIONS:
                skip_until_depth = depth
                continue
            if word == "bin":
                i += max(num or 0, 0)  # raw binary payload
                continue
            if skip_until_depth is not None:
                continue
            if word == "u":
                cp = num if num is not None else 0
                if cp < 0:
                    cp += 65536
                if not (0xD800 <= cp <= 0xDFFF) and cp <= 0x10FFFF:
                    para.append(chr(cp))
                pending_skip = uc_skip
            elif word == "uc":
                uc_skip = max(num or 0, 0)
            elif word in ("par", "line"):
                if in_table_row:
                    para.append(" ")
                else:
                    flush_para()
            elif word == "tab":
                para.append(" ")
            elif word == "outlinelevel":
                heading = (num or 0) + 1
            elif word == "trowd":
                in_table_row = True
            elif word == "cell":
                close_cell()
            elif word == "row":
                if "".join(para).strip():
                    close_cell()
                rows.append(cells)
                cells = []
                in_table_row = False
                para.clear()
            elif word in ("emdash",):
                para.append("—")
            elif word in ("endash",):
                para.append("–")
            elif word in ("lquote",):
                para.append("‘")
            elif word in ("rquote",):
                para.append("’")
            elif word in ("ldblquote",):
                para.append("“")
            elif word in ("rdblquote",):
                para.append("”")
            elif word in ("bullet",):
                para.append("•")
            # all other control words: formatting — ignored
            continue
        # plain text
        if skip_until_depth is None and c not in (0x0A, 0x0D, 0x00):
            if pending_skip > 0:
                pending_skip -= 1
            else:
                para.append(chr(c) if c < 0x80
                            else bytes([c]).decode("cp1252", "replace"))
        i += 1
    # a document truncated mid-row (or written without a trailing \row)
    # must not lose the collected cells
    if in_table_row and "".join(para).strip():
        close_cell()
    if cells:
        rows.append(cells)
        cells = []
    flush_para()
    flush_table()
    out_parts.append("</article></body>")
    return "".join(out_parts)
