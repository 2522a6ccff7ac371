"""Legacy binary ``.doc`` (Word 97+, OLE2/CFB) → HTML shim kernel
(pure python, stdlib only).

The reference accepts ``.doc`` uploads (``globals.py:16``) and delegates
them to Marker; this container ships no OLE library, so the subset that
carries digital text is parsed from scratch per the public [MS-CFB] and
[MS-DOC] specifications:

- CFB container: 512-byte header (magic D0CF11E0…), DIFAT → FAT sector
  chains, directory entries (64-byte UTF-16 names), and the mini-stream
  (streams smaller than the cutoff live in the root entry's mini
  sectors, chained through the miniFAT)
- WordDocument stream: FIB sanity (wIdent 0xA5EC), encryption flag
  rejected, ``ccpText`` main-document length, ``fcClx/lcbClx`` pointing
  into the 0Table/1Table stream (picked by the FIB's fWhichTblStm bit)
- CLX piece table: Pcdt → PlcPcd (CP array + 8-byte PCDs); each piece
  is either compressed (cp1252, fc bit 30) or UTF-16LE

Output is the same normalized HTML dialect the docx shim emits
(``<body><article>…``) so documents flow through the one extraction
kernel.  Paragraph properties decode far enough for structure: the
STSH style sheet maps istd → sti (headings are sti 1..9) and
PlcfBtePapx → PAPX FKP pages map each paragraph mark's FC to its istd
and table sprms — styled paragraphs become ``<hN>``, and
sprmPFInTable/sprmPFTtp paragraphs (cells split at 0x07 marks, rows
closed by TTP marks) become ``<table><tr><td>``.  Character runs
decode through PlcfBteChpx → CHPX FKP pages for the two classic
toggles: sprmCFBold/sprmCFItalic runs become ``<strong>``/``<em>``.
Scope (honest): no other character properties, no embedded (OLE)
objects; style/table/character structures that fail to parse degrade
to plain paragraphs without losing text.
Anything outside the core text subset raises ValueError → the
dispatcher's ``status="error"`` contract.
"""

from __future__ import annotations

import struct

CFB_MAGIC = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"
_FREESECT = 0xFFFFFFFF
_ENDOFCHAIN = 0xFFFFFFFE
_MAX_CHAIN = 1 << 20  # cycle guard


class _Cfb:
    """Minimal read-only CFB (OLE2 compound file) accessor."""

    def __init__(self, data: bytes):
        if data[:8] != CFB_MAGIC:
            raise ValueError("not an OLE2 compound file (bad magic)")
        if len(data) < 512:
            raise ValueError("truncated OLE2 header")
        (self.sector_shift,) = struct.unpack_from("<H", data, 0x1E)
        (self.mini_shift,) = struct.unpack_from("<H", data, 0x20)
        (self.first_dir,) = struct.unpack_from("<I", data, 0x30)
        (self.mini_cutoff,) = struct.unpack_from("<I", data, 0x38)
        (self.first_minifat,) = struct.unpack_from("<I", data, 0x3C)
        (self.n_minifat,) = struct.unpack_from("<I", data, 0x40)
        self.ssz = 1 << self.sector_shift
        self.mssz = 1 << self.mini_shift
        self.data = data

        # FAT sectors from the header DIFAT (109 entries covers any file
        # small enough to be a document upload; DIFAT chaining is out of
        # scope and raises rather than misparses)
        (n_fat,) = struct.unpack_from("<I", data, 0x2C)
        (first_difat,) = struct.unpack_from("<I", data, 0x44)
        if first_difat not in (_ENDOFCHAIN, _FREESECT) or n_fat > 109:
            raise ValueError("OLE2 DIFAT chaining not supported")
        fat_sectors = [
            s for (s,) in struct.iter_unpack("<I", data[0x4C:0x4C + 109 * 4])
            if s not in (_FREESECT, _ENDOFCHAIN)
        ][:n_fat]
        fat = bytearray()
        for s in fat_sectors:
            fat += self._sector(s)
        self.fat = [v for (v,) in struct.iter_unpack("<I", bytes(fat))]

        # miniFAT
        minifat = bytearray()
        for s in self._chain(self.first_minifat):
            minifat += self._sector(s)
        self.minifat = [v for (v,) in struct.iter_unpack("<I", bytes(minifat))]

        # directory
        dirdata = bytearray()
        for s in self._chain(self.first_dir):
            dirdata += self._sector(s)
        self.entries: list[tuple[str, int, int, int]] = []  # name, type, start, size
        for off in range(0, len(dirdata) - 127, 128):
            (name_len,) = struct.unpack_from("<H", dirdata, off + 64)
            if name_len < 2 or name_len > 64:
                continue
            name = dirdata[off : off + name_len - 2].decode("utf-16-le", "replace")
            otype = dirdata[off + 66]
            (start,) = struct.unpack_from("<I", dirdata, off + 116)
            (size,) = struct.unpack_from("<Q", dirdata, off + 120)
            self.entries.append((name, otype, start, size))
        roots = [e for e in self.entries if e[1] == 5]
        if not roots:
            raise ValueError("OLE2 file without a root directory entry")
        self.root = roots[0]
        # the mini-stream lives in the root entry's (regular) chain
        self.mini_container = self._read_chain(self.root[2], self.root[3])

    def _sector(self, n: int) -> bytes:
        off = 512 + n * self.ssz
        if off + self.ssz > len(self.data):
            raise ValueError(f"OLE2 sector {n} out of range")
        return self.data[off : off + self.ssz]

    def _chain(self, start: int) -> list[int]:
        chain: list[int] = []
        cur = start
        while cur not in (_ENDOFCHAIN, _FREESECT):
            chain.append(cur)
            if len(chain) > _MAX_CHAIN:
                raise ValueError("FAT chain cycle")
            if cur >= len(self.fat):
                raise ValueError("broken FAT chain")
            cur = self.fat[cur]
        return chain

    def _read_chain(self, start: int, size: int) -> bytes:
        out = bytearray()
        for s in self._chain(start):
            out += self._sector(s)
        return bytes(out[:size])

    def _read_mini(self, start: int, size: int) -> bytes:
        out = bytearray()
        cur = start
        steps = 0
        while cur not in (_ENDOFCHAIN, _FREESECT):
            # a valid chain can't have more links than the miniFAT has
            # entries; an empty mini-container makes the size guard alone
            # insufficient (slices append nothing, so a cycle spins forever)
            steps += 1
            if steps > len(self.minifat):
                raise ValueError("miniFAT chain cycle")
            off = cur * self.mssz
            out += self.mini_container[off : off + self.mssz]
            if cur >= len(self.minifat) or len(out) > size + self.mssz * 2:
                raise ValueError("broken miniFAT chain")
            cur = self.minifat[cur]
        return bytes(out[:size])

    def stream(self, name: str) -> bytes | None:
        for ename, otype, start, size in self.entries:
            if ename == name and otype == 2:
                if size < self.mini_cutoff:
                    return self._read_mini(start, size)
                return self._read_chain(start, size)
        return None


def _clx_pieces(clx: bytes) -> list[tuple[int, int, int, bool]]:
    """CLX bytes → [(cp_start, cp_end, byte_offset, compressed)]."""
    pos = 0
    while pos < len(clx) and clx[pos] == 0x01:  # Prc entries: skip
        (cb,) = struct.unpack_from("<h", clx, pos + 1)
        if cb < 0:  # cbGrpprl is non-negative per [MS-DOC]; a negative
            # value (e.g. 0xFFFD → -3) would leave pos unchanged forever
            raise ValueError("bad Prc length in CLX")
        pos += 3 + cb
    if pos >= len(clx) or clx[pos] != 0x02:
        raise ValueError("CLX without a Pcdt piece table")
    (lcb,) = struct.unpack_from("<I", clx, pos + 1)
    plc = clx[pos + 5 : pos + 5 + lcb]
    if len(plc) < lcb:
        raise ValueError("truncated PlcPcd")
    n = (lcb - 4) // 12
    cps = _u32s(plc, n + 1)
    pieces = []
    for i in range(n):
        fc_field = struct.unpack_from("<I", plc, (n + 1) * 4 + i * 8 + 2)[0]
        compressed = bool(fc_field & 0x40000000)
        fc = fc_field & 0x3FFFFFFF
        if compressed:
            fc //= 2
        pieces.append((cps[i], cps[i + 1], fc, compressed))
    return pieces


def _doc_internals(data: bytes):
    """Shared FIB/CLX parse → (word stream, table stream, pieces,
    ccp_text)."""
    cfb = _Cfb(data)
    word = cfb.stream("WordDocument")
    if word is None or len(word) < 0x200:
        raise ValueError("no WordDocument stream (not a Word binary file)")
    (w_ident,) = struct.unpack_from("<H", word, 0)
    if w_ident != 0xA5EC:
        raise ValueError(f"bad FIB wIdent 0x{w_ident:04X}")
    (flags,) = struct.unpack_from("<H", word, 0x0A)
    if flags & 0x0100:
        raise ValueError("encrypted .doc — external pre-chunker required")
    table_name = "1Table" if flags & 0x0200 else "0Table"
    (ccp_text,) = struct.unpack_from("<I", word, 0x4C)
    (fc_clx,) = struct.unpack_from("<I", word, 0x01A2)
    (lcb_clx,) = struct.unpack_from("<I", word, 0x01A6)
    table = cfb.stream(table_name)
    if table is None or lcb_clx == 0:
        raise ValueError(f"no {table_name} stream / empty CLX")
    pieces = _clx_pieces(table[fc_clx : fc_clx + lcb_clx])
    return word, table, pieces, ccp_text


def _doc_chars(data: bytes, internals=None):
    """Decoded text runs with their FC geometry:
    [(text, [(fc_of_first_char, bytes_per_char)])] — yields (run_text,
    (fc0, step)) per piece so callers can compute any character's FC.
    ``internals`` lets a caller that already parsed the container share
    the work (the CFB walk is the expensive part)."""
    word, table, pieces, ccp_text = internals or _doc_internals(data)
    out: list[tuple[str, tuple[int, int]]] = []
    remaining = ccp_text
    for cp_start, cp_end, fc, compressed in pieces:
        if remaining <= 0:
            break
        n_cp = min(cp_end - cp_start, remaining)
        if compressed:
            raw = word[fc : fc + n_cp]
            out.append((raw.decode("cp1252", "replace"), (fc, 1)))
        else:
            raw = word[fc : fc + 2 * n_cp]
            out.append((raw.decode("utf-16-le", "replace"), (fc, 2)))
        remaining -= n_cp
    return out


# ---------------------------------------------------------------------------
# Style sheet (STSH) + paragraph properties (PlcfBtePapx / PAPX FKPs):
# just enough [MS-DOC] to classify built-in Heading-N paragraphs
# ---------------------------------------------------------------------------

def _stsh_heading_levels(stsh: bytes) -> dict[int, int]:
    """STSH bytes → {istd: heading level} for the built-in heading
    styles (sti 1..9; sti is the low 12 bits of the STD's first
    uint16).  Styles outside that set are simply absent."""
    if len(stsh) < 6:
        return {}
    (cb_stshi,) = struct.unpack_from("<H", stsh, 0)
    if cb_stshi < 2 or 2 + cb_stshi > len(stsh):
        return {}
    (cstd,) = struct.unpack_from("<H", stsh, 2)
    if cstd > 4096:
        raise ValueError("implausible STSH style count")
    pos = 2 + cb_stshi
    out: dict[int, int] = {}
    for istd in range(cstd):
        if pos + 2 > len(stsh):
            break
        (cb_std,) = struct.unpack_from("<H", stsh, pos)
        pos += 2
        if cb_std == 0:
            continue  # empty slot
        std = stsh[pos : pos + cb_std]
        pos += cb_std + (cb_std & 1)  # LPStds are 2-byte aligned
        if len(std) >= 2:
            sti = struct.unpack_from("<H", std, 0)[0] & 0x0FFF
            if 1 <= sti <= 9:
                out[istd] = sti
    return out


def _iter_sprms(grp: bytes, pos: int = 0):
    """Yield (opcode, operand bytes) over a grpprl.  Operand sizes
    follow the spra bits of each opcode ([MS-DOC] 2.2.5.1); truncated
    tails stop the walk (best-effort)."""
    while pos + 2 <= len(grp):
        (op,) = struct.unpack_from("<H", grp, pos)
        pos += 2
        spra = op >> 13
        if spra in (0, 1):
            size = 1
        elif spra in (2, 4, 5):
            size = 2
        elif spra == 7:
            size = 3
        elif spra == 3:
            size = 4
        else:  # 6: variable, first operand byte is the length
            if pos >= len(grp):
                return
            size = 1 + grp[pos]
        yield op, grp[pos : pos + size]
        pos += size


def _papx_flags(grp: bytes) -> tuple[bool, bool]:
    """Walk a PAPX grpprl (after istd) for the two table sprms:
    sprmPFInTable (0x2416) and sprmPFTtp (0x2417)."""
    in_table = ttp = False
    for op, operand in _iter_sprms(grp, 2):  # past istd
        if op == 0x2416 and operand:
            in_table = operand[0] != 0
        elif op == 0x2417 and operand:
            ttp = operand[0] != 0
    return in_table, ttp


def _u32s(buf: bytes, n: int) -> tuple[int, ...]:
    """The first ``n`` little-endian uint32s of ``buf`` (a PLC's CP or FC
    array)."""
    return struct.unpack_from(f"<{n}I", buf)


def _fkp_pages(word: bytes, plc: bytes, kind: str, max_crun: int):
    """PlcfBte{Papx,Chpx} bytes → (page, crun, rgfc) per 512-byte FKP page
    of the WordDocument stream it points to, checked against the
    bin-table: an entry inconsistent with its page raises, so the caller
    falls back to plain paragraphs (style info is best-effort)."""
    if len(plc) < 12:
        return
    n = (len(plc) - 4) // 8
    fcs = _u32s(plc, n + 1)
    for i in range(n):
        (pn,) = struct.unpack_from("<I", plc, (n + 1) * 4 + i * 4)
        pn &= 0x3FFFFF
        page = word[pn * 512 : (pn + 1) * 512]
        if len(page) < 512:
            raise ValueError(f"{kind.upper()} FKP page out of range")
        crun = page[511]
        if crun == 0 or crun > max_crun:
            raise ValueError(f"implausible {kind.upper()} FKP crun")
        rgfc = _u32s(page, crun + 1)
        if fcs[i] > rgfc[0] or fcs[i + 1] < rgfc[crun]:
            raise ValueError(f"PlcfBte{kind}/FKP fc mismatch")
        yield page, crun, rgfc


def _papx_istd_runs(
    word: bytes, plc: bytes
) -> list[tuple[int, int, int, bool, bool]]:
    """PlcfBtePapx bytes → [(fc_start, fc_lim, istd, in_table, ttp)]
    paragraph runs, resolved through the 512-byte PAPX FKP pages in the
    WordDocument stream."""
    runs: list[tuple[int, int, int, bool, bool]] = []
    for page, crun, rgfc in _fkp_pages(word, plc, "Papx", 0x65):
        for k in range(crun):
            bx = page[(crun + 1) * 4 + k * 13]
            istd = 0  # no PAPX → default properties (Normal)
            in_table = ttp = False
            if bx:
                off = bx * 2
                if off + 2 > 511:
                    raise ValueError("PAPX offset out of page")
                cb = page[off]
                if cb == 0:
                    grp = page[off + 2 : off + 2 + 2 * page[off + 1]]
                else:
                    grp = page[off + 1 : off + 1 + 2 * cb - 1]
                if len(grp) >= 2:
                    istd = struct.unpack_from("<H", grp, 0)[0]
                    in_table, ttp = _papx_flags(grp)
            runs.append((rgfc[k], rgfc[k + 1], istd, in_table, ttp))
    return runs


def _chpx_format_runs(
    word: bytes, plc: bytes
) -> list[tuple[int, int, bool, bool]]:
    """PlcfBteChpx bytes → [(fc_start, fc_lim, bold, italic)] character
    runs, resolved through the 512-byte CHPX FKP pages in the
    WordDocument stream.  Only the two classic toggles decode
    (sprmCFBold 0x0835, sprmCFItalic 0x0836); a ToggleOperand of 1 or
    0x81 reads as ON (style-level character formatting is out of scope,
    so "opposite of style" means on against the plain default)."""
    runs: list[tuple[int, int, bool, bool]] = []
    for page, crun, rgfc in _fkp_pages(word, plc, "Chpx", 0x7F):
        for k in range(crun):
            bx = page[(crun + 1) * 4 + k]
            bold = italic = False
            if bx:
                off = bx * 2
                if off >= 511:
                    raise ValueError("CHPX offset out of page")
                cb = page[off]
                grp = page[off + 1 : off + 1 + cb]
                for op, operand in _iter_sprms(grp):
                    if op == 0x0835 and operand:
                        bold = operand[0] in (1, 0x81)
                    elif op == 0x0836 and operand:
                        italic = operand[0] in (1, 0x81)
            runs.append((rgfc[k], rgfc[k + 1], bold, italic))
    return runs


# a character run (text, bold, italic), and a paragraph (its runs, its
# terminating mark, heading level, in_table, ttp)
_Segment = tuple[str, bool, bool]
_Paragraph = tuple[list[_Segment], str, int, bool, bool]


def _doc_paragraph_levels(
    data: bytes,
) -> list[_Paragraph]:
    """.doc bytes → [(segments, mark, heading level, in_table, ttp)] per
    paragraph, where ``segments`` is [(text, bold, italic)] character
    runs in order, ``mark`` is the terminating character ("\\r" for
    normal paragraphs, "\\x07" for cell/row marks, "" for an unmarked
    tail) and ``ttp`` marks a table-row terminator.  Style/table/
    character decoding is BEST-EFFORT: any inconsistency in
    STSH/PAPX/CHPX structures degrades to plain paragraphs (the text
    itself is never lost) — only the core text path raises."""
    internals = _doc_internals(data)  # raises for out-of-subset files
    runs_chars = _doc_chars(data, internals)

    heading: dict[int, int] = {}
    runs: list[tuple[int, int, int, bool, bool]] = []
    try:
        word, table, _, _ = internals
        (fc_stsh,) = struct.unpack_from("<I", word, 0x00A2)
        (lcb_stsh,) = struct.unpack_from("<I", word, 0x00A6)
        (fc_pap,) = struct.unpack_from("<I", word, 0x0102)
        (lcb_pap,) = struct.unpack_from("<I", word, 0x0106)
        if lcb_pap:
            if lcb_stsh:
                heading = _stsh_heading_levels(
                    table[fc_stsh : fc_stsh + lcb_stsh])
            runs = _papx_istd_runs(word, table[fc_pap : fc_pap + lcb_pap])
    except (ValueError, struct.error, IndexError):
        heading, runs = {}, []

    cruns: list[tuple[int, int, bool, bool]] = []
    try:
        word, table, _, _ = internals
        (fc_chp,) = struct.unpack_from("<I", word, 0x00FA)
        (lcb_chp,) = struct.unpack_from("<I", word, 0x00FE)
        if lcb_chp:
            cruns = _chpx_format_runs(word, table[fc_chp : fc_chp + lcb_chp])
    except (ValueError, struct.error, IndexError):
        cruns = []

    import bisect

    run_los = [r[0] for r in runs]  # bin-table order is fc order
    crun_los = [r[0] for r in cruns]

    def props_at(fc: int) -> tuple[int, bool, bool]:
        # binary search: a pathological file with millions of paragraph
        # marks must not go quadratic over the run list
        i = bisect.bisect_right(run_los, fc) - 1
        if 0 <= i < len(runs):
            lo, hi, istd, in_table, ttp = runs[i]
            if lo <= fc < hi:
                return heading.get(istd, 0), in_table, ttp
        return 0, False, False

    def fmt_at(fc: int) -> tuple[bool, bool]:
        i = bisect.bisect_right(crun_los, fc) - 1
        if 0 <= i < len(cruns):
            lo, hi, bold, italic = cruns[i]
            if lo <= fc < hi:
                return bold, italic
        return False, False

    paras: list[_Paragraph] = []
    segments: list[_Segment] = []
    cur: list[str] = []
    cur_fmt = (False, False)

    def close_segment() -> None:
        nonlocal cur
        if cur:
            segments.append(("".join(cur), cur_fmt[0], cur_fmt[1]))
            cur = []

    for text, (fc0, step) in runs_chars:
        off = 0  # BYTE offset within the piece: UTF-16 pieces advance 2
        # bytes per CODE UNIT, and astral chars occupy TWO units — a
        # python-char index would misplace every mark after an emoji
        for ch in text:
            units = 2 if (step == 2 and ord(ch) > 0xFFFF) else 1
            if ch in ("\r", "\x07"):
                # the paragraph MARK's properties style the paragraph;
                # 0x07 is both a paragraph mark and a cell/row mark
                level, in_table, ttp = props_at(fc0 + off)
                close_segment()
                paras.append((segments, ch, level, in_table, ttp))
                segments = []
            else:
                fmt = fmt_at(fc0 + off) if cruns else (False, False)
                if fmt != cur_fmt:
                    close_segment()
                    cur_fmt = fmt
                cur.append(ch)
            off += units * step
    close_segment()
    if segments:
        paras.append((segments, "", 0, False, False))
    return paras


def table_html(rows: list[list[str]]) -> str:
    """Rows of escaped cell texts → one ``<table>`` of ``<tr><td>`` rows,
    the table markup the .doc and RTF kernels emit."""
    return "<table>" + "".join(
        "<tr>" + "".join(f"<td>{c}</td>" for c in row) + "</tr>" for row in rows
    ) + "</table>"


def doc_to_html(data: bytes) -> str:
    """.doc bytes → normalized HTML, the same dialect the docx shim
    emits: Heading-N styled paragraphs (via STSH + PAPX istd lookup)
    become ``<hN>`` (capped at h6); table paragraphs (sprmPFInTable,
    cells split at 0x07 marks, rows closed by sprmPFTtp marks) become
    ``<table><tr><td>``; bold/italic character runs (PlcfBteChpx →
    CHPX FKP sprmCFBold/sprmCFItalic) become ``<strong>``/``<em>``
    (which the downstream HTML kernel renders as ``**…**``/``*…*``);
    everything else ``<p>``.  Style/table/character decode is
    best-effort — files without parseable structures degrade to plain
    paragraphs, never lose text."""
    from html import escape

    try:
        paras = _doc_paragraph_levels(bytes(data))
    except struct.error as exc:
        raise ValueError(f"malformed .doc structure: {exc}") from exc

    def clean(segments: list[_Segment]) -> str:
        # strip remaining Word control marks (page break 0x0C, line
        # break 0x0B → space); cell marks are handled structurally.
        # Outer whitespace trims across segment boundaries so a
        # formatted paragraph renders exactly like its plain twin.
        segs = [
            (s.replace("\x0b", " ").replace("\x0c", ""), b, i)
            for s, b, i in segments
        ]
        while segs and not segs[0][0].lstrip():
            segs.pop(0)
        if segs:
            s0, b0, i0 = segs[0]
            segs[0] = (s0.lstrip(), b0, i0)
        while segs and not segs[-1][0].rstrip():
            segs.pop()
        if segs:
            sN, bN, iN = segs[-1]
            segs[-1] = (sN.rstrip(), bN, iN)
        out = []
        for text, bold, italic in segs:
            h = escape(text)
            if italic:
                h = f"<em>{h}</em>"
            if bold:
                h = f"<strong>{h}</strong>"
            out.append(h)
        return "".join(out)

    parts = ["<body><article>"]
    rows: list[list[str]] = []      # completed rows of the open table
    cells: list[str] = []           # completed cells of the open row
    cell_buf: list[str] = []        # paragraphs of the open cell

    def flush_table() -> None:
        nonlocal rows, cells, cell_buf
        if cell_buf:  # unterminated cell (malformed): keep its text
            cells.append(" ".join(cell_buf))
        if cells:
            rows.append(cells)
        if rows:
            parts.append(table_html(rows))
        rows, cells, cell_buf = [], [], []

    for segments, mark, level, in_table, ttp in paras:
        text = clean(segments)  # already HTML-escaped + formatted
        if in_table:
            if mark == "\x07" and ttp:
                if cell_buf:
                    cells.append(" ".join(cell_buf))
                    cell_buf = []
                if text:  # text directly on a row mark (unusual)
                    cells.append(text)
                rows.append(cells)
                cells = []
            elif mark == "\x07":
                cell_buf.append(text)
                cells.append(" ".join(cell_buf))
                cell_buf = []
            else:  # \r inside a cell: another paragraph of the same cell
                if text:
                    cell_buf.append(text)
            continue
        flush_table()
        if text:
            tag = f"h{min(level, 6)}" if level else "p"
            parts.append(f"<{tag}>{text}</{tag}>")
    flush_table()
    parts.append("</article></body>")
    return "".join(parts)
